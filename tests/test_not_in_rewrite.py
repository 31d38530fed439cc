"""The Spark-side NOT EXISTS twins of NOT IN subqueries must keep NOT
IN's NULL semantics: a row whose outer key is NULL is dropped (NULL NOT
IN a non-empty set is NULL, not TRUE)."""

from __future__ import annotations

import duckdb

from flink_release_1_16_0_spark.queries import tpch_full


def test_q16_null_suppkey_matches_not_in(spark):
    # the NULL-l_suppkey line is the only row of its (brand, type, size)
    # group, so keeping it would add a supplier_cnt = 0 group
    tables = {
        "part": (
            "p_partkey BIGINT, p_brand VARCHAR, p_type VARCHAR, p_size INT",
            [(1, "Brand#2", "STANDARD", 1), (2, "Brand#3", "LARGE", 4)],
        ),
        "supplier": ("s_suppkey BIGINT, s_acctbal DOUBLE", [(10, 5.0), (11, -1.0)]),
        "lineitem": (
            "l_partkey BIGINT, l_suppkey BIGINT",
            [(1, 10), (1, 11), (2, None)],
        ),
    }
    session = spark.newSession()  # temp views stay out of the shared session
    con = duckdb.connect()
    for name, (ddl, rows) in tables.items():
        spark_ddl = ddl.replace("VARCHAR", "STRING")
        session.createDataFrame(rows, spark_ddl).createOrReplaceTempView(name)
        con.execute(f"CREATE TABLE {name} ({ddl})")
        marks = ", ".join("?" * len(rows[0]))
        con.executemany(f"INSERT INTO {name} VALUES ({marks})", rows)
    got = sorted(tuple(r) for r in session.sql(tpch_full._Q16_SPARK_SQL).collect())
    want = sorted(con.execute(tpch_full._Q16_SQL).fetchall())
    assert want == [("Brand#2", "STANDARD", 1, 1)]
    assert got == want
