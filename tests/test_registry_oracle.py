"""The correctness gate, in-miniature: every oracle-gated query in the
registry must hash-match its DuckDB oracle at sf0.001 (the driver runs
the same comparison at sf0.01 — tools/check_oracle.py is the standalone
runner sharing this logic).
"""

from __future__ import annotations

import duckdb
import pytest

from flink_release_1_16_0_spark.catalog import TABLES, register_tables
from flink_release_1_16_0_spark.queries import load_registry
from tools.check_oracle import compare

REGISTRY = load_registry()


@pytest.fixture(scope="module")
def duck(sf_smoke):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_smoke}/{t}.parquet'")
    yield con
    con.close()


def test_registry_is_populated():
    assert len(REGISTRY) >= 50
    # every entry has a callable; names are the registry keys
    for name, spec in REGISTRY.items():
        assert callable(spec.fn), name


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, sf_smoke, duck):
    spec = REGISTRY[name]
    spark_pdf = spec.fn(spark, sf_smoke).toPandas()
    if spec.oracle is None:
        # weaker gate: runs and yields a stable schema
        assert spark_pdf.columns.is_unique
        return
    oracle_pdf = duck.execute(spec.oracle).fetchdf()
    status, detail = compare(spark_pdf, oracle_pdf)
    assert status == "OK", f"{name}: {status} {detail}"
