"""The benchmark's workloads: what each one generates and runs.

A workload is a seeded input recipe plus a list of queries. A batch
query is a registry entry (``spec.fn`` builds the DataFrame, a noop
sink runs it, ``spec.oracle`` checks it). A stream query builds a file
stream over inputs split into event-time-ordered files, read one file
per trigger, runs one of the engine's ``streaming.*`` operators through
``run_to_table``, and reads the materialized sink back; its oracle is
DuckDB SQL over the same files that yields the same final table.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from perfbench import gen

H_MS = 3600 * 1000


@dataclass(frozen=True)
class Query:
    name: str
    tables: tuple[str, ...]  # inputs one execution reads (rows_per_s)
    oracle: str | None  # DuckDB SQL; None: the registry entry's oracle
    stream: bool = False
    # stream queries only: (spark, data_dir) -> streaming DataFrame and
    # its output mode; sink table -> final result
    build: Callable | None = None
    mode: str = "append"
    finish: Callable | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    make: Callable[[np.random.Generator], tuple[dict[str, pa.Table], dict[str, int]]]
    queries: tuple[Query, ...]
    # untimed passes before the timed ones, enough to get the JVM past
    # its JIT warm-up on this workload's queries
    warmup_passes: int


# ---------------------------------------------------------------- batch_sql

def _make_batch_sql(rng):
    # q1, q9 and q21 register every fixture table as a view, so the
    # tables no batch query reads are present at a token size
    return {
        **gen.star_schema(rng, 0.06),
        "events": gen.events(rng, 500, 50, 1),
        "documents": gen.documents(rng, 50),
        "embeddings": gen.embeddings(rng, 50),
    }, {}


BATCH_SQL = (
    ("q1_pricing_summary", ("lineitem",)),
    ("q3_shipping_priority", ("customer", "orders", "lineitem")),
    ("q5_local_supplier", ("customer", "orders", "lineitem", "supplier", "nation", "region")),
    ("q6_forecast_revenue", ("lineitem",)),
    ("q9_product_profit", ("part", "supplier", "lineitem", "orders", "nation")),
    ("q21_waiting_suppliers", ("supplier", "lineitem", "orders", "nation")),
)

# ------------------------------------------------------------ stream_window

EVENT_FILES = 2


def _make_stream_window(rng):
    return {"events": gen.events(rng, 6_000, 2000, 12)}, {"events": EVENT_FILES}


def _event_stream(spark, data_dir: str):
    from flink_release_1_16_0_spark.catalog import normalize_event_ts

    path = f"{data_dir}/events"
    schema = spark.read.parquet(path).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    return normalize_event_ts(src).withWatermark("ts", "10 minutes")


def _hop(spark, data_dir):
    from pyspark.sql.types import DoubleType, LongType, StringType

    from flink_release_1_16_0_spark.streaming.window_tvf import streaming_window_tvf_agg

    return streaming_window_tvf_agg(
        _event_stream(spark, data_dir).select("ts", "event_type", "value", "user_id"),
        keys=["event_type"],
        ts_col="ts",
        aggs=[
            ("n", "count_star", None, LongType()),
            ("sum_s", "sum", "value", StringType()),
            ("max_v", "max", "value", DoubleType()),
            ("du", "count_distinct", "user_id", LongType()),
        ],
        kind="hop",
        size_ms=6 * H_MS,
        slide_ms=3 * H_MS,
    )


def _hop_finish(res):
    from pyspark.sql import functions as F

    return res.select(
        "event_type",
        F.col("window_start").alias("win_start"),
        F.col("window_end").alias("win_end"),
        "n",
        (F.col("sum_s").cast("decimal(38,4)") * 10000).cast("bigint").alias("total_e4"),
        "max_v",
        "du",
    )


_WM = "SELECT (epoch_us(MAX(ts)) // 1000) - 600000 AS wm_ms FROM events"

HOP_ORACLE = f"""
WITH wm AS ({_WM}),
w AS (
  SELECT event_type, user_id, value,
         ((epoch_us(ts) // 1000) // {3 * H_MS}) * {3 * H_MS} - k.k * {3 * H_MS} AS ws_ms
  FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS k) k
)
SELECT event_type,
  make_timestamp(ws_ms * 1000) AS win_start,
  make_timestamp((ws_ms + {6 * H_MS}) * 1000) AS win_end,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(value AS DECIMAL(38,4))) * 10000 AS BIGINT) AS total_e4,
  MAX(value) AS max_v,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS du
FROM w, wm
GROUP BY event_type, ws_ms, wm_ms
HAVING ws_ms + {6 * H_MS} - 1 <= wm_ms
"""


def _over(spark, data_dir):
    from flink_release_1_16_0_spark.streaming.stateful import streaming_over_rows_event_time

    return streaming_over_rows_event_time(
        _event_stream(spark, data_dir).select("user_id", "ts", "event_id", "value"),
        keys=["user_id"],
        value_col="value",
        id_col="event_id",
    )


OVER_ORACLE = """
WITH cut AS (SELECT epoch_ms(MAX(ts)) - 600000 AS wm FROM events)
SELECT user_id, event_id, ts,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS running_n,
       CAST(SUM(CAST(value AS DECIMAL(38,2))) OVER w AS DOUBLE) AS running_sum
FROM events, cut
WHERE epoch_ms(ts) <= cut.wm
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
"""


def workloads() -> dict[str, Workload]:
    """All workloads by name."""
    stream = lambda name, table, oracle, build, mode, finish: Query(  # noqa: E731
        name, (table,), oracle, True, build, mode, finish
    )
    return {
        w.name: w
        for w in (
            Workload(
                "batch_sql",
                "TPC-H joins and aggregates run by Catalyst and the JVM with idle Python "
                "workers: moves with plan-build, join and shuffle changes, bypasses "
                "Python operators and state",
                _make_batch_sql,
                tuple(Query(n, t, None) for n, t in BATCH_SQL),
                warmup_passes=4,
            ),
            Workload(
                "stream_window",
                "append-only events in event-time-ordered micro-batches: hop folds many "
                "rows into 5 hot keys, over-rows keeps thousands of skewed user keys",
                _make_stream_window,
                (
                    stream("stream_hop", "events", HOP_ORACLE, _hop, "append", _hop_finish),
                    stream("stream_over_rows", "events", OVER_ORACLE, _over, "update", None),
                ),
                warmup_passes=1,
            ),
        )
    }
