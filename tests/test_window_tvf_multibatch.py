"""Real micro-batch (maxFilesPerTrigger=1) pins of the round-12 window
operators — the conformance suites replay the closures with a faked
GroupState; these run the genuine applyInPandasWithState machinery
(event-time timeouts, watermark progression, state store) across
time-ordered batches:

- slice-shared window TVF agg: a fired tumble window never refires; a
  row late for its earlier hop window still counts toward the
  not-yet-fired later window (AbstractWindowAggProcessor's
  last-window drop);
- window TVF top-N: one append emission per window at the
  isWindowFired boundary, late would-be winners dropped;
- session group window: an out-of-order row BRIDGES two open sessions
  into one merged emission (MergingWindowSet).
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType

from flink_release_1_16_0_spark.streaming.core import run_to_table
from flink_release_1_16_0_spark.streaming.group_window import (
    streaming_group_window_agg,
)
from flink_release_1_16_0_spark.streaming.window_tvf import (
    streaming_window_tvf_agg,
    streaming_window_tvf_topn,
)

SCHEMA = "user_id BIGINT, v DOUBLE, ts TIMESTAMP"


def _ts(h, m):
    return dt.datetime(2024, 1, 1, h, m)


def _write_chunks(tmp_path, batches):
    d = str(tmp_path / "chunks")
    os.makedirs(d)
    for i, rows in enumerate(batches):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], pa.int64()),
                    "v": pa.array([float(r[1]) for r in rows], pa.float64()),
                    "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
                }
            ),
            os.path.join(d, f"b{i}.parquet"),
        )
        t = time.time() - 100 + i * 10
        os.utime(os.path.join(d, f"b{i}.parquet"), (t, t))
    return d


def _stream(spark, d):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withWatermark("ts", "10 minutes")
    )


AGGS = [("n", "count_star", None, LongType()), ("s", "sum", "v", StringType())]


def test_tvf_tumble_agg_fires_once_drops_late(spark, tmp_path):
    batches = [
        [(1, 1.0, _ts(0, 5)), (1, 2.0, _ts(0, 10))],  # W[0,1h): n=2
        [(1, 4.0, _ts(2, 0))],  # wm -> 01:50, fires W[0,1h)
        [(1, 8.0, _ts(0, 30))],  # late for W[0,1h): dropped
    ]
    d = _write_chunks(tmp_path, batches)
    out = run_to_table(
        streaming_window_tvf_agg(
            _stream(spark, d),
            keys=["user_id"],
            ts_col="ts",
            aggs=AGGS,
            kind="tumble",
            size_ms=3_600_000,
        ),
        "append",
    )
    rows = {(r["window_start"], r["n"], r["s"]) for r in out.collect()}
    assert (_ts(0, 0), 2, "3.0") in rows  # fired once, without the late row
    assert all(ws != _ts(0, 0) or n == 2 for ws, n, _s in rows)


def test_tvf_hop_agg_late_for_first_window_counts_in_second(spark, tmp_path):
    # hop slide 1h size 2h; the 01:30 row arrives after [00:00,02:00)
    # fired but [01:00,03:00) hasn't — it must count there only
    batches = [
        [(1, 1.0, _ts(0, 30))],  # slices [0,1): windows [-1,1) [0,2)
        [(1, 2.0, _ts(2, 30))],  # wm -> 02:20: fires ends <= 02:20+1ms
        [(1, 4.0, _ts(1, 30))],  # [0,2) fired; [1,3) still open
        # advance the final watermark past [1,3)'s end so it fires —
        # availableNow's last watermark is max_ts - delay, not +inf
        [(1, 16.0, _ts(3, 30))],
    ]
    d = _write_chunks(tmp_path, batches)
    out = run_to_table(
        streaming_window_tvf_agg(
            _stream(spark, d),
            keys=["user_id"],
            ts_col="ts",
            aggs=AGGS,
            kind="hop",
            size_ms=2 * 3_600_000,
            slide_ms=3_600_000,
        ),
        "append",
    )
    rows = {(r["window_start"], r["n"], r["s"]) for r in out.collect()}
    assert (_ts(0, 0), 1, "1.0") in rows  # [0,2) fired without the late row
    assert (_ts(1, 0), 2, "6.0") in rows  # [1,3) counts 01:30 + 02:30
    assert all(ws != _ts(0, 0) or n == 1 for ws, n, _s in rows)


def test_tvf_topn_late_winner_dropped(spark, tmp_path):
    batches = [
        [(1, 5.0, _ts(0, 5)), (1, 3.0, _ts(0, 10))],  # W0 top1 = 5.0
        [(1, 1.0, _ts(2, 0))],  # wm -> 01:50 fires W0
        [(1, 9.0, _ts(0, 20))],  # would win W0 — late, dropped
    ]
    d = _write_chunks(tmp_path, batches)
    out = run_to_table(
        streaming_window_tvf_topn(
            _stream(spark, d),
            keys=["user_id"],
            ts_col="ts",
            order=[("v", True)],
            rank_end=1,
            kind="tumble",
            size_ms=3_600_000,
        ),
        "append",
    )
    rows = {(r["window_start"], r["v"]) for r in out.collect()}
    assert (_ts(0, 0), 5.0) in rows
    assert all(v != 9.0 for _ws, v in rows), rows


def test_session_window_merges_across_batches(spark, tmp_path):
    # 30-min gap: 00:00 and 00:40 open two sessions. The watermark
    # settles at 00:30 after batch 1, so [00:00, 00:30) FIRES (n=1)
    # before the out-of-order 00:20 row arrives — that row must open a
    # new session that merges only the still-open [00:40, 01:10), NOT
    # re-absorb the fired session's rows (a fired session is purged
    # state in the reference; double-counting was a real bug this
    # test caught).
    batches = [
        [(1, 1.0, _ts(0, 0)), (1, 2.0, _ts(0, 40))],
        [(1, 4.0, _ts(0, 20))],
        [(1, 8.0, _ts(3, 0))],  # final wm 02:50 fires the merged session
    ]
    d = _write_chunks(tmp_path, batches)
    out = run_to_table(
        streaming_group_window_agg(
            _stream(spark, d),
            keys=["user_id"],
            ts_col="ts",
            aggs=AGGS,
            kind="session",
            gap_ms=30 * 60 * 1000,
        ),
        "update",
    )
    rows = {
        (r["window_start"], r["window_end"], r["n"], r["s"])
        for r in out.collect()
        if r["__rowkind"] == "+I"
    }
    assert (_ts(0, 0), _ts(0, 30), 1, "1.0") in rows, rows
    assert (_ts(0, 20), _ts(1, 10), 2, "6.0") in rows, rows
    # the 03:00 session's end (03:30) is past the final watermark
    # (02:50) — availableNow never fires it
    assert len(rows) == 2
