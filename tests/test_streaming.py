"""Streaming semantics tests: multi-batch replay vs batch duality.

The reference's ITCase pattern (SURVEY.md section 5): replay a
deterministic log through the streaming engine in several micro-batches
and assert the materialized result equals the batch query over the full
log. Multi-batch is forced by splitting the fixture into chunked files
+ maxFilesPerTrigger=1, so state really carries across batches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_release_1_16_0_spark.catalog import load_table
from flink_release_1_16_0_spark.streaming.core import _drain, _start, run_to_table
from flink_release_1_16_0_spark.streaming.stateful import (
    streaming_dedup_keep_last,
    streaming_topn,
)


@pytest.fixture(scope="module")
def chunked_events(spark, sf_smoke, tmp_path_factory):
    """events split into 4 files (by event_id ranges) for 4 micro-batches."""
    path = str(tmp_path_factory.mktemp("events_chunks"))
    ev = load_table(spark, sf_smoke, "events")
    # chunk boundaries follow event_id (which is time-ordered in the
    # fixture), approximating arrival order
    ev.withColumn("chunk", (F.col("event_id") % 4).cast("int")).repartition(
        1
    ).write.partitionBy("chunk").mode("overwrite").parquet(path)
    return path


def _stream(spark, chunked_events, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(chunked_events)
    )


@pytest.fixture(scope="module")
def events_schema(spark, sf_smoke):
    return load_table(spark, sf_smoke, "events").drop("props").schema


def _batch_events(spark, sf_smoke):
    return load_table(spark, sf_smoke, "events").drop("props")


def test_multibatch_group_agg_converges_to_batch(
    spark, sf_smoke, chunked_events, events_schema
):
    stream = _stream(spark, chunked_events, events_schema)
    out = run_to_table(
        stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")), "complete"
    )
    got = {r["event_type"]: r["n"] for r in out.collect()}
    want = {
        r["event_type"]: r["n"]
        for r in _batch_events(spark, sf_smoke)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_dedup_keep_last_converges(spark, sf_smoke, chunked_events, events_schema):
    stream = _stream(spark, chunked_events, events_schema).select(
        "user_id", "event_id", "ts"
    )
    out = run_to_table(
        streaming_dedup_keep_last(stream, keys=["user_id"], order_col="event_id"),
        "update",
    )
    # update-mode memory sink appends every emission; the final state per
    # key is the row with the max event_id emitted last -> take max.
    final = {
        r["user_id"]: r["m"]
        for r in out.groupBy("user_id").agg(F.max("event_id").alias("m")).collect()
    }
    want = {
        r["user_id"]: r["m"]
        for r in _batch_events(spark, sf_smoke)
        .groupBy("user_id")
        .agg(F.max("event_id").alias("m"))
        .collect()
    }
    assert final == want


def test_streaming_topn_converges(spark, sf_smoke, chunked_events, events_schema):
    stream = _stream(spark, chunked_events, events_schema).select(
        "event_type", "event_id", "value"
    )
    out = run_to_table(
        streaming_topn(stream, keys=["event_type"], order_col="value", n=3),
        "update",
    )
    # last emission per key holds the final top-3: reconstruct by taking,
    # per type, the 3 largest values ever emitted that are also in the
    # batch top-3 (emissions are monotone improvements).
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    want = (
        _batch_events(spark, sf_smoke)
        .select("event_type", "event_id", "value",
                F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )
    want_set = {(r["event_type"], r["event_id"]) for r in want.collect()}
    got_final = (
        out.select("event_type", "event_id", "value")
        .distinct()
        .select("event_type", "event_id", "value",
                F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )
    got_set = {(r["event_type"], r["event_id"]) for r in got_final.collect()}
    assert got_set == want_set


def test_streaming_retracting_agg_changelog(spark, sf_smoke, chunked_events, events_schema):
    from flink_release_1_16_0_spark.streaming.retract_agg import (
        streaming_retracting_multi_agg,
    )
    from tools.fuzz_changelog import COUNT_SUM

    stream = _stream(spark, chunked_events, events_schema).select(
        "event_type", F.col("value").alias("v")
    )
    out = run_to_table(
        streaming_retracting_multi_agg(stream, ["event_type"], COUNT_SUM),
        "update",
    ).cache()
    rows = out.collect()
    kinds = {r["__rowkind"] for r in rows}
    assert "+I" in kinds  # first batch inserts
    assert {"-U", "+U"} <= kinds  # later batches retract + update
    # net count per key from the changelog equals the batch count:
    # the final +U (or lone +I) per key carries the converged n
    final_n = {}
    for r in rows:
        if r["__rowkind"] in ("+I", "+U"):
            final_n[r["event_type"]] = max(final_n.get(r["event_type"], 0), r["n"])
    want = {
        r["event_type"]: r["n"]
        for r in _batch_events(spark, sf_smoke)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert final_n == want


def test_watermark_append_mode_contract(spark, sf_smoke, tmp_path_factory):
    """Watermark/late-data semantics in append mode.

    Divergence from the reference, pinned here: Flink with
    allowedLateness=0 *deterministically* drops a row older than the
    watermark; Spark documents late-data dropping as best-effort (a row
    within the same micro-batch that finalizes its window may still be
    aggregated). The hard guarantees shared by both engines — and
    asserted here — are (a) a finalized window is emitted exactly once,
    and (b) windows the watermark has not passed are never emitted in
    append mode."""
    import datetime as dt

    path = str(tmp_path_factory.mktemp("late"))
    on_time = [(i, dt.datetime(2024, 1, 1, 10, m, 0)) for i, m in enumerate([0, 1, 2, 30, 31])]
    late = [(99, dt.datetime(2024, 1, 1, 10, 0, 30))]  # 30 min late
    schema = "event_id bigint, ts timestamp"
    spark.createDataFrame(on_time, schema).repartition(1).write.mode("overwrite").parquet(
        path + "/b=0"
    )
    spark.createDataFrame(late, schema).repartition(1).write.mode("overwrite").parquet(
        path + "/b=1"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path + "/b=*")
    )
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    out = run_to_table(agg, "append")
    rows = out.collect()
    got = {str(r["ws"]): r["n"] for r in rows}
    # (a) the finalized 10:00 window emitted exactly once, counting the
    # 3 on-time rows (+ possibly the best-effort-late row, see docstring)
    assert len(rows) == 1
    assert got.get("2024-01-01 10:00:00") in (3, 4)
    # (b) the 10:30 window (watermark 10:26 has not passed its end) is
    # withheld in append mode
    assert "2024-01-01 10:30:00" not in got


def _write_chunk(spark, path, rows, schema_ddl, mtime):
    import os

    before = set(os.listdir(path)) if os.path.isdir(path) else set()
    df = spark.createDataFrame(rows, schema_ddl).coalesce(1)
    df.write.mode("append").parquet(path)
    # pin file modification times so the file stream source picks the
    # chunks up in write order — only the NEW files, or a later chunk's
    # utime clobbers an earlier chunk's mtime and the source's
    # equal-mtime tiebreak (random part-file names) scrambles the order
    for name in os.listdir(path):
        if name in before:
            continue
        full = os.path.join(path, name)
        os.utime(full, (mtime, mtime))


def test_streaming_changelog_join_cross_batch_retraction(spark, tmp_path_factory):
    """+I rows joined in batch 1 must be retracted (-D emission) when
    the delete arrives in a later batch; the netted emissions equal the
    batch changelog_join of the full logs."""
    from flink_release_1_16_0_spark.streaming import changelog as C
    from flink_release_1_16_0_spark.streaming.stateful import streaming_changelog_join

    ldir = str(tmp_path_factory.mktemp("cjl"))
    rdir = str(tmp_path_factory.mktemp("cjr"))
    lddl = "__rowkind string, seq long, k long, a string"
    rddl = "__rowkind string, seq long, k long, b string"
    _write_chunk(spark, ldir, [("+I", 0, 1, "x"), ("+I", 0, 2, "y")], lddl, 1000)
    _write_chunk(spark, rdir, [("+I", 1, 1, "p")], rddl, 1000)
    _write_chunk(spark, ldir, [("-D", 2, 1, "x")], lddl, 2000)
    _write_chunk(spark, rdir, [("+I", 3, 2, "q")], rddl, 2000)

    def stream(path, ddl):
        schema = spark.createDataFrame([], ddl).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )

    out = run_to_table(
        streaming_changelog_join(stream(ldir, lddl), stream(rdir, rddl), keys=["k"]),
        "update",
    )
    rows = out.collect()
    kinds = {r["__rowkind"] for r in rows}
    assert "-D" in kinds  # the cross-batch retraction really fired
    emitted_sign = F.when(
        F.col("__rowkind").isin("+I", "+U"), F.col("__m")
    ).otherwise(-F.col("__m"))
    net = {
        (r["k"], r["a"], r["b"]): r["m"]
        for r in out.groupBy("k", "a", "b")
        .agg(F.sum(emitted_sign).alias("m"))
        .filter(F.col("m") != 0)
        .collect()
    }
    assert net == {(2, "y", "q"): 1}

    # batch algebra over the same full logs agrees
    llog = spark.createDataFrame(
        [("+I", 1, "x"), ("+I", 2, "y"), ("-D", 1, "x")], "__rowkind string, k long, a string"
    )
    rlog = spark.createDataFrame(
        [("+I", 1, "p"), ("+I", 2, "q")], "__rowkind string, k long, b string"
    )
    got = {
        (r["k"], r["a"], r["b"]): r["__m"]
        for r in C.changelog_join(llog, rlog, on=["k"]).collect()
    }
    assert got == net


def test_streaming_temporal_join_versions_across_batches(spark, tmp_path_factory):
    """A version inserted in batch 1 must serve left rows of batch 2;
    a newer version only affects rows at or after its timestamp."""
    import datetime as dt

    from flink_release_1_16_0_spark.streaming.stateful import streaming_temporal_join

    t = lambda m: dt.datetime(2024, 1, 1, 10, m, 0)
    ldir = str(tmp_path_factory.mktemp("tjl"))
    rdir = str(tmp_path_factory.mktemp("tjr"))
    lddl = "k long, ts timestamp, ev string"
    rddl = "k long, ts timestamp, ver string"
    _write_chunk(spark, rdir, [(1, t(0), "v1")], rddl, 1000)
    _write_chunk(spark, ldir, [(1, t(1), "e1")], lddl, 1000)
    _write_chunk(spark, rdir, [(1, t(5), "v2")], rddl, 2000)
    _write_chunk(spark, ldir, [(1, t(5), "e2"), (1, t(9), "e3")], lddl, 2000)

    def stream(path, ddl):
        schema = spark.createDataFrame([], ddl).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )

    out = run_to_table(
        streaming_temporal_join(
            stream(ldir, lddl), stream(rdir, rddl), keys=["k"], left_ts="ts", right_ts="ts"
        ),
        "update",
    )
    got = {r["ev"]: r["ver"] for r in out.collect()}
    # e1 saw v1 (batch-1 state); e2 at v2's exact ts sees v2 (inclusive);
    # e3 sees v2
    assert got == {"e1": "v1", "e2": "v2", "e3": "v2"}


def test_streaming_temporal_join_event_time_out_of_order(spark, tmp_path_factory):
    """The watermark-buffered variant must produce the event-time-order
    join even when chunks arrive out of event-time order: batch 1
    carries the LATER rows, batch 2 the earlier ones (inside the delay
    window, so nothing is late), batch 3 a punctuation row that pushes
    the watermark past everything for key 1."""
    import datetime as dt

    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_temporal_join_event_time,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(minutes=m)
    ldir = str(tmp_path_factory.mktemp("etjl"))
    rdir = str(tmp_path_factory.mktemp("etjr"))
    lddl = "k long, ts timestamp, ev string"
    rddl = "k long, ts timestamp, ver string"
    # batch 1: the LATER half (v2@10:05, e2@10:06)
    _write_chunk(spark, rdir, [(1, t(5), "v2")], rddl, 1000)
    _write_chunk(spark, ldir, [(1, t(6), "e2")], lddl, 1000)
    # batch 2: the EARLIER half (v1@10:00, e1@10:01) — watermark after
    # batch 1 is 10:06-10m = 9:56, so these are NOT late
    _write_chunk(spark, rdir, [(1, t(0), "v1")], rddl, 2000)
    _write_chunk(spark, ldir, [(1, t(1), "e1")], lddl, 2000)
    # batch 3: punctuation on key 2 at 11:00 -> watermark 10:50 passes
    # every key-1 row; the punctuation row itself stays pending
    _write_chunk(spark, ldir, [(2, t(60), "late-punct")], lddl, 3000)
    _write_chunk(spark, rdir, [(2, t(60), "vx")], rddl, 3000)

    def stream(path, ddl):
        schema = spark.createDataFrame([], ddl).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )

    out = run_to_table(
        streaming_temporal_join_event_time(
            stream(ldir, lddl),
            stream(rdir, rddl),
            keys=["k"],
            left_ts="ts",
            right_ts="ts",
        ),
        "update",
    )
    rows = out.collect()
    got = {r["ev"]: r["ver"] for r in rows}
    # event-time order: e1@10:01 sees v1@10:00 (NOT v2, which arrived
    # first but is later in event time); e2@10:06 sees v2@10:05
    assert got == {"e1": "v1", "e2": "v2"}
    # the punctuation row is inside the final delay window: pending
    assert "late-punct" not in got


def test_streaming_retractable_topn_promotion(spark, tmp_path_factory):
    """Deleting the current #1 in a later batch must promote the row
    that had been pushed out of the top-N back into it — requires the
    full live multiset in state, not just the current top-N."""
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_retractable_topn,
    )

    d = str(tmp_path_factory.mktemp("rtopn"))
    ddl = "__rowkind string, k string, item string, score long"
    _write_chunk(
        spark, d,
        [("+I", "g", "a", 5), ("+I", "g", "b", 3), ("+I", "g", "c", 1)],
        ddl, 1000,
    )
    _write_chunk(spark, d, [("-D", "g", "a", 5)], ddl, 2000)

    stream = (
        spark.readStream.schema(spark.createDataFrame([], ddl).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = run_to_table(
        streaming_retractable_topn(
            stream, keys=["k"], order_cols=["score", "item"], n=2,
            ascending=[False, True],
        ),
        "update",
    ).cache()
    last = out.filter(
        F.col("__epoch") == out.agg(F.max("__epoch")).collect()[0][0]
    )
    got = [(r["item"], r["rn"]) for r in last.orderBy("rn").collect()]
    assert got == [("b", 1), ("c", 2)]
    # batch-1 emission had a on top
    first = out.filter(F.col("__epoch") == 1)
    assert [(r["item"], r["rn"]) for r in first.orderBy("rn").collect()] == [
        ("a", 1), ("b", 2)
    ]


def test_checkpoint_state_recovery_exactly_once(spark, tmp_path_factory):
    """Exactly-once across restart (CheckpointCoordinator / state
    backend parity): drain chunk 1, then restart the same query from
    its checkpoint after chunk 2 arrives. The restarted run must (a)
    recover the aggregation state (counts continue, not restart) and
    (b) not re-read chunk 1 (no double counting)."""
    data_dir = str(tmp_path_factory.mktemp("ck_data"))
    ckpt = str(tmp_path_factory.mktemp("ck_state"))
    sink = str(tmp_path_factory.mktemp("ck_sink"))
    ddl = "k string, v long"
    _write_chunk(spark, data_dir, [("a", 1), ("a", 2)], ddl, 1000)

    def run_available(run_id):
        stream = (
            spark.readStream.schema(spark.createDataFrame([], ddl).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(data_dir)
        )
        agg = stream.groupBy("k").count()

        def write_batch(df, bid):
            df.withColumn("run", F.lit(run_id)).write.mode("append").parquet(sink)

        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_available(1)
    _write_chunk(spark, data_dir, [("a", 3), ("b", 9)], ddl, 2000)
    run_available(2)

    rows = spark.read.parquet(sink).collect()
    got = {(r["run"], r["k"]): r["count"] for r in rows}
    # run 1 saw only chunk 1; run 2 recovered a=2 and added chunk 2
    assert got[(1, "a")] == 2
    assert got[(2, "a")] == 3  # 2 (recovered state) + 1, NOT 1 or 4
    assert got[(2, "b")] == 1


def test_dedup_state_ttl_expires_idle_keys(spark, tmp_path):
    """table.exec.state.ttl semantics (ExecutionConfigOptions.java:52):
    state idle past the TTL is discarded, so a long-idle key's
    re-arrival counts as NEW — its lower-seq row wins again. Without
    TTL the old winner survives and the late row loses."""
    import pandas as pd

    rows = [
        # chunk 0: key A arrives (seq 10) + clock row
        ("A", 10, "2024-01-01 10:00:00", 0),
        # chunk 1: clock advances the watermark past A's TTL deadline
        ("CLK", 1, "2024-01-01 11:30:00", 1),
        # chunk 2: another clock tick -> A's timeout fires (no A data)
        ("CLK", 2, "2024-01-01 11:40:00", 2),
        # chunk 3: A re-arrives with a LOWER seq
        ("A", 5, "2024-01-01 11:45:00", 3),
    ]
    src = str(tmp_path / "ttl_chunks")
    pdf = pd.DataFrame(rows, columns=["k", "seq", "ts", "chunk"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).repartition(1).write.partitionBy("chunk").mode(
        "overwrite"
    ).parquet(src)
    schema = "k string, seq long, ts timestamp"

    def run(ttl_ms):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withWatermark("ts", "1 second")
        )
        out = run_to_table(
            streaming_dedup_keep_last(
                stream,
                keys=["k"],
                order_col="seq",
                state_ttl_ms=ttl_ms,
                ttl_time_col="ts" if ttl_ms else None,
            ),
            "update",
        )
        return [(r["k"], r["seq"]) for r in out.collect() if r["k"] == "A"]

    with_ttl = run(30 * 60 * 1000)  # 30 min TTL, A idle ~1h45m
    without = run(None)
    assert ("A", 5) in with_ttl  # expired state -> re-arrival won
    assert ("A", 5) not in without and ("A", 10) in without


def test_streaming_cep_within_converges_multibatch(
    spark, sf_smoke, tmp_path_factory
):
    """Streaming CEP (cep_stream.py) over 4 micro-batches equals the
    batch regex tier restricted to finalizable starts: matches emit as
    the watermark passes start+within, match_no is stable, and no match
    is emitted twice or lost across batches. Chunked by event-id
    quartile (time-ordered in the fixture) so batches respect arrival
    order — the % 4 chunking would make batches 2-4 arrive behind the
    watermark and (correctly) be dropped as late."""
    from flink_release_1_16_0_spark.operators.cep import classify, match_regex_pattern
    from flink_release_1_16_0_spark.streaming.cep_stream import streaming_cep_within

    within_ms = 12 * 3600 * 1000
    sym = classify(
        {
            "c": F.col("event_type") == "click",
            "p": F.col("event_type") == "purchase",
        }
    )
    path = str(tmp_path_factory.mktemp("cep_chunks"))
    sel = _batch_events(spark, sf_smoke)
    m = sel.agg(F.max("event_id")).first()[0]
    sel.withColumn(
        "chunk",
        F.least(F.floor(F.col("event_id") / ((m + 1) / 4)), F.lit(3)).cast("int"),
    ).repartition(1).write.partitionBy("chunk").mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema(sel.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
        .withWatermark("ts", "10 minutes")
        .withColumn("__s", sym)
    )
    out = run_to_table(
        streaming_cep_within(
            stream,
            keys=["user_id"],
            ts_col="ts",
            id_col="event_id",
            sym_col="__s",
            pattern="c+p",
            within_ms=within_ms,
        ),
        "update",
    )
    got = sorted(
        (r["user_id"], r["match_no"], r["start_id"], r["end_id"], r["n_rows"])
        for r in out.collect()
    )
    # batch dual: regex tier with the same WITHIN, then the watermark
    # finalization cutoff on the match-start row's event time
    ev = _batch_events(spark, sf_smoke)
    batch = match_regex_pattern(
        ev,
        keys=["user_id"],
        ts_col="ts",
        symbol=sym,
        pattern="c+p",
        id_col="event_id",
        within_ms=within_ms,
    )
    wm_ms = (
        ev.agg((F.floor(F.unix_micros(F.max("ts")) / 1000) - 600000).alias("w"))
        .collect()[0]["w"]
    )
    start_ts = ev.select(
        F.col("event_id").alias("start_id"),
        F.floor(F.unix_micros("ts") / 1000).alias("start_ms"),
    )
    want = sorted(
        (r["user_id"], r["match_no"], r["start_id"], r["end_id"], r["n_rows"])
        for r in batch.join(start_ts, "start_id")
        .filter(F.col("start_ms") + within_ms <= F.lit(wm_ms))
        .collect()
    )
    assert got == want


def test_streaming_over_rows_bounded_multibatch(spark, sf_smoke, tmp_path_factory):
    """Trailing-rows frames must be identical whether the log arrives in
    one batch or four (the retained last-n-1 window carries across)."""
    from pyspark.sql import Window

    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_over_rows_bounded_event_time,
    )

    path = str(tmp_path_factory.mktemp("rows_bounded_chunks"))
    sel = _batch_events(spark, sf_smoke).filter(F.col("user_id") % 10 == 3).select(
        "user_id", "ts", "event_id", "value"
    )
    m = sel.agg(F.max("event_id")).first()[0]
    sel.withColumn(
        "chunk", F.least(F.floor(F.col("event_id") / ((m + 1) / 4)), F.lit(3)).cast("int")
    ).repartition(1).write.partitionBy("chunk").mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema(sel.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
        .withWatermark("ts", "10 minutes")
    )
    out = run_to_table(
        streaming_over_rows_bounded_event_time(
            stream, keys=["user_id"], value_col="value", id_col="event_id", n_rows=5
        ),
        "update",
    )
    got = {
        (r["user_id"], r["event_id"]): (r["win_n"], r["win_sum"]) for r in out.collect()
    }
    wm_ms = (
        sel.agg((F.floor(F.unix_micros(F.max("ts")) / 1000) - 600000).alias("w"))
        .collect()[0]["w"]
    )
    f = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    want_df = (
        sel.filter(F.floor(F.unix_micros("ts") / 1000) <= wm_ms)
        .select(
            "user_id",
            "event_id",
            F.count(F.lit(1)).over(f).alias("win_n"),
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint")).over(f) / 100.0
            ).alias("win_sum"),
        )
    )
    for r in want_df.collect():
        assert got[(r["user_id"], r["event_id"])] == (r["win_n"], r["win_sum"]), r


def test_streaming_anti_join_converges_multibatch(spark, sf_smoke, tmp_path_factory):
    """Time-bounded left ANTI join over 4 ordered micro-batches equals
    the batch NOT EXISTS restricted to watermark-finalized left rows:
    a purchase emits exactly once, only after its match window closes,
    and a click arriving in a LATER batch still suppresses a pending
    purchase (state carries across batches)."""
    from flink_release_1_16_0_spark.streaming.stateful import streaming_anti_join

    path = str(tmp_path_factory.mktemp("anti_chunks"))
    sel = _batch_events(spark, sf_smoke).filter(
        F.col("event_type").isin("click", "purchase")
    )
    m = sel.agg(F.max("event_id")).first()[0]
    sel.withColumn(
        "chunk",
        F.least(F.floor(F.col("event_id") / ((m + 1) / 4)), F.lit(3)).cast("int"),
    ).repartition(1).write.partitionBy("chunk").mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema(sel.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
        .withWatermark("ts", "10 minutes")
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = stream.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = run_to_table(
        streaming_anti_join(
            purchases,
            clicks,
            keys=["user_id"],
            l_ts_col="ts",
            r_ts_col="ts",
            lower_ms=-600_000,
            upper_ms=0,
        ),
        "append",
    )
    got = sorted(r["purchase_id"] for r in out.collect())
    assert len(got) == len(set(got)), "a purchase emitted twice"
    # batch dual with the multi-batch watermark cutoff: the watermark
    # the FINAL trigger saw is max ts over the whole log minus delay
    ev = sel
    wm_ms = ev.agg(
        (F.floor(F.unix_micros(F.max("ts")) / 1000) - 600000).alias("w")
    ).collect()[0]["w"]
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    want = sorted(
        r["event_id"]
        for r in p.join(
            c,
            (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("c.ts") < F.col("p.ts")),
            "left_anti",
        )
        .filter(F.floor(F.unix_micros("p.ts") / 1000) <= F.lit(wm_ms))
        .collect()
    )
    assert got == want


def test_streaming_cep_nfa_converges_multibatch(spark, sf_smoke, tmp_path_factory):
    """Streaming NFA CEP (cross-variable DEFINE) over 4 ordered
    micro-batches equals the batch match_nfa restricted to finalizable
    anchors — matches emit once with stable match_no, state carries
    partial matches across batches."""
    from flink_release_1_16_0_spark.operators.cep import match_nfa
    from flink_release_1_16_0_spark.streaming.cep_stream import (
        streaming_cep_nfa_within,
    )

    within_ms = 12 * 3600 * 1000
    path = str(tmp_path_factory.mktemp("nfa_chunks"))
    sel = _batch_events(spark, sf_smoke).filter(
        F.col("event_type").isin("click", "purchase")
    )
    m = sel.agg(F.max("event_id")).first()[0]
    sel.withColumn(
        "chunk",
        F.least(F.floor(F.col("event_id") / ((m + 1) / 4)), F.lit(3)).cast("int"),
    ).repartition(1).write.partitionBy("chunk").mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema(sel.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
        .withWatermark("ts", "10 minutes")
    )
    defines = {
        "A": lambda r, c: r["event_type"] == "click",
        "B": lambda r, c: r["event_type"] == "purchase"
        and r["value"] > c["A"][0]["value"],
    }
    measures = {
        "n_clicks": ("A", "count", "__id", "bigint"),
        "first_click_value": ("A", "first", "value", "double"),
        "purchase_value": ("B", "last", "value", "double"),
    }
    out = run_to_table(
        streaming_cep_nfa_within(
            stream,
            keys=["user_id"],
            ts_col="ts",
            id_col="event_id",
            steps=[("A", "+"), ("B", "1")],
            defines=defines,
            measures=measures,
            within_ms=within_ms,
            value_cols=["event_type", "value"],
        ),
        "update",
    )
    got = sorted(
        (r["user_id"], r["match_no"], r["n_clicks"], r["first_click_value"],
         r["purchase_value"])
        for r in out.collect()
    )
    assert len(got) == len(set(got)), "duplicate emission"
    # batch dual: match_nfa with the same WITHIN, anchors finalizable
    # under the final watermark (anchor = FIRST bound row's event time)
    batch = match_nfa(
        sel,
        keys=["user_id"],
        ts_col="ts",
        id_col="event_id",
        steps=[("A", "+"), ("B", "1")],
        defines=defines,
        measures={**measures, "anchor_ts": ("A", "first", "ts", "timestamp")},
        value_cols=["event_type", "value"],
        within_ms=within_ms,
    )
    wm_ms = sel.agg(
        (F.floor(F.unix_micros(F.max("ts")) / 1000) - 600000).alias("w")
    ).collect()[0]["w"]
    want_rows = (
        batch.filter(
            F.floor(F.unix_micros("anchor_ts") / 1000) + within_ms <= F.lit(wm_ms)
        )
        .collect()
    )
    want = sorted(
        (r["user_id"], r["match_no"], r["n_clicks"], r["first_click_value"],
         r["purchase_value"])
        for r in want_rows
    )
    assert got == want


def test_streaming_cep_skip_next_converges_multibatch(
    spark, sf_smoke, tmp_path_factory
):
    """Overlapping SKIP TO NEXT ROW matches over 4 ordered
    micro-batches: each anchor emits exactly once, and the result
    equals the batch regex tier with to_next_row restricted to
    finalizable anchors."""
    from flink_release_1_16_0_spark.operators.cep import (
        classify,
        match_regex_pattern,
    )
    from flink_release_1_16_0_spark.streaming.cep_stream import streaming_cep_within

    within_ms = 12 * 3600 * 1000
    sym = classify(
        {
            "c": F.col("event_type") == "click",
            "p": F.col("event_type") == "purchase",
        }
    )
    path = str(tmp_path_factory.mktemp("skipnext_chunks"))
    sel = _batch_events(spark, sf_smoke).filter(
        F.col("event_type").isin("click", "purchase")
    )
    m = sel.agg(F.max("event_id")).first()[0]
    sel.withColumn(
        "chunk",
        F.least(F.floor(F.col("event_id") / ((m + 1) / 4)), F.lit(3)).cast("int"),
    ).repartition(1).write.partitionBy("chunk").mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema(sel.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
        .withWatermark("ts", "10 minutes")
        .withColumn("__s", sym)
    )
    out = run_to_table(
        streaming_cep_within(
            stream,
            keys=["user_id"],
            ts_col="ts",
            id_col="event_id",
            sym_col="__s",
            pattern="c+p",
            within_ms=within_ms,
            skip="to_next_row",
        ),
        "update",
    )
    got = sorted(
        (r["user_id"], r["start_id"], r["end_id"], r["n_rows"])
        for r in out.collect()
    )
    assert len(got) == len(set(got)), "an anchor emitted twice"
    batch = match_regex_pattern(
        sel,
        keys=["user_id"],
        ts_col="ts",
        symbol=sym,
        pattern="c+p",
        id_col="event_id",
        within_ms=within_ms,
        skip="to_next_row",
    )
    wm_ms = sel.agg(
        (F.floor(F.unix_micros(F.max("ts")) / 1000) - 600000).alias("w")
    ).collect()[0]["w"]
    start_ts = sel.select(
        F.col("event_id").alias("start_id"),
        F.floor(F.unix_micros("ts") / 1000).alias("start_ms"),
    )
    want = sorted(
        (r["user_id"], r["start_id"], r["end_id"], r["n_rows"])
        for r in batch.join(start_ts, "start_id")
        .filter(F.col("start_ms") + within_ms <= F.lit(wm_ms))
        .collect()
    )
    assert got == want


def test_streaming_cep_nfa_reluctant_matches_batch(spark, sf_smoke, tmp_path_factory):
    """Reluctant +? rides the streaming NFA tier unchanged (shortest-
    first over a settled prefix is deterministic): multi-batch replay
    equals the batch match_nfa restricted to finalizable anchors."""
    from flink_release_1_16_0_spark.operators.cep import match_nfa
    from flink_release_1_16_0_spark.streaming.cep_stream import (
        streaming_cep_nfa_within,
    )

    within_ms = 12 * 3600 * 1000
    path = str(tmp_path_factory.mktemp("nfa_rel_chunks"))
    sel = _batch_events(spark, sf_smoke).filter(
        F.col("event_type").isin("click", "purchase")
    )
    m = sel.agg(F.max("event_id")).first()[0]
    sel.withColumn(
        "chunk",
        F.least(F.floor(F.col("event_id") / ((m + 1) / 4)), F.lit(3)).cast("int"),
    ).repartition(1).write.partitionBy("chunk").mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema(sel.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
        .withWatermark("ts", "10 minutes")
    )
    # P C+? with a cross-variable guard: exactly one click bound per
    # match (greedy would bind the full run)
    defines = {
        "P": lambda r, c: r["event_type"] == "purchase",
        "C": lambda r, c: r["event_type"] == "click"
        and r["value"] >= c["P"][0]["value"] * 0,
    }
    steps = [("P", "1"), ("C", "+?")]
    measures = {
        "n_clicks": ("C", "count", "__id", "bigint"),
        "click_id": ("C", "last", "event_id", "bigint"),
    }
    out = run_to_table(
        streaming_cep_nfa_within(
            stream,
            keys=["user_id"],
            ts_col="ts",
            id_col="event_id",
            steps=steps,
            defines=defines,
            measures=measures,
            within_ms=within_ms,
            value_cols=["event_type", "value"],
        ),
        "update",
    )
    got = sorted(
        (r["user_id"], r["match_no"], r["n_clicks"], r["click_id"])
        for r in out.collect()
    )
    assert got and all(n == 1 for _, _, n, _ in got), "reluctant must bind 1 click"
    batch = match_nfa(
        sel,
        keys=["user_id"],
        ts_col="ts",
        id_col="event_id",
        steps=steps,
        defines=defines,
        measures={**measures, "anchor_ts": ("P", "first", "ts", "timestamp")},
        value_cols=["event_type", "value"],
        within_ms=within_ms,
    )
    wm_ms = sel.agg(
        (F.floor(F.unix_micros(F.max("ts")) / 1000) - 600000).alias("w")
    ).collect()[0]["w"]
    want = sorted(
        (r["user_id"], r["match_no"], r["n_clicks"], r["click_id"])
        for r in batch.filter(
            F.floor(F.unix_micros("anchor_ts") / 1000) + within_ms <= F.lit(wm_ms)
        ).collect()
    )
    assert got == want


def test_streaming_cep_nfa_emit_timeouts(spark, tmp_path_factory):
    """emit_timeouts (TimedOutPartialMatchHandler / CepOperator's
    timeout path): an anchor whose WITHIN horizon expires with a
    started-but-incomplete partial emits its measures over the bound
    rows with timed_out = true, exactly once."""
    import datetime as dt

    from flink_release_1_16_0_spark.streaming.cep_stream import (
        streaming_cep_nfa_within,
    )

    def t(minute):
        return dt.datetime(2024, 1, 1, 10, minute)

    rows = [
        # u1: click(1.0) then purchase inside 5 min -> full match
        (1, t(0), 10, "click", 1.0),
        (1, t(2), 11, "purchase", 9.0),
        # u2: click(2.0) with no purchase inside 5 min -> times out
        (2, t(0), 20, "click", 2.0),
        (2, t(20), 21, "click", 3.0),  # advances u2's watermark; its own
        # horizon (10:25) is NOT under the final watermark -> undecided
    ]
    path = str(tmp_path_factory.mktemp("cep_timeouts"))
    df = spark.createDataFrame(
        rows, "user_id INT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE"
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema(df.schema).parquet(path).withWatermark("ts", "0 seconds")
    )
    defines = {
        "A": lambda r, c: r["event_type"] == "click",
        "B": lambda r, c: r["event_type"] == "purchase",
    }
    out = run_to_table(
        streaming_cep_nfa_within(
            stream,
            keys=["user_id"],
            ts_col="ts",
            id_col="event_id",
            steps=[("A", "1"), ("B", "1")],
            defines=defines,
            measures={
                "a_id": ("A", "first", "event_id", "bigint"),
                "b_id": ("B", "first", "event_id", "bigint"),
            },
            within_ms=5 * 60 * 1000,
            value_cols=["event_type", "value"],
            emit_timeouts=True,
        ),
        "update",
    )
    got = sorted(
        (r.user_id, r.a_id, r.b_id, r.timed_out) for r in out.collect()
    )
    # u1 full match; u2's first click timed out (b_id NULL); u2's second
    # click is undecided at the final watermark -> absent
    assert got == [(1, 10, 11, False), (2, 20, None, True)]


def test_window_agg_allowed_lateness(spark, tmp_path_factory):
    """Allowed lateness + late firing (WindowOperator.java:380-409):
    a late-but-allowed row re-fires the already-emitted window as a
    -U/+U pair; a row beyond the horizon is dropped; state retires."""
    import datetime as dt

    from flink_release_1_16_0_spark.streaming.group_window import (
        streaming_group_window_agg,
    )
    from tools.fuzz_changelog import COUNT_SUM

    path = str(tmp_path_factory.mktemp("lateness"))
    schema = "k bigint, ts timestamp, v double"
    T = dt.datetime(2024, 1, 1, 10, 0, 0)

    def at(minute):
        return T.replace(minute=0) + dt.timedelta(minutes=minute)

    batches = [
        [(1, at(0), 1.0), (1, at(2), 2.0)],     # window [10:00,10:10)
        [(1, at(15), 5.0)],                      # wm -> 10:14, fires w0
        [(1, at(5), 3.0)],                       # late, allowed -> -U/+U
        [(1, at(40), 7.0)],                      # wm -> 10:39, retires w0
        [(1, at(6), 9.0)],                       # beyond horizon: dropped
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            f"{path}/b={i}"
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path + "/b=*")
        .withWatermark("ts", "1 minute")
    )
    out = run_to_table(
        streaming_group_window_agg(
            stream,
            ["k"],
            "ts",
            COUNT_SUM,
            size_ms=10 * 60 * 1000,
            allowed_lateness_ms=10 * 60 * 1000,
        ),
        "update",
    )
    rows = sorted(
        (str(r["window_start"]), r["__rowkind"], r["n"], r["total"])
        for r in out.collect()
    )
    w0 = [r for r in rows if r[0] == "2024-01-01 10:00:00"]
    # +I at first fire (2 rows), then the allowed-late row re-fires as
    # -U/+U; the beyond-horizon row adds NOTHING after retirement
    assert w0 == [
        ("2024-01-01 10:00:00", "+I", 2, 3.0),
        ("2024-01-01 10:00:00", "+U", 3, 6.0),
        ("2024-01-01 10:00:00", "-U", 2, 3.0),
    ]
    # the 10:10 window fired once the watermark passed 10:20
    w1 = [r for r in rows if r[0] == "2024-01-01 10:10:00"]
    assert w1 == [("2024-01-01 10:10:00", "+I", 1, 5.0)]
    # the 10:40 window never fires (watermark never passes its end)
    assert not [r for r in rows if r[0] == "2024-01-01 10:40:00"]


def test_allowed_lateness_oracle_at_window_end_minus_one(spark, tmp_path):
    """stream_window_allowed_lateness and its oracle on an events
    fixture whose final watermark (max ts - 10 min) is exactly a 5-min
    window end minus 1 ms: the operator fires that window
    (isWindowFired: wm >= end - 1), so the oracle must keep it too."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from flink_release_1_16_0_spark.queries import load_registry
    from tools.check_oracle import compare

    t0 = dt.datetime(2024, 1, 1)
    # windows [0, 5) and [5, 10) min; the last row puts the watermark at
    # 10 min - 1 ms, the end of [5, 10) minus 1
    offsets_ms = [0, 60_000, 7 * 60_000, 9 * 60_000, 20 * 60_000 - 1]
    n = len(offsets_ms)
    pd.DataFrame(
        {
            "event_id": range(n),
            "ts": [t0 + dt.timedelta(milliseconds=o) for o in offsets_ms],
            "user_id": [1] * n,
            "event_type": ["click"] * n,
            "value": [1.0] * n,
            "props": ["{}"] * n,
        }
    ).to_parquet(tmp_path / "events.parquet", coerce_timestamps="us", index=False)

    spec = load_registry()["stream_window_allowed_lateness"]
    got = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    want = con.execute(spec.oracle).fetchdf()
    assert len(got) == 2  # both windows fired
    assert compare(got, want) == ("OK", "")


def _state_partitions(spark, run):
    """Calls ``run()`` and returns its result with the state partition
    count of every progress of the query it starts. A
    ``StreamingQueryListener`` sees the query ``run_to_table`` keeps to
    itself; listener events arrive asynchronously, so this waits for the
    query's termination event."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    started, counts, done = set(), [], threading.Event()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            started.add(event.id)

        def onQueryProgress(self, event):
            if event.progress.id in started and event.progress.stateOperators:
                counts.append(event.progress.stateOperators[0].numShufflePartitions)

        def onQueryTerminated(self, event):
            if event.id in started:
                done.set()

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        out = run()
        assert done.wait(60)
    finally:
        spark.streams.removeListener(listener)
    return out, counts


def test_state_partitions_capped_at_cores(spark, tmp_path):
    """A streaming query starts with ``min(shuffle.partitions, cores)``
    state partitions: 4 under ``SPARK_GRAFT_CPUS=4`` and the session's
    8, and 1 where the session sets 1. The session's own setting reads
    the same after the drain, and after a start that raises."""
    key = "spark.sql.shuffle.partitions"
    path = str(tmp_path / "data")
    spark.createDataFrame([(i % 3, i) for i in range(12)], "k int, v int").write.parquet(path)
    stream = spark.readStream.schema("k int, v int").parquet(path)
    counted = stream.groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("s"))

    def drain():
        return sorted(tuple(r) for r in run_to_table(counted, "complete").collect())

    want = [(0, 4, 18), (1, 4, 22), (2, 4, 26)]
    conf = spark.conf.get(key)
    rows, counts = _state_partitions(spark, drain)
    assert rows == want
    assert counts and set(counts) == {min(int(conf), spark.sparkContext.defaultParallelism)}
    assert spark.conf.get(key) == conf
    spark.conf.set(key, "1")
    try:
        rows, counts = _state_partitions(spark, drain)
        assert rows == want
        assert counts and set(counts) == {1}
        assert spark.conf.get(key) == "1"
    finally:
        spark.conf.set(key, conf)
    # complete mode without an aggregate is refused when the query starts
    with pytest.raises(Exception, match="(?i)complete"):
        run_to_table(stream, "complete")
    assert spark.conf.get(key) == conf


@pytest.mark.parametrize("op", ["hop", "lateness"])
def test_window_state_survives_restart(spark, tmp_path, op):
    """Typed Python window state across a restart: a hop window-TVF
    aggregate and an allowed-lateness group window drained in two runs
    that share one checkpoint, the second file arriving between them,
    emit exactly what one run over both files does. The second file's
    rows join windows and slices that the first run left in state. None
    of them is late: after the first run's closing no-data batch, Spark
    drops rows behind its watermark before the operator sees them.

    The two runs also differ in their state partition count: the first
    starts at the session's 8, and the restart, started capped at the
    cores, keeps the 8 of its checkpoint's offset log."""
    import datetime as dt

    from pyspark.sql.types import DoubleType, LongType, StringType

    from flink_release_1_16_0_spark.streaming.group_window import (
        streaming_group_window_agg,
    )
    from flink_release_1_16_0_spark.streaming.window_tvf import (
        streaming_window_tvf_agg,
    )

    ddl = "k string, ts timestamp, v double"
    t0 = dt.datetime(2024, 1, 1, 10)

    def rows(*spec):
        return [(k, t0 + dt.timedelta(seconds=s), v) for k, s, v in spec]

    # the first run ends at watermark 10:28
    first = rows(("a", 0, 1.0), ("a", 180, 2.5), ("b", 240, 0.125), ("a", 720, 3.0),
                 ("b", 1020, 4.0), ("a", 1740, 5.0))
    second = rows(("a", 1710, 6.0), ("b", 1860, 7.0), ("a", 2160, 5.0), ("b", 2640, 9.0))
    minute = 60 * 1000

    def query(data_dir):
        stream = (
            spark.readStream.schema(ddl)
            .option("maxFilesPerTrigger", "1")
            .parquet(data_dir)
            .withWatermark("ts", "1 minute")
        )
        if op == "hop":
            aggs = [
                ("n", "count_star", None, LongType()),
                ("s", "sum", "v", StringType()),
                ("mx", "max", "v", DoubleType()),
                ("dv", "count_distinct", "v", LongType()),
            ]
            return streaming_window_tvf_agg(
                stream, ["k"], "ts", aggs, kind="hop",
                size_ms=10 * minute, slide_ms=5 * minute,
            ), "append"
        aggs = [("n", "count_star", None, LongType()), ("s", "sum", "v", StringType())]
        return streaming_group_window_agg(
            stream, ["k"], "ts", aggs, size_ms=10 * minute,
            allowed_lateness_ms=10 * minute,
        ), "update"

    def drain(name, ckpt, start=_start):
        """Drains the query into ``name``'s sink and returns the state
        partition counts its progress reports."""
        out, mode = query(str(tmp_path / name / "data"))
        writer = (
            out.writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(str(tmp_path / name / "sink"))
            )
            .option("checkpointLocation", str(tmp_path / name / ckpt))
            .outputMode(mode)
        )
        q = start(out, writer)
        _drain(q, 300)
        return {p.stateOperators[0].numShufflePartitions for p in q.recentProgress}

    def start_uncapped(_out, writer):
        return writer.trigger(availableNow=True).start()

    def table(name):
        return sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / name / "sink")).collect())

    conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    _write_chunk(spark, str(tmp_path / "one" / "data"), first, ddl, 1000)
    _write_chunk(spark, str(tmp_path / "one" / "data"), second, ddl, 2000)
    assert drain("one", "ckpt") == {min(conf, spark.sparkContext.defaultParallelism)}
    # the first run starts at the session's count; the restart goes
    # through the capped start but keeps the count of its offset log
    _write_chunk(spark, str(tmp_path / "two" / "data"), first, ddl, 1000)
    assert drain("two", "ckpt", start=start_uncapped) == {conf}
    _write_chunk(spark, str(tmp_path / "two" / "data"), second, ddl, 2000)
    assert drain("two", "ckpt") == {conf}
    assert table("two") == table("one")
    # the 10:20-10:30 window of key a holds a first-run row (10:29, 5.0)
    # and a second-run row (10:28:30, 6.0)
    w = (t0 + dt.timedelta(minutes=20), t0 + dt.timedelta(minutes=30))
    want = ("a", *w, 2, "11.0", 6.0, 2) if op == "hop" else ("+I", "a", *w, 2, "11.0")
    assert want in table("one")


def test_hop_window_agg_allowed_lateness(spark, tmp_path_factory):
    """Hop (sliding) group windows with allowed lateness: a row lands
    in size/slide overlapping windows, and a late-but-allowed row
    re-fires EVERY fired window that contains it."""
    import datetime as dt

    from flink_release_1_16_0_spark.streaming.group_window import (
        streaming_group_window_agg,
    )
    from tools.fuzz_changelog import COUNT_SUM

    path = str(tmp_path_factory.mktemp("hoplate"))
    schema = "k bigint, ts timestamp, v double"
    T = dt.datetime(2024, 1, 1, 10, 0, 0)

    def at(minute):
        return T + dt.timedelta(minutes=minute)

    batches = [
        [(1, at(2), 1.0)],        # windows [9:55,10:05) and [10:00,10:10)
        [(1, at(14), 5.0)],       # wm -> 10:13: fires both
        [(1, at(3), 2.0)],        # late, allowed: re-fires both
        [(1, at(50), 7.0)],       # retires everything old
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            f"{path}/b={i}"
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path + "/b=*")
        .withWatermark("ts", "1 minute")
    )
    out = run_to_table(
        streaming_group_window_agg(
            stream,
            ["k"],
            "ts",
            COUNT_SUM,
            kind="sliding",
            size_ms=10 * 60 * 1000,
            slide_ms=5 * 60 * 1000,
            allowed_lateness_ms=10 * 60 * 1000,
        ),
        "update",
    )
    rows = sorted(
        (str(r["window_start"]), r["__rowkind"], r["n"], r["total"])
        for r in out.collect()
    )
    for ws in ("2024-01-01 09:55:00", "2024-01-01 10:00:00"):
        got = [r for r in rows if r[0] == ws]
        assert got == [
            (ws, "+I", 1, 1.0),
            (ws, "+U", 2, 3.0),
            (ws, "-U", 1, 1.0),
        ], got


def test_streaming_window_dedup_converges(spark, sf_smoke, chunked_events, events_schema):
    """The per-key windowed dedup (windows nested in ONE state entry per
    key — the round-10 per-group-constant fix) must converge to the
    batch keep-first winner per (window, user) across out-of-order
    micro-batches, exactly like routing the window into the group key
    would."""
    from flink_release_1_16_0_spark.streaming.stateful import streaming_window_dedup

    stream = _stream(spark, chunked_events, events_schema).select(
        F.window("ts", "1 hour").getField("start").alias("win_start"),
        "user_id",
        "event_id",
        "ts",
    )
    out = run_to_table(
        streaming_window_dedup(
            stream,
            window_col="win_start",
            keys=["user_id"],
            order_col=["ts", "event_id"],
            keep="first",
        ),
        "update",
    )
    # update emissions refine toward the final winner: keep the min
    # (ts, event_id) emission per (win, user) and compare to batch
    w = {
        (r["win_start"], r["user_id"]): r["e"]
        for r in out.groupBy("win_start", "user_id")
        .agg(F.min(F.struct("ts", "event_id")).getField("event_id").alias("e"))
        .collect()
    }
    want = {
        (r["win_start"], r["user_id"]): r["e"]
        for r in _batch_events(spark, sf_smoke)
        .select(
            F.window("ts", "1 hour").getField("start").alias("win_start"),
            "user_id",
            "event_id",
            "ts",
        )
        .groupBy("win_start", "user_id")
        .agg(F.min(F.struct("ts", "event_id")).getField("event_id").alias("e"))
        .collect()
    }
    assert w == want


def test_window_dedup_evicts_passed_windows(spark, tmp_path):
    """With window_size_ms + a watermark, streaming_window_dedup drops
    rows for windows whose end is behind the watermark (zero allowed
    lateness, the reference's RowTimeWindowDeduplicate semantics) and
    evicts those windows' winners from state — per-key state is bounded
    by OPEN windows, not stream lifetime (round-10 review finding).

    Three time-ordered micro-batches: batch 1 fills window W0, batch 2
    advances the watermark past W0's end, batch 3 delivers a late row
    for W0 that WOULD win keep-first — it must be dropped, never
    emitted."""
    import datetime as dt
    import os
    import time

    from flink_release_1_16_0_spark.streaming.stateful import streaming_window_dedup
    from flink_release_1_16_0_spark.streaming.core import run_to_table

    d = str(tmp_path / "chunks")
    os.makedirs(d)

    def ts(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    schema = "user_id BIGINT, event_id BIGINT, ts TIMESTAMP"
    batches = [
        [(1, 10, ts(0, 5)), (1, 11, ts(0, 10))],      # W0 winner = 10
        [(1, 20, ts(2, 0))],                           # wm -> 01:50 > W0 end
        [(1, 5, ts(0, 1))],                            # late W0 row, would win
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i, rows in enumerate(batches):
        p = os.path.join(d, f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], pa.int64()),
                    "event_id": pa.array([r[1] for r in rows], pa.int64()),
                    "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
                }
            ),
            p,
        )
        t = time.time() - 100 + i * 10  # strictly increasing mtimes
        os.utime(p, (t, t))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .select(
            F.window("ts", "1 hour").getField("start").alias("win_start"),
            "user_id",
            "event_id",
            "ts",
        )
        .withWatermark("ts", "10 minutes")
    )
    out = run_to_table(
        streaming_window_dedup(
            stream,
            window_col="win_start",
            keys=["user_id"],
            order_col=["ts", "event_id"],
            keep="first",
            window_size_ms=3_600_000,
        ),
        "update",
    )
    emitted = {(r["win_start"], r["event_id"]) for r in out.collect()}
    assert (ts(0, 0), 10) in emitted  # W0's on-time winner
    assert (ts(2, 0), 20) in emitted  # W2's winner
    # the late refinement for the PASSED window never emits
    assert all(eid != 5 for _, eid in emitted), emitted


def test_changelog_outer_join_flip_across_batches(spark, tmp_path):
    """End-to-end (real micro-batches) pin of the outer-join
    null-padding protocol: a left row emitted null-padded in batch 1
    RETRACTS when the key's first right row arrives in batch 2, and the
    null-padded row RE-EMITS when the right side drains in batch 3
    (OuterJoinRecordStateView's numAssociations flips). The fuzzer pins
    the algebra at the closure level; this pins the Spark plumbing."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_release_1_16_0_spark.streaming.changelog import ROWKIND
    from flink_release_1_16_0_spark.streaming.core import run_to_table
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_changelog_join,
    )

    d = str(tmp_path / "oj_chunks")
    os.makedirs(d)
    # unioned-input layout is built by the operator from two streams;
    # here each parquet file is one micro-batch of ONE side's changelog
    batches = [
        # batch 1: left row arrives, no right yet -> (l1, null) +I
        [("+I", 0, 1, "L", 10, None)],
        # batch 2: right row arrives -> -D (l1, null), +I (l1, 77)
        [("+I", 1, 1, "R", None, 77)],
        # batch 3: right retracts -> -D (l1, 77), +I (l1, null)
        [("-D", 2, 1, "R", None, 77)],
    ]
    schema = pa.schema(
        [
            ("__rowkind", pa.string()),
            ("seq", pa.int64()),
            ("k", pa.int64()),
            ("side", pa.string()),
            ("lv", pa.int64()),
            ("rv", pa.int64()),
        ]
    )
    for i, rows in enumerate(batches):
        p = os.path.join(d, f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    f.name: pa.array([r[j] for r in rows], f.type)
                    for j, f in enumerate(schema)
                }
            ),
            p,
        )
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))

    raw = (
        spark.readStream.schema(
            "__rowkind STRING, seq BIGINT, k BIGINT, side STRING, "
            "lv BIGINT, rv BIGINT"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    left = raw.filter("side = 'L'").select("__rowkind", "seq", "k", "lv")
    right = raw.filter("side = 'R'").select("__rowkind", "seq", "k", "rv")
    out = run_to_table(
        streaming_changelog_join(left, right, keys=["k"], join_type="left"),
        "update",
    )
    from collections import Counter

    got = Counter(
        (r["k"], r["lv"], r["rv"], r[ROWKIND], r["__m"])
        for r in out.collect()
    )
    assert got == Counter(
        [
            (1, 10, None, "+I", 1),   # batch 1: null-padded
            (1, 10, None, "-D", 1),   # batch 2: flip retract
            (1, 10, 77, "+I", 1),     # batch 2: join
            (1, 10, 77, "-D", 1),     # batch 3: retract join
            (1, 10, None, "+I", 1),   # batch 3: null-pad returns
        ]
    ), got


def test_interval_join_boundaries_itcase(spark, tmp_path):
    """Ported from the reference's IntervalJoinITCase.testRowTimeInnerJoin
    (stream/sql/IntervalJoinITCase.scala:175): BETWEEN is inclusive at
    BOTH bounds (LEFT1 at exactly rowtime-5s joins; LEFT0.999 one ms
    below does not) and NULL keys never join."""
    import datetime as dt
    import os

    def write(side, rows):
        p = str(tmp_path / side)
        os.makedirs(p, exist_ok=True)
        spark.createDataFrame(
            [(k, i, dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(milliseconds=ms))
             for k, i, ms in rows],
            "key STRING, id STRING, rowtime TIMESTAMP",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return (
            spark.readStream.schema("key STRING, id STRING, rowtime TIMESTAMP")
            .parquet(p)
        )

    t1 = write("t1", [
        ("A", "LEFT0.999", 999), ("A", "LEFT1", 1000), ("A", "LEFT2", 2000),
        ("A", "LEFT3", 3000), ("B", "LEFT4", 4000), ("A", "LEFT5", 5000),
        ("A", "LEFT6", 6000), (None, "LEFT8", 8000),
    ])
    t2 = write("t2", [
        ("A", "RIGHT6", 6000), ("B", "RIGHT7", 7000), (None, "RIGHT10", 10000),
    ]).select(
        F.col("key").alias("key2"),
        F.col("id").alias("id2"),
        F.col("rowtime").alias("rowtime2"),
    )
    joined = t1.join(
        t2,
        (F.col("key") == F.col("key2"))
        & (F.col("rowtime") >= F.col("rowtime2") - F.expr("INTERVAL 5 SECONDS"))
        & (F.col("rowtime") <= F.col("rowtime2") + F.expr("INTERVAL 6 SECONDS")),
    ).select("key2", "id2", "id")
    out = run_to_table(joined, "append")
    got = sorted(",".join([r["key2"], r["id2"], r["id"]]) for r in out.collect())
    assert got == [
        "A,RIGHT6,LEFT1",
        "A,RIGHT6,LEFT2",
        "A,RIGHT6,LEFT3",
        "A,RIGHT6,LEFT5",
        "A,RIGHT6,LEFT6",
        "B,RIGHT7,LEFT4",
    ]


def test_interval_left_outer_join_itcase(spark, tmp_path):
    """Ported from IntervalJoinITCase.testRowTimeLeftOuterJoin
    (stream/sql/IntervalJoinITCase.scala:729): null padding for (a) a
    row excluded by the NON-EQUI condition (L-5), (b) a key with no
    right rows at all (C/L-7), and (c) a row whose window closes empty
    (L-20). Adaptation: the reference's bounded run flushes outer state
    at final-watermark +inf; Spark closes windows only when the
    watermark passes, so a sentinel key-Z event advances it (excluded
    from the assertion)."""
    import datetime as dt
    import os
    import time

    base = dt.datetime(2024, 1, 1)

    def write(side, rows, sentinel_ms):
        p = str(tmp_path / side)
        os.makedirs(p, exist_ok=True)
        df = spark.createDataFrame(
            [(k, i, base + dt.timedelta(milliseconds=ms)) for k, i, ms in rows],
            "key STRING, id STRING, rowtime TIMESTAMP",
        )
        df.coalesce(1).write.mode("overwrite").parquet(p + "/b0")
        spark.createDataFrame(
            [("Z", "SENTINEL", base + dt.timedelta(milliseconds=sentinel_ms))],
            "key STRING, id STRING, rowtime TIMESTAMP",
        ).coalesce(1).write.mode("overwrite").parquet(p + "/b1")
        now = time.time()
        os.utime(p + "/b0", (now - 60, now - 60))
        os.utime(p + "/b1", (now - 30, now - 30))
        return (
            spark.readStream.schema("key STRING, id STRING, rowtime TIMESTAMP")
            .option("maxFilesPerTrigger", "1")
            .parquet(p + "/b*")
            .withWatermark("rowtime", "1 second")
        )

    t1 = write("lo_t1", [
        ("A", "L-1", 1000), ("A", "L-2", 2000), ("B", "L-4", 4000),
        ("B", "L-5", 5000), ("A", "L-6", 6000), ("C", "L-7", 7000),
        ("A", "L-10", 10000), ("A", "L-12", 12000), ("A", "L-20", 20000),
    ], 100_000)
    t2 = write("lo_t2", [
        ("A", "R-6", 6000), ("B", "R-7", 7000), ("D", "R-8", 8000),
        ("A", "R-11", 11000),
    ], 100_000).select(
        F.col("key").alias("key2"),
        F.col("id").alias("id2"),
        F.col("rowtime").alias("rowtime2"),
    )
    joined = t1.join(
        t2,
        (F.col("key") == F.col("key2"))
        & (F.col("rowtime") >= F.col("rowtime2") - F.expr("INTERVAL 5 SECONDS"))
        & (F.col("rowtime") <= F.col("rowtime2") + F.expr("INTERVAL 6 SECONDS"))
        & (F.col("id") != F.lit("L-5")),
        "left_outer",
    ).select("key", "id2", "id")
    out = run_to_table(joined, "append")
    got = sorted(
        f"{r['key']},{r['id2']},{r['id']}"
        for r in out.collect()
        if r["key"] != "Z"
    )
    assert got == sorted([
        "A,R-6,L-1", "A,R-6,L-2", "A,R-6,L-6", "A,R-6,L-10", "A,R-6,L-12",
        "B,R-7,L-4", "A,R-11,L-6", "A,R-11,L-10", "A,R-11,L-12",
        "B,None,L-5", "C,None,L-7", "A,None,L-20",
    ])


def test_interval_full_outer_join_itcase(spark, tmp_path):
    """Ported from IntervalJoinITCase.testRowTimeFullOuterJoin
    (stream/sql/IntervalJoinITCase.scala:1021): both sides null-pad —
    rows excluded by the negated non-equi condition (L-5/R-5), keys
    with no counterpart (C, D), and empty windows (L-20); same
    sentinel watermark-advancer adaptation as the left-outer port."""
    import datetime as dt
    import os
    import time

    base = dt.datetime(2024, 1, 1)

    def write(side, rows):
        p = str(tmp_path / side)
        os.makedirs(p, exist_ok=True)
        spark.createDataFrame(
            [(k, i, base + dt.timedelta(milliseconds=ms)) for k, i, ms in rows],
            "key STRING, id STRING, rowtime TIMESTAMP",
        ).coalesce(1).write.mode("overwrite").parquet(p + "/b0")
        spark.createDataFrame(
            [("Z", "SENTINEL", base + dt.timedelta(milliseconds=100_000))],
            "key STRING, id STRING, rowtime TIMESTAMP",
        ).coalesce(1).write.mode("overwrite").parquet(p + "/b1")
        now = time.time()
        os.utime(p + "/b0", (now - 60, now - 60))
        os.utime(p + "/b1", (now - 30, now - 30))
        return (
            spark.readStream.schema("key STRING, id STRING, rowtime TIMESTAMP")
            .option("maxFilesPerTrigger", "1")
            .parquet(p + "/b*")
            .withWatermark("rowtime", "1 second")
        )

    t1 = write("fo_t1", [
        ("A", "L-1", 1000), ("A", "L-2", 2000), ("B", "L-4", 4000),
        ("B", "L-5", 5000), ("A", "L-6", 6000), ("C", "L-7", 7000),
        ("A", "L-10", 10000), ("A", "L-12", 12000), ("A", "L-20", 20000),
    ])
    t2 = write("fo_t2", [
        ("A", "R-5", 5000), ("A", "R-6", 6000), ("B", "R-7", 7000),
        ("D", "R-8", 8000),
    ]).select(
        F.col("key").alias("key2"),
        F.col("id").alias("id2"),
        F.col("rowtime").alias("rowtime2"),
    )
    joined = t1.join(
        t2,
        (F.col("key") == F.col("key2"))
        & (F.col("rowtime") >= F.col("rowtime2") - F.expr("INTERVAL 5 SECONDS"))
        & (F.col("rowtime") <= F.col("rowtime2") + F.expr("INTERVAL 6 SECONDS"))
        & ~((F.col("id") == F.lit("L-5")) | (F.col("id2") == F.lit("R-5"))),
        "full_outer",
    ).select("key2", "id2", "id")
    out = run_to_table(joined, "append")
    got = sorted(
        f"{r['key2']},{r['id2']},{r['id']}"
        for r in out.collect()
        if r["id"] != "SENTINEL" and r["id2"] != "SENTINEL"
    )
    assert got == sorted([
        "A,R-6,L-1", "A,R-6,L-2", "A,R-6,L-6", "A,R-6,L-10", "A,R-6,L-12",
        "B,R-7,L-4",
        "A,R-5,None",
        "D,R-8,None",
        "None,None,L-5", "None,None,L-7", "None,None,L-20",
    ])


def test_interval_full_outer_join_negative_interval_itcase(spark, tmp_path):
    """Ported from
    IntervalJoinITCase.testRowTimeFullOuterJoinNegativeIntervalSize:
    BETWEEN t2.rowtime + 5s AND t2.rowtime + 2s is an EMPTY interval —
    nothing ever joins, every row on both sides null-pads."""
    import datetime as dt
    import os
    import time

    base = dt.datetime(2024, 1, 1)

    def write(side, rows):
        p = str(tmp_path / side)
        os.makedirs(p, exist_ok=True)
        spark.createDataFrame(
            [(k, i, base + dt.timedelta(milliseconds=ms)) for k, i, ms in rows],
            "key STRING, id STRING, rowtime TIMESTAMP",
        ).coalesce(1).write.mode("overwrite").parquet(p + "/b0")
        spark.createDataFrame(
            [("Z", "SENTINEL", base + dt.timedelta(milliseconds=100_000))],
            "key STRING, id STRING, rowtime TIMESTAMP",
        ).coalesce(1).write.mode("overwrite").parquet(p + "/b1")
        now = time.time()
        os.utime(p + "/b0", (now - 60, now - 60))
        os.utime(p + "/b1", (now - 30, now - 30))
        return (
            spark.readStream.schema("key STRING, id STRING, rowtime TIMESTAMP")
            .option("maxFilesPerTrigger", "1")
            .parquet(p + "/b*")
            .withWatermark("rowtime", "1 second")
        )

    t1 = write("ni_t1", [("A", "L-1", 1000), ("B", "L-4", 4000), ("C", "L-7", 7000)])
    t2 = write("ni_t2", [("A", "R-6", 6000), ("B", "R-7", 7000), ("D", "R-8", 8000)]).select(
        F.col("key").alias("key2"),
        F.col("id").alias("id2"),
        F.col("rowtime").alias("rowtime2"),
    )
    joined = t1.join(
        t2,
        (F.col("key") == F.col("key2"))
        & (F.col("rowtime") >= F.col("rowtime2") + F.expr("INTERVAL 5 SECONDS"))
        & (F.col("rowtime") <= F.col("rowtime2") + F.expr("INTERVAL 2 SECONDS")),
        "full_outer",
    ).select("key2", "id2", "id")
    out = run_to_table(joined, "append")
    got = sorted(
        f"{r['key2']},{r['id2']},{r['id']}"
        for r in out.collect()
        if r["id"] != "SENTINEL" and r["id2"] != "SENTINEL"
    )
    assert got == sorted([
        "None,None,L-1", "None,None,L-4", "None,None,L-7",
        "A,R-6,None", "B,R-7,None", "D,R-8,None",
    ])


def test_interval_right_outer_join_itcase(spark, tmp_path):
    """Ported from IntervalJoinITCase.testRowTimeRightOuterJoin
    (stream/sql/IntervalJoinITCase.scala:878): the symmetric outer
    side — R-5 null-pads via the non-equi exclusion, D/R-8 via the
    missing key, R-20 via an empty window."""
    import datetime as dt
    import os
    import time

    base = dt.datetime(2024, 1, 1)

    def write(side, rows):
        p = str(tmp_path / side)
        os.makedirs(p, exist_ok=True)
        spark.createDataFrame(
            [(k, i, base + dt.timedelta(milliseconds=ms)) for k, i, ms in rows],
            "key STRING, id STRING, rowtime TIMESTAMP",
        ).coalesce(1).write.mode("overwrite").parquet(p + "/b0")
        spark.createDataFrame(
            [("Z", "SENTINEL", base + dt.timedelta(milliseconds=100_000))],
            "key STRING, id STRING, rowtime TIMESTAMP",
        ).coalesce(1).write.mode("overwrite").parquet(p + "/b1")
        now = time.time()
        os.utime(p + "/b0", (now - 60, now - 60))
        os.utime(p + "/b1", (now - 30, now - 30))
        return (
            spark.readStream.schema("key STRING, id STRING, rowtime TIMESTAMP")
            .option("maxFilesPerTrigger", "1")
            .parquet(p + "/b*")
            .withWatermark("rowtime", "1 second")
        )

    t1 = write("ro_t1", [
        ("A", "L-1", 1000), ("A", "L-2", 2000), ("B", "L-4", 4000),
        ("A", "L-6", 6000), ("C", "L-7", 7000), ("A", "L-10", 10000),
        ("A", "L-12", 12000),
    ])
    t2 = write("ro_t2", [
        ("A", "R-5", 5000), ("A", "R-6", 6000), ("B", "R-7", 7000),
        ("D", "R-8", 8000), ("A", "R-20", 20000),
    ]).select(
        F.col("key").alias("key2"),
        F.col("id").alias("id2"),
        F.col("rowtime").alias("rowtime2"),
    )
    joined = t1.join(
        t2,
        (F.col("key") == F.col("key2"))
        & (F.col("rowtime") >= F.col("rowtime2") - F.expr("INTERVAL 5 SECONDS"))
        & (F.col("rowtime") <= F.col("rowtime2") + F.expr("INTERVAL 6 SECONDS"))
        & (F.col("id2") != F.lit("R-5")),
        "right_outer",
    ).select("key2", "id2", "id")
    out = run_to_table(joined, "append")
    got = sorted(
        f"{r['key2']},{r['id2']},{r['id']}"
        for r in out.collect()
        if r["id2"] != "SENTINEL" and r["id"] != "SENTINEL"
    )
    assert got == sorted([
        "A,R-5,None",
        "A,R-6,L-1", "A,R-6,L-2", "A,R-6,L-6", "A,R-6,L-10", "A,R-6,L-12",
        "A,R-20,None",
        "B,R-7,L-4",
        "D,R-8,None",
    ])
