"""Streaming replay harness: bounded-log -> stream -> materialized table.

The reference validates streaming operators by replaying deterministic
event logs and asserting the final sink contents (the *ITCase pattern,
SURVEY.md section 5). Spark equivalent: `readStream` over the driver's
parquet fixtures, `trigger(availableNow=True)` to drain the log through
the micro-batch engine, a memory sink to materialize, then return the
sink table as a regular DataFrame. Complete/update/append mode is the
caller's choice per operator (complete for unbounded-window aggs so the
final state is fully emitted; append for stateless calc and
stream-stream joins whose matches emit within the batch).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from flink_release_1_16_0_spark.catalog import normalize_event_ts

_SINK_COUNTER = itertools.count()


def replay_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table as a file-source stream (bounded replay).

    Schema comes from the batch reader; the events table's TIMESTAMP
    (NANOS) column arrives as bigint under the nanosAsLong conf and is
    converted exactly like the batch path (catalog.load_table), so the
    streaming and batch plans see identical types.
    """
    if name == "events":
        # Same defensive runtime conf as catalog.load_table: the events
        # fixture stores TIMESTAMP(NANOS), unreadable without this flag.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # The file stream source requires a directory; pathGlobFilter pins it
    # to this table's file within the shared fixture dir.
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    if name == "events":
        # Same three-way normalization as the batch path (bigint /
        # timestamp_ntz / timestamp) so streaming and batch plans see
        # identical types; withWatermark rejects TIMESTAMP_NTZ outright.
        stream = normalize_event_ts(stream)
    return stream


def run_to_table(
    stream_df: DataFrame,
    output_mode: str = "append",
    timeout_sec: int | None = None,
) -> DataFrame:
    """Drain a bounded stream through the micro-batch engine.

    Runs with availableNow (process everything, then stop) into a
    memory sink and returns the materialized table. The timeout
    defaults to 300 s, overridable with SPARK_GRAFT_STREAM_TIMEOUT —
    the sf3 density sweeps legitimately exceed 300 s on the heaviest
    stateful replays. A timed-out drain stops the query and raises
    ``TimeoutError`` (see :func:`_drain`); a failed one re-raises the
    query's exception. The returned DataFrame is a normal batch
    relation over the sink contents.
    """
    timeout_sec = _timeout(timeout_sec)
    if os.environ.get("SPARK_GRAFT_STREAM_SINK", "memory") == "spill":
        return _run_to_spill(stream_df, output_mode, timeout_sec)
    sink = f"__stream_sink_{next(_SINK_COUNTER)}"
    writer = stream_df.writeStream.format("memory").queryName(sink).outputMode(output_mode)
    _drain(_start(stream_df, writer), timeout_sec)
    spark = stream_df.sparkSession
    return spark.table(sink)


def _timeout(timeout_sec: int | None = None) -> int:
    """The drain timeout: ``timeout_sec``, else SPARK_GRAFT_STREAM_TIMEOUT,
    else 300 s."""
    if timeout_sec is None:
        return int(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", "300"))
    return timeout_sec


def _start(stream_df: DataFrame, writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` as an availableNow query: the one start path of
    every streaming query in the engine.

    The query's state partitions are capped at the cores:
    ``spark.sql.shuffle.partitions`` reads ``min(its value, cores)``
    while the query starts and its old value afterwards, also when the
    start raises. Each state partition commits every micro-batch, used
    or not, so partitions beyond the cores only add commits; the keys'
    layout is fixed by ``key_groups.KEY_GROUPS``, not by this count.
    The query keeps the capped count because it clones the session conf
    when it starts and records the count in its checkpoint's offset
    log, so a restart keeps the count its checkpoint began with. Batch
    plans never see the cap, and a smaller session setting wins.
    """
    spark = stream_df.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(min(int(old), spark.sparkContext.defaultParallelism)))
    try:
        return writer.trigger(availableNow=True).start()
    finally:
        spark.conf.set(key, old)


def _drain(q: StreamingQuery, timeout_sec: int) -> None:
    """awaitTermination with loud failure + loud timeout (shared by every
    query :func:`_start` starts)."""
    try:
        finished = q.awaitTermination(timeout_sec)
        exc = q.exception()
        if exc is not None:
            raise exc
        if not finished:
            raise TimeoutError(
                f"stream drain exceeded {timeout_sec}s "
                "(raise SPARK_GRAFT_STREAM_TIMEOUT to extend)"
            )
    finally:
        if q.isActive:
            q.stop()


def _run_to_spill(
    stream_df: DataFrame, output_mode: str, timeout_sec: int
) -> DataFrame:
    """foreachBatch parquet-spill sink: each micro-batch's emissions are
    written executor-side to a temp parquet dir and the result is read
    back as a batch relation — identical contract to the MEMORY sink but
    with NO driver materialization, so sf3+ density sweeps are bounded by
    disk, not ``spark.driver.maxResultSize``. Complete mode overwrites
    (the memory sink's per-batch table replacement); append/update modes
    append (the memory sink's row accumulation). Activated with
    SPARK_GRAFT_STREAM_SINK=spill."""
    import tempfile

    spark = stream_df.sparkSession
    out_dir = tempfile.mkdtemp(prefix="stream_spill_")
    wrote = []

    def fb(batch_df: DataFrame, _bid: int) -> None:
        mode = "overwrite" if output_mode == "complete" else "append"
        batch_df.write.mode(mode).parquet(out_dir)
        wrote.append(True)

    writer = stream_df.writeStream.foreachBatch(fb).outputMode(output_mode)
    _drain(_start(stream_df, writer), timeout_sec)
    if not wrote:
        return spark.createDataFrame([], stream_df.schema)
    return spark.read.schema(stream_df.schema).parquet(out_dir)


def run_to_digest(
    stream_df: DataFrame,
    output_mode: str = "update",
    timeout_sec: int | None = None,
) -> dict:
    """Drain a bounded stream folding every micro-batch into a tiny
    executor-side digest (foreachBatch + aggregate) — per-rowkind row
    counts and an order-insensitive signed checksum. Only a handful of
    aggregate values ever reach the driver, so this measures changelog
    output at ANY density (the sf3+ sweeps' replacement for
    materializing sinks).

    The checksum is ``sum(sign * xxhash64(data cols as strings))`` with
    sign +1 for +I/+U and -1 for -U/-D: by multiset identity the net
    checksum of a correct changelog equals ``digest_of_batch`` of the
    final materialized state, so a digest compare needs no ordering or
    single-batch assumption. Compare with :func:`digest_of_batch` on
    the oracle's final rows."""
    timeout_sec = _timeout(timeout_sec)
    rowkind = "__rowkind"
    has_rk = rowkind in stream_df.columns
    totals = {"rows": 0, "by_rowkind": {}, "net_count": 0, "net_checksum": 0}

    def fb(batch_df: DataFrame, _bid: int) -> None:
        data_cols = sorted(c for c in batch_df.columns if c != rowkind)
        h = F.xxhash64(*[F.col(c).cast("string") for c in data_cols]).cast(
            "decimal(38,0)"
        )
        if has_rk:
            sign = F.when(
                F.col(rowkind).isin("+I", "+U"), F.lit(1)
            ).otherwise(F.lit(-1))
            rk = F.col(rowkind)
        else:
            sign, rk = F.lit(1), F.lit("+I")
        parts = (
            batch_df.groupBy(rk.alias("rk"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(sign).alias("net"),
                F.sum(sign * h).alias("chk"),
            )
            .collect()
        )
        for r in parts:
            totals["rows"] += r["n"]
            totals["by_rowkind"][r["rk"]] = (
                totals["by_rowkind"].get(r["rk"], 0) + r["n"]
            )
            totals["net_count"] += int(r["net"])
            totals["net_checksum"] += int(r["chk"] or 0)

    writer = stream_df.writeStream.foreachBatch(fb).outputMode(output_mode)
    _drain(_start(stream_df, writer), timeout_sec)
    return totals


def digest_of_batch(df: DataFrame) -> dict:
    """Order-insensitive digest of a batch relation — ``net_count`` and
    ``net_checksum`` directly comparable to :func:`run_to_digest` of a
    changelog that converges to this state. Hashes the same way: sorted
    data columns cast to string, xxhash64 per row, summed."""
    data_cols = sorted(c for c in df.columns if c != "__rowkind")
    h = F.xxhash64(*[F.col(c).cast("string") for c in data_cols]).cast(
        "decimal(38,0)"
    )
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(h).alias("chk")
    ).collect()[0]
    return {"net_count": int(row["n"]), "net_checksum": int(row["chk"] or 0)}


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical watermarked event stream (ts = event time)."""
    return replay_stream(spark, sf_dir, "events").withWatermark("ts", "10 minutes")
