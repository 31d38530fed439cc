"""DataStream API facade lowered onto Spark DataFrames.

Reference parity (SURVEY.md section 1.4 item 3 / section 3.3): the
fluent surface of ``DataStream.java`` (map:572, flatMap:608,
process:647, filter:695, union:227, connect:253/275, keyBy:290,
broadcast:419/434, shuffle:448, forward:458, rebalance:468, rescale:491,
global:503, partitionCustom:397, iterate:530, project:712, coGroup:720,
join:728, assignTimestampsAndWatermarks:857),
``KeyedStream.java`` (process:325, intervalJoin:438, window:725,
countWindow:696, reduce:743, sum:767, min:816, max:857, minBy:882,
maxBy:906) and ``WindowedStream.java`` (reduce:162, aggregate:285,
apply:546, process:587).

Execution model — NOT a port of Flink's StreamTask chain. A DataStream
wraps a Spark DataFrame; transformations stay declarative:

- built-in keyed aggregations (sum/min/max/minBy/maxBy) lower to native
  Catalyst ``groupBy().agg()`` — one hash exchange, whole-stage codegen,
  scale-safe;
- window assignment lowers to native ``F.window``/``F.session_window``
  before any Python runs, so the shuffle key is (key, window) and the
  pandas harness only ever sees one group;
- arbitrary user functions run Arrow-batched (``mapInPandas`` for
  stateless ops, ``grouped_apply`` for keyed/window ops). Per-row Python
  is inherent to user lambdas — the reference pays the same cost through
  its Beam harness for PyFlink UDFs (AbstractPythonFunctionOperator.java:48).

Bounded inputs execute with the reference's BATCH execution-mode
semantics (RuntimeExecutionMode.BATCH): per key, elements are processed
in event-time order, keyed state lives for the key's group, the
watermark jumps to +inf at end of input and fires all timers. On
unbounded (micro-batch) input the keyed functions run on one
``applyInPandasWithState`` step (:func:`_keyed_process`) and the
window aggregate on the SQL window operators' ``window_step``; both
fire at the reference's boundaries (a timer at ``t <= wm``, a window at
``end - 1 <= wm``).

Scale note (100 TB): a bounded keyed function materializes one key's
group in executor memory — the same bound as the reference's batch
sort-based keyed operators holding one key's run. Heavy-key workloads
should use the Table/SQL layer where aggregation is incremental.
"""

from __future__ import annotations

import datetime
import json
from typing import Any, Callable, Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from flink_release_1_16_0_spark.datastream.functions import (
    AggregateFunction,
    BroadcastContext,
    BroadcastProcessFunction,
    CoGroupFunction,
    Collector,
    Context,
    CoProcessFunction,
    CountWindow,
    FilterFunction,
    FlatMapFunction,
    JoinFunction,
    KeyedProcessFunction,
    MapFunction,
    MapStateDescriptor,
    OutputTag,
    ProcessFunction,
    ProcessJoinFunction,
    ProcessWindowFunction,
    ReadOnlyBroadcastContext,
    ReduceFunction,
    ReducingStateDescriptor,
    RuntimeContext,
    TimerService,
    TimeWindow,
    WatermarkStrategy,
    WindowContext,
    WindowFunction,
    _to_ms,
)
from flink_release_1_16_0_spark.operators.grouped import grouped_apply, to_pdf
from flink_release_1_16_0_spark.streaming.event_buffer import timeout_at
from flink_release_1_16_0_spark.streaming.window_tvf import window_step

_SIDE_TAG = "__side_tag"
_SIDE_JSON = "__side_json"
# the columns a process function's side-output rows travel in
_SIDE_FIELDS = [StructField(_SIDE_TAG, StringType()), StructField(_SIDE_JSON, StringType())]


def _parse_ddl(spark: SparkSession, ddl: str | StructType) -> StructType:
    if isinstance(ddl, StructType):
        return ddl
    return spark.createDataFrame([], ddl).schema


def _row_iter(pdf: pd.DataFrame) -> Iterable[dict]:
    # to_dict('records') keeps python-native access cheap; NaT/NaN appear
    # as-is, matching what a PyFlink Row would carry for SQL NULL
    return pdf.to_dict("records")


def _out_rows(ctx: Context, col: Collector, use_side: bool) -> list[dict]:
    """A process function's collected rows, plus its side-output rows
    (JSON in :data:`_SIDE_FIELDS`) when the operator declared side
    outputs."""
    if not use_side:
        return col.rows
    return [{**r, _SIDE_TAG: None, _SIDE_JSON: None} for r in col.rows] + [
        {_SIDE_TAG: tag_id, _SIDE_JSON: json.dumps(r, default=str)}
        for tag_id, r in ctx.side_rows
    ]


def _ts_ms(v) -> int | None:
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (int, float)):
        # epoch-MILLISECONDS (Flink's long timestamps); numeric time
        # columns are normalized to TIMESTAMP at watermark assignment so
        # the JVM-side lowerings agree with this reading
        return int(v)
    if isinstance(v, pd.Timestamp):
        return int(v.value // 1_000_000)
    if isinstance(v, datetime.datetime):
        return int(v.timestamp() * 1000)
    if isinstance(v, datetime.date):
        # DATE event time (e.g. o_orderdate): midnight UTC, matching
        # Spark's cast(date as timestamp) in the JVM-side lowerings
        return int(
            datetime.datetime(v.year, v.month, v.day, tzinfo=datetime.timezone.utc).timestamp() * 1000
        )
    return None


def _assign_time_windows(df: DataFrame, tcol: str, assigner) -> DataFrame:
    """Window assignment as pure native arithmetic over epoch-ms — the
    reference's TumblingEventTimeWindows.assignWindows /
    SlidingEventTimeWindows.assignWindows math
    (``windowing/assigners/*.java``), expressed in Catalyst so the
    (key, window) shuffle needs no Python. Adds ``__win_start`` /
    ``__win_end`` (long ms); a hop element explodes into every window
    containing it."""
    ts = F.unix_millis(F.col(tcol).cast("timestamp"))
    size = _to_ms(assigner.size)
    off = _to_ms(assigner.offset) if assigner.offset else 0
    if assigner.slide is None:
        start = (F.floor((ts - F.lit(off)) / F.lit(size)) * F.lit(size) + F.lit(off)).cast("long")
        return df.withColumn("__win_start", start).withColumn(
            "__win_end", (F.col("__win_start") + F.lit(size)).cast("long")
        )
    slide = _to_ms(assigner.slide)
    m_last = F.floor((ts - F.lit(off)) / F.lit(slide))
    m_first = F.floor((ts - F.lit(off) - F.lit(size)) / F.lit(slide)) + F.lit(1)
    # size < slide (sampling windows): elements between windows get an
    # empty range — guard, since sequence(a,b) descends when a > b
    wins = F.when(m_last >= m_first, F.sequence(m_first, m_last)).otherwise(
        F.array().cast("array<bigint>")
    )
    df = df.withColumn("__m", F.explode(wins))
    df = df.withColumn(
        "__win_start", (F.col("__m") * F.lit(slide) + F.lit(off)).cast("long")
    ).drop("__m")
    return df.withColumn("__win_end", (F.col("__win_start") + F.lit(size)).cast("long"))


def _assign_session_ids(df: DataFrame, tcol: str, keys: list[str], gap_ms: int) -> DataFrame:
    """Gap-based session ids per key (EventTimeSessionWindows semantics:
    merge while successive elements are <= gap apart). Native window
    functions: one exchange on the key, sort by time, cumulative-sum of
    gap breaks."""
    ts = F.unix_millis(F.col(tcol).cast("timestamp"))
    w = Window.partitionBy(*keys).orderBy(ts)
    # TimeWindow.intersects uses <=/>=, so TOUCHING windows merge: a
    # diff of exactly `gap` stays in the session; only diff > gap breaks
    # (the reference's session merge semantics)
    brk = (ts - F.lag(ts).over(w) > F.lit(gap_ms)).cast("int")
    return df.withColumn("__sess", F.sum(F.coalesce(brk, F.lit(0))).over(w))


# ---------------------------------------------------------------------------
# window assigners (flink-streaming-java/.../windowing/assigners/*.java)


class TumblingEventTimeWindows:
    def __init__(self, size, offset=None) -> None:
        self.size, self.offset, self.slide = size, offset, None

    @staticmethod
    def of(size, offset=None) -> "TumblingEventTimeWindows":
        return TumblingEventTimeWindows(size, offset)


class SlidingEventTimeWindows:
    def __init__(self, size, slide, offset=None) -> None:
        self.size, self.slide, self.offset = size, slide, offset

    @staticmethod
    def of(size, slide, offset=None) -> "SlidingEventTimeWindows":
        return SlidingEventTimeWindows(size, slide, offset)


class EventTimeSessionWindows:
    def __init__(self, gap) -> None:
        self.gap = gap

    @staticmethod
    def with_gap(gap) -> "EventTimeSessionWindows":
        return EventTimeSessionWindows(gap)


# ---------------------------------------------------------------------------
# environment


class StreamExecutionEnvironment:
    """StreamExecutionEnvironment.java facade: source creation +
    program entry. Bounded sources only (BATCH execution mode); the
    streaming path of the engine is the Table layer."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._parallelism: int | None = None
        # the facade's Python harnesses read DATE event time as midnight
        # UTC (_ts_ms) while the JVM lowerings cast via the session
        # timezone — they agree only under UTC, so require it loudly
        # instead of silently disagreeing on window/join bounds
        tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        if tz not in ("UTC", "Etc/UTC", "+00:00", "Z", "GMT"):
            raise ValueError(
                "the DataStream facade requires spark.sql.session.timeZone=UTC "
                f"(got {tz!r}): DATE/naive-timestamp event time is interpreted "
                "as UTC by the Python harnesses and by the native lowerings "
                "only under a UTC session timezone"
            )

    @staticmethod
    def get_execution_environment(spark: SparkSession) -> "StreamExecutionEnvironment":
        return StreamExecutionEnvironment(spark)

    def set_parallelism(self, n: int) -> "StreamExecutionEnvironment":
        """StreamExecutionEnvironment.setParallelism — the partition
        count the explicit redistribution ops (shuffle/rebalance/
        partitionCustom) target; defaults to the session's shuffle
        partitions."""
        self._parallelism = int(n)
        return self

    def get_parallelism(self) -> int:
        if self._parallelism is not None:
            return self._parallelism
        return int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def from_collection(self, data: list[dict], type_ddl: str) -> "DataStream":
        schema = _parse_ddl(self.spark, type_ddl)
        rows = [tuple(d.get(f.name) for f in schema.fields) for d in data]
        return DataStream(self, self.spark.createDataFrame(rows, schema))

    def from_elements(self, *elements, type_ddl: str | None = None) -> "DataStream":
        """StreamExecutionEnvironment.fromElements: varargs literals.
        Scalars become a single ``value`` column whose type is DERIVED
        from the elements (the reference derives it from the first
        element); tuples map positionally onto ``type_ddl`` (required
        for tuples — Python cannot name tuple fields safely)."""
        import datetime as _dt

        if elements and isinstance(elements[0], (tuple, list)):
            if type_ddl is None:
                raise ValueError("from_elements with tuples requires type_ddl")
            schema = _parse_ddl(self.spark, type_ddl)
            return DataStream(
                self, self.spark.createDataFrame([tuple(e) for e in elements], schema)
            )
        if type_ddl is None:
            first = next((e for e in elements if e is not None), None)
            spark_type = {
                bool: "boolean",  # before int (bool is an int subclass)
                int: "bigint",
                float: "double",
                str: "string",
                bytes: "binary",
                _dt.datetime: "timestamp",
                _dt.date: "date",
            }.get(type(first))
            if spark_type is None:
                raise ValueError(
                    f"cannot derive an element type from {type(first).__name__}; "
                    "pass type_ddl"
                )
            type_ddl = f"value {spark_type}"
        schema = _parse_ddl(self.spark, type_ddl)
        return DataStream(
            self, self.spark.createDataFrame([(e,) for e in elements], schema)
        )

    def from_sequence(self, start: int, end: int) -> "DataStream":
        """StreamExecutionEnvironment.fromSequence: the inclusive long
        range [start, end] — lowered to the native parallel range scan
        (NumberSequenceSource's splittable range, for free)."""
        if end >= 2**63 - 1:
            # spark.range's end is an EXCLUSIVE signed long; end+1 would
            # overflow — fail loudly instead of wrapping
            raise ValueError(
                "from_sequence end must be < 2**63 - 1 (Spark's range "
                "end is an exclusive 64-bit long)"
            )
        return DataStream(
            self, self.spark.range(start, end + 1).withColumnRenamed("id", "value")
        )

    def read_text_file(self, path: str) -> "DataStream":
        """StreamExecutionEnvironment.readTextFile: one row per line,
        column ``value`` (the TextInputFormat contract)."""
        return DataStream(self, self.spark.read.text(path))

    def from_data_frame(self, df: DataFrame) -> "DataStream":
        return DataStream(self, df)

    def from_parquet(self, path: str) -> "DataStream":
        return DataStream(self, self.spark.read.parquet(path))


# ---------------------------------------------------------------------------
# core stream


class DataStream:
    def __init__(
        self,
        env: StreamExecutionEnvironment,
        df: DataFrame,
        time_col: str | None = None,
        side_tags: tuple[OutputTag, ...] = (),
        empty_tags: tuple[OutputTag, ...] = (),
    ) -> None:
        self.env = env
        self.df = df
        self.time_col = time_col
        self._side_tags = side_tags
        # tags that resolve to a statically-empty side output (batch
        # late-data: no element follows the end-of-input watermark)
        self._empty_tags = empty_tags

    # -- bridging -----------------------------------------------------------

    def to_data_frame(self) -> DataFrame:
        """The main output as a Spark DataFrame (side-output columns
        stripped, side rows filtered out)."""
        df = self.df
        if self._side_tags:
            df = df.filter(F.col(_SIDE_TAG).isNull()).drop(_SIDE_TAG, _SIDE_JSON)
        return df

    def _as_main(self) -> "DataStream":
        """Downstream transforms consume the MAIN output only — side
        rows belong exclusively to get_side_output on the operator that
        produced them (the reference's SingleOutputStreamOperator
        contract)."""
        if not self._side_tags:
            return self
        return DataStream(self.env, self.to_data_frame(), self.time_col)

    def execute_and_collect(self, limit: int | None = None) -> list:
        """DataStream.java executeAndCollect — driver-side results."""
        df = self.to_data_frame()
        return df.limit(limit).collect() if limit else df.collect()

    def get_side_output(self, tag: OutputTag) -> "DataStream":
        """SingleOutputStreamOperator.getSideOutput — decode the rows
        routed to ``tag`` into their declared row type."""
        if tag in self._empty_tags:
            schema = _parse_ddl(self.env.spark, tag.type_ddl)
            return DataStream(self.env, self.env.spark.createDataFrame([], schema))
        if tag not in self._side_tags:
            raise ValueError(f"side output {tag.tag_id!r} was not declared on this operator")
        schema = _parse_ddl(self.env.spark, tag.type_ddl)
        out = (
            self.df.filter(F.col(_SIDE_TAG) == tag.tag_id)
            .select(F.from_json(F.col(_SIDE_JSON), schema).alias("r"))
            .select("r.*")
        )
        return DataStream(self.env, out)

    # -- watermarks ---------------------------------------------------------

    def assign_timestamps_and_watermarks(self, strategy: WatermarkStrategy) -> "DataStream":
        """DataStream.java:857. Records the event-time column; BATCH
        execution ignores the delay/idleness (single +inf watermark at
        end of input), exactly as the reference does on bounded input."""
        if not strategy.ts_field:
            raise ValueError("WatermarkStrategy needs with_timestamp_assigner(<column>)")
        df = self.df
        dt = dict(df.dtypes).get(strategy.ts_field)
        if dt in ("tinyint", "smallint", "int", "bigint", "float", "double"):
            # numeric event time is epoch-MILLISECONDS (the reference's
            # long timestamps). Normalize to TIMESTAMP once, here, so the
            # JVM-side lowerings (window assignment, ordering, interval
            # join bounds — which cast via Spark's epoch-SECONDS rule)
            # and the Python harness's _ts_ms agree.
            df = df.withColumn(
                strategy.ts_field,
                F.timestamp_millis(F.col(strategy.ts_field).cast("long")),
            )
        if df.isStreaming and strategy.delay_ms >= 0:
            # unbounded: lower the bounded-out-of-orderness delay onto
            # Spark's watermark (the §1.3 mapping)
            df = df.withWatermark(strategy.ts_field, f"{strategy.delay_ms} milliseconds")
        return DataStream(
            self.env, df, strategy.ts_field, self._side_tags, self._empty_tags
        )

    # -- stateless transforms ----------------------------------------------

    def _map_rows(
        self,
        emit: Callable[[dict, list], None],
        output_type: str | StructType,
        side_tags: tuple[OutputTag, ...] = (),
        fn: Any = None,
    ) -> "DataStream":
        src = self._as_main()
        schema = _parse_ddl(self.env.spark, output_type)
        if side_tags:
            schema = StructType(schema.fields + _SIDE_FIELDS)
        names = [f.name for f in schema.fields]

        def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            rc = RuntimeContext()
            if fn is not None:
                fn.open(rc)
            for pdf in batches:
                out: list[dict] = []
                for row in _row_iter(pdf):
                    emit(row, out)
                yield to_pdf(out, names)
            if fn is not None:
                fn.close()

        # event-time survives a transform only if the column survives it
        tcol = self.time_col if self.time_col in names else None
        return DataStream(self.env, src.df.mapInPandas(gen, schema), tcol, side_tags)

    def map(self, fn: MapFunction | Callable[[dict], dict], output_type: str | StructType) -> "DataStream":
        f = fn.map if isinstance(fn, MapFunction) else fn

        def emit(row: dict, out: list) -> None:
            out.append(f(row))

        return self._map_rows(emit, output_type, fn=fn if isinstance(fn, MapFunction) else None)

    def flat_map(
        self, fn: FlatMapFunction | Callable[[dict], Iterable[dict]], output_type: str | StructType
    ) -> "DataStream":
        f = fn.flat_map if isinstance(fn, FlatMapFunction) else fn

        def emit(row: dict, out: list) -> None:
            out.extend(f(row))

        return self._map_rows(emit, output_type, fn=fn if isinstance(fn, FlatMapFunction) else None)

    def filter(self, fn: FilterFunction | Callable[[dict], bool] | str | Column) -> "DataStream":
        if isinstance(fn, (str, Column)):
            # expression filters stay JVM-side (predicate pushdown survives)
            return DataStream(self.env, self._as_main().df.filter(fn), self.time_col)
        f = fn.filter if isinstance(fn, FilterFunction) else fn

        def emit(row: dict, out: list) -> None:
            if f(row):
                out.append(row)

        # schema of the MAIN output (side helper columns stripped)
        return self._map_rows(emit, self._as_main().df.schema)

    def process(
        self,
        fn: ProcessFunction,
        output_type: str | StructType,
        side_outputs: tuple[OutputTag, ...] = (),
    ) -> "DataStream":
        """Non-keyed process function (DataStream.java:647): no keyed
        state / timers (the reference throws on timer registration in a
        non-keyed context; here the TimerService is absent)."""
        tcol = self.time_col

        def emit(row: dict, out: list) -> None:
            ctx = Context(timer_service_obj=None, current_timestamp=_ts_ms(row.get(tcol)) if tcol else None)
            col = Collector()
            fn.process_element(row, ctx, col)
            out.extend(_out_rows(ctx, col, bool(side_outputs)))

        return self._map_rows(emit, output_type, side_tags=tuple(side_outputs), fn=fn)

    def project(self, *fields: str) -> "DataStream":
        out = self._as_main().df.select(*fields)
        # event-time survives the projection only if its column does
        # (the _map_rows guard; a dropped time_col would KeyError in a
        # later keyed/window op's pandas harness)
        tcol = self.time_col if self.time_col in out.columns else None
        return DataStream(self.env, out, tcol)

    # -- multi-stream -------------------------------------------------------

    def union(self, *others: "DataStream") -> "DataStream":
        df = self._as_main().df
        for o in others:
            df = df.unionByName(o._as_main().df)
        return DataStream(self.env, df, self.time_col)

    def connect(self, other) -> "ConnectedStreams | BroadcastConnectedStream":
        if isinstance(other, BroadcastStream):
            return BroadcastConnectedStream(self._as_main(), other)
        return ConnectedStreams(self._as_main(), other._as_main())

    def co_group(self, other: "DataStream") -> "CoGroupedStreams":
        return CoGroupedStreams(self._as_main(), other._as_main())

    def join(self, other: "DataStream") -> "JoinedStreams":
        return JoinedStreams(self._as_main(), other._as_main())

    # -- partitioning (physical hints; semantics-neutral) -------------------

    def key_by(self, *keys: str) -> "KeyedStream":
        if not keys or any(not isinstance(k, str) for k in keys):
            raise TypeError(
                "key_by takes column names (KeySelector lambdas would force "
                "a Python pass over every row — project a key column first)"
            )
        return KeyedStream(self._as_main(), list(keys))

    def broadcast(self, *descriptors: MapStateDescriptor) -> "BroadcastStream | DataStream":
        if descriptors:
            return BroadcastStream(self._as_main(), descriptors)
        # hint-only broadcast (DataStream.java:419): replicate to every
        # downstream task == Spark's broadcast hint on the next join
        return DataStream(self.env, F.broadcast(self._as_main().df), self.time_col)

    def shuffle(self) -> "DataStream":
        # random redistribution (DataStream.java:448) == round-robin
        return DataStream(self.env, self._as_main().df.repartition(self._parallelism()), self.time_col)

    def rebalance(self) -> "DataStream":
        return DataStream(self.env, self._as_main().df.repartition(self._parallelism()), self.time_col)

    def rescale(self) -> "DataStream":
        # local fan-in (DataStream.java:491): shuffle-free like coalesce
        return DataStream(self.env, self._as_main().df.coalesce(max(1, self._parallelism() // 2)), self.time_col)

    def global_(self) -> "DataStream":
        return DataStream(self.env, self._as_main().df.coalesce(1), self.time_col)

    def forward(self) -> "DataStream":
        return self

    def partition_custom(self, partitioner: Callable[[Any, int], int], field: str) -> "DataStream":
        """DataStream.java:397. The partitioner's bucket becomes the
        repartition key, so rows sharing a bucket co-locate (the
        property downstream operators rely on); exact slot placement is
        the scheduler's concern in both engines."""
        n = self._parallelism()
        bucket = F.udf(lambda k: None if k is None else int(partitioner(k, n)), "int")
        df = (
            self._as_main().df.withColumn("__bucket", bucket(F.col(field)))
            .repartition(n, F.col("__bucket"))
            .drop("__bucket")
        )
        return DataStream(self.env, df, self.time_col)

    def _parallelism(self) -> int:
        return self.env.get_parallelism()

    # -- iteration (DataStream.java:530) ------------------------------------

    def iterate(
        self,
        body: Callable[["DataStream"], "DataStream"],
        max_iterations: int,
        termination: Callable[[DataFrame], bool] | None = None,
    ) -> "DataStream":
        """Bounded iteration: apply ``body`` repeatedly, cutting lineage
        each round (localCheckpoint) so plans don't grow exponentially —
        the Pregel-loop idiom (same as operators/dedup.py connected
        components). Stops after ``max_iterations`` or when
        ``termination(df)`` says converged."""
        cur = self
        for _ in range(max_iterations):
            nxt = body(cur)
            nxt = DataStream(self.env, nxt.df.localCheckpoint(eager=True), nxt.time_col)
            if termination is not None and termination(nxt.df):
                return nxt
            cur = nxt
        return cur

    # -- non-keyed windows --------------------------------------------------

    def window_all(self, assigner) -> "WindowedStream":
        """DataStream.java:828 — single-channel by definition (the
        reference forces parallelism 1 on windowAll); lowered as a
        keyed window on a constant key."""
        const = DataStream(
            self.env, self._as_main().df.withColumn("__all", F.lit(0)), self.time_col
        )
        return WindowedStream(KeyedStream(const, ["__all"]), assigner, drop_key=True)

    def count_window_all(self, size: int, slide: int | None = None) -> "WindowedStream":
        const = DataStream(
            self.env, self._as_main().df.withColumn("__all", F.lit(0)), self.time_col
        )
        return KeyedStream(const, ["__all"]).count_window(size, slide, _drop_key=True)

    # -- sinks --------------------------------------------------------------

    def sink_to_parquet(self, path: str, mode: str = "overwrite") -> None:
        self.to_data_frame().write.mode(mode).parquet(path)

    def print_(self, n: int = 20) -> None:
        self.to_data_frame().show(n, truncate=False)


# ---------------------------------------------------------------------------
# keyed process step (KeyedProcessOperator / KeyedCoProcessOperator /
# CoBroadcastWithKeyedOperator)

# the streaming keyed state: pending event-time and processing-time
# timers, and the user's state values by descriptor name
_KEYED_STATE = StructType(
    [
        StructField("event", ArrayType(LongType())),
        StructField("proc", ArrayType(LongType())),
        StructField("values", BinaryType()),
    ]
)


def _keyed_process(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    fn,
    dispatch: Callable[[dict, Context, Collector], None],
    make_ctx: Callable[[TimerService], Context],
    schema: StructType,
    side_outputs: tuple[OutputTag, ...] = (),
) -> DataFrame:
    """The one step of every keyed function: per key, rows sorted by
    ``order`` (NULL first) go to ``dispatch(row, ctx, out)``, and due
    timers call ``fn.on_timer``. ``order`` is the event-time column,
    which sets the element timestamp, then tie-breakers; it is empty on
    a stream without event time. ``make_ctx(timer_service)`` builds the
    context.

    Bounded input runs on ``grouped_apply``: state lives for the key's
    group and every timer fires at end of input (``TimerService._drain``,
    BATCH execution mode). Unbounded input runs on
    ``applyInPandasWithState`` with :data:`_KEYED_STATE`: each
    micro-batch fires the event-time timers the watermark reached
    (``t <= wm``) and the processing-time timers wall clock passed,
    before and after the key's rows. The state timeout is the earliest
    event-time timer's :func:`timeout_at`, so a quiet key's timer at
    ``t`` fires in the batch whose watermark reaches ``t``; pending
    processing-time timers alone wake the key on the next watermark
    advance (micro-batch granularity)."""
    ts_col = order[0] if order else None
    use_side = bool(side_outputs)
    if use_side:
        schema = StructType(schema.fields + _SIDE_FIELDS)
    names = schema.fieldNames()

    def start(key: tuple, ts: TimerService, rc: RuntimeContext) -> tuple[Context, Collector]:
        fn.open(rc)
        ctx = make_ctx(ts)
        ctx.current_key = key[0] if len(key) == 1 else key
        return ctx, Collector()

    def run(pdf: pd.DataFrame, ctx: Context, col: Collector) -> None:
        if order:
            pdf = pdf.sort_values(order, kind="stable", na_position="first")
        for row in _row_iter(pdf):
            ctx.current_timestamp = _ts_ms(row[ts_col]) if ts_col else None
            dispatch(row, ctx, col)

    def on_timers(times: Iterable[int], ctx: Context, col: Collector) -> None:
        for t in times:
            ctx.current_timestamp = t
            fn.on_timer(t, ctx, col)

    if not df.isStreaming:

        def harness(key: tuple, pdf: pd.DataFrame) -> list[dict]:
            ts = TimerService()
            ctx, col = start(key, ts, RuntimeContext())
            run(pdf, ctx, col)
            on_timers(ts._drain(), ctx, col)
            fn.close()
            return _out_rows(ctx, col, use_side)

        return grouped_apply(df, keys, harness, schema)

    import time

    from pyspark.sql.streaming.state import GroupStateTimeout

    if not ts_col:
        raise ValueError(
            "streaming keyed process needs assign_timestamps_and_watermarks "
            "(event-time timers require a watermarked column)"
        )

    def step(key: tuple, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        event, proc, values = state.get if state.exists else ((), (), None)
        ts = TimerService(event, proc)
        rc = RuntimeContext(values)
        ctx, col = start(key, ts, rc)

        def fire_due() -> None:
            on_timers(ts._advance(wm), ctx, col)
            on_timers(ts._due_proc(int(time.time() * 1000)), ctx, col)

        fire_due()
        if not state.hasTimedOut:
            for pdf in pdfs:
                if len(pdf):
                    run(pdf, ctx, col)
            fire_due()
        state.update((*ts._timers(), rc._snapshot()))
        nxt = ts._next_pending()
        if nxt is not None:
            state.setTimeoutTimestamp(timeout_at(nxt))
        elif ts._proc_set:
            state.setTimeoutTimestamp(wm + 1)
        out = _out_rows(ctx, col, use_side)
        if out:
            yield to_pdf(out, names)

    return df.groupBy(*keys).applyInPandasWithState(
        step,
        outputStructType=schema,
        stateStructType=_KEYED_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# keyed stream


class KeyedStream:
    def __init__(self, stream: DataStream, keys: list[str]) -> None:
        self.stream = stream
        self.env = stream.env
        self.keys = keys

    # -- rolling aggregates (KeyedStream.java:743-1010), BATCH mode:
    # only the final per-key value is emitted -------------------------------

    def _order(self) -> Column:
        # numeric arrival order (ms) so tie-break signs can negate it
        if self.stream.time_col:
            return F.unix_millis(F.col(self.stream.time_col).cast("timestamp"))
        return F.monotonically_increasing_id()

    def _agg_one_field(self, field: str, how: str) -> DataStream:
        """sum/min/max replace ``field`` and keep the other fields from
        the FIRST element (the reference's ComparableAggregator /
        SumAggregator fold starting at the first record). Native
        Catalyst: one hash exchange, min_by for deterministic 'first'.
        Unbounded input: rolling per-element emission via the stateful
        fold (StreamGroupedReduceOperator)."""
        if self.stream.df.isStreaming:
            import operator

            pick = {"sum": operator.add, "min": min, "max": max}[how]

            def fold(a: dict, b: dict) -> dict:
                return {**a, field: pick(a[field], b[field])}

            return self.reduce(fold)
        df = self.stream.df.withColumn("__ord", self._order())
        aggs = []
        for c in self.stream.df.columns:
            if c in self.keys:
                continue
            if c == field:
                aggs.append(getattr(F, how)(c).alias(c))
            else:
                aggs.append(F.min_by(c, F.col("__ord")).alias(c))
        out = df.groupBy(*self.keys).agg(*aggs).select(*self.stream.df.columns)
        return DataStream(self.env, out, None)

    def sum(self, field: str) -> DataStream:
        return self._agg_one_field(field, "sum")

    def min(self, field: str) -> DataStream:
        return self._agg_one_field(field, "min")

    def max(self, field: str) -> DataStream:
        return self._agg_one_field(field, "max")

    def _by(self, field: str, how: str, first: bool = True) -> DataStream:
        """minBy/maxBy keep the whole extreme element. ``first`` picks
        the earlier element on ties (KeyedStream.java:882,906)."""
        if self.stream.df.isStreaming:
            better = (lambda b, a: b < a) if how == "min" else (lambda b, a: b > a)

            def fold(a: dict, b: dict) -> dict:
                if better(b[field], a[field]) or (not first and b[field] == a[field]):
                    return b
                return a

            return self.reduce(fold)
        df = self.stream.df.withColumn("__ord", self._order())
        # tie-break sign: min_by minimizes the struct, max_by maximizes
        # it — to pick the FIRST arrival on equal field values the
        # arrival order must sort WITH the extremum direction
        # (min/first and max/last keep +ord; min/last and max/first
        # negate it)
        tie = F.col("__ord") if (how == "min") == first else -F.col("__ord")
        pick = F.min_by if how == "min" else F.max_by
        sel = pick(F.struct(*self.stream.df.columns), F.struct(F.col(field), tie)).alias("r")
        out = df.groupBy(*self.keys).agg(sel).select("r.*")
        return DataStream(self.env, out, None)

    def min_by(self, field: str, first: bool = True) -> DataStream:
        return self._by(field, "min", first)

    def max_by(self, field: str, first: bool = True) -> DataStream:
        return self._by(field, "max", first)

    def reduce(self, fn: ReduceFunction | Callable[[dict, dict], dict]) -> DataStream:
        """KeyedStream.java:743 — arbitrary fold in event-time order.
        BATCH mode emits the final reduced value per key; STREAMING
        mode (unbounded input) emits the rolling reduce per element,
        the reference's StreamGroupedReduceOperator behavior."""
        f = fn.reduce if isinstance(fn, ReduceFunction) else fn
        schema = self.stream.df.schema
        names = [fld.name for fld in schema.fields]
        tcol = self.stream.time_col
        if self.stream.df.isStreaming:
            return self._streaming_rolling_reduce(f, schema, names, tcol)

        def fold(_key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            if tcol:
                pdf = pdf.sort_values(tcol, kind="stable")
            acc = None
            for row in _row_iter(pdf):
                acc = row if acc is None else f(acc, row)
            return [acc] if acc is not None else []

        out = grouped_apply(self.stream.df, list(self.keys), fold, schema)
        return DataStream(self.env, out, None)

    def _streaming_rolling_reduce(
        self, f: Callable[[dict, dict], dict], schema: StructType, names: list[str], tcol: str | None
    ) -> DataStream:
        """Unbounded rolling reduce via ``applyInPandasWithState``: the
        accumulator element is a ``ReducingState`` whose value is the
        keyed state (the keyed process step's values codec), each
        arriving element emits the updated accumulator (update
        changelog downstream)."""
        from pyspark.sql.streaming.state import GroupStateTimeout

        desc = ReducingStateDescriptor("acc", f)

        def func(key: tuple, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
            rc = RuntimeContext(state.get[0] if state.exists else None)
            acc = rc.get_reducing_state(desc)
            out: list[dict] = []
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                if tcol:
                    pdf = pdf.sort_values(tcol, kind="stable")
                for row in _row_iter(pdf):
                    acc.add(row)
                    out.append(acc.get())
            if out:
                state.update((rc._snapshot(),))
                yield to_pdf(out, names)

        out = self.stream.df.groupBy(*self.keys).applyInPandasWithState(
            func,
            outputStructType=schema,
            stateStructType="values BINARY",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return DataStream(self.env, out, None)

    # -- keyed process (KeyedStream.java:325) -------------------------------

    def process(
        self,
        fn: KeyedProcessFunction,
        output_type: str | StructType,
        side_outputs: tuple[OutputTag, ...] = (),
    ) -> DataStream:
        tcol = self.stream.time_col
        out = _keyed_process(
            self.stream.df,
            self.keys,
            [tcol] if tcol else [],
            fn,
            fn.process_element,
            Context,
            _parse_ddl(self.env.spark, output_type),
            tuple(side_outputs),
        )
        return DataStream(self.env, out, None, tuple(side_outputs))

    # -- windows ------------------------------------------------------------

    def window(self, assigner) -> "WindowedStream":
        return WindowedStream(self, assigner)

    def count_window(self, size: int, slide: int | None = None, _drop_key: bool = False) -> "WindowedStream":
        """KeyedStream.java:696,706 — GlobalWindows + CountTrigger:
        with ``slide`` the trigger fires every ``slide`` elements over
        the last ``size`` elements (CountEvictor); without, every
        ``size`` elements tumbling."""
        return WindowedStream(self, None, count=(size, slide or size), drop_key=_drop_key)

    # -- keyed broadcast connect (KeyedBroadcastProcessFunction) ------------

    def connect(self, bcast: "BroadcastStream") -> "KeyedBroadcastConnectedStream":
        """keyBy(...).connect(broadcastStream) — the keyed broadcast
        form: per-key state + timers alongside the replicated broadcast
        state."""
        if not isinstance(bcast, BroadcastStream):
            raise TypeError("KeyedStream.connect takes a BroadcastStream")
        return KeyedBroadcastConnectedStream(self, bcast)

    # -- interval join (KeyedStream.java:438) -------------------------------

    def interval_join(self, other: "KeyedStream") -> "IntervalJoin":
        return IntervalJoin(self, other)


class IntervalJoin:
    def __init__(self, left: KeyedStream, right: KeyedStream) -> None:
        self.left, self.right = left, right
        self.lower_ms = self.upper_ms = 0

    def between(self, lower, upper) -> "IntervalJoin":
        self.lower_ms, self.upper_ms = _to_ms(lower), _to_ms(upper)
        return self

    def process(self, fn: ProcessJoinFunction, output_type: str | StructType) -> DataStream:
        """Native equi+range join builds the pairs (the scale-bearing
        part — no Python in the shuffle); the user function then maps
        each pair Arrow-batched."""
        lt, rt = self.left.stream.time_col, self.right.stream.time_col
        if not lt or not rt:
            raise ValueError("interval_join needs watermarked (timestamped) streams on both sides")
        env = self.left.env
        lcols, rcols = self.left.stream.df.columns, self.right.stream.df.columns
        l = self.left.stream.df.select(*[F.col(c).alias(f"__l_{c}") for c in lcols])
        r = self.right.stream.df.select(*[F.col(c).alias(f"__r_{c}") for c in rcols])
        cond = F.lit(True)
        for lk, rk in zip(self.left.keys, self.right.keys):
            cond = cond & (F.col(f"__l_{lk}") == F.col(f"__r_{rk}"))
        if l.isStreaming and r.isStreaming:
            # native interval bounds on the watermarked columns — the
            # form Spark's stream-stream join recognizes for state
            # cleanup (unbounded inputs would otherwise hold all state)
            lcol, rcol = F.col(f"__l_{lt}"), F.col(f"__r_{rt}")
            cond = (
                cond
                & (rcol >= lcol + F.expr(f"INTERVAL {self.lower_ms} MILLISECOND"))
                & (rcol <= lcol + F.expr(f"INTERVAL {self.upper_ms} MILLISECOND"))
            )
        else:
            lts = F.unix_millis(F.col(f"__l_{lt}").cast("timestamp"))
            rts = F.unix_millis(F.col(f"__r_{rt}").cast("timestamp"))
            cond = (
                cond
                & (rts >= lts + F.lit(self.lower_ms))
                & (rts <= lts + F.lit(self.upper_ms))
            )
        joined = l.join(r, cond)
        schema = _parse_ddl(env.spark, output_type)
        names = [fld.name for fld in schema.fields]

        def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            for pdf in batches:
                out: list[dict] = []
                colctx = Collector()
                for row in _row_iter(pdf):
                    lrow = {c: row[f"__l_{c}"] for c in lcols}
                    rrow = {c: row[f"__r_{c}"] for c in rcols}
                    fn.process_element(lrow, rrow, Context(timer_service_obj=None), colctx)
                out.extend(colctx.rows)
                yield to_pdf(out, names)

        return DataStream(env, joined.mapInPandas(gen, schema))


# ---------------------------------------------------------------------------
# windowed stream


class WindowedStream:
    def __init__(
        self,
        keyed: KeyedStream,
        assigner,
        count: tuple[int, int] | None = None,
        drop_key: bool = False,
    ) -> None:
        self.keyed = keyed
        self.assigner = assigner
        self.count = count
        self.drop_key = drop_key
        self.env = keyed.env
        self._late_tags: tuple[OutputTag, ...] = ()

    def _refuse_unbounded_lateness(self) -> None:
        if self.keyed.stream.df.isStreaming:
            raise NotImplementedError(
                "allowed lateness and late-data side outputs on an unbounded "
                "window are the Table layer's surface: the allowed-lateness "
                "group window (table.exec.emit.allow-lateness, "
                "streaming_group_window_agg(allowed_lateness_ms=...)); an "
                "unbounded DataStream window drops late elements"
            )

    def allowed_lateness(self, lateness) -> "WindowedStream":
        """WindowedStream.java:108. On bounded input (BATCH mode) every
        element precedes the end-of-input watermark, so no element is
        ever late and any lateness bound is exact as a no-op — the
        reference's batch runtime drops the concept the same way. On
        unbounded input a lateness above zero raises: late firing is the
        Table layer's allowed-lateness group window."""
        if _to_ms(lateness) > 0:
            self._refuse_unbounded_lateness()
        return self

    def side_output_late_data(self, tag: OutputTag) -> "WindowedStream":
        """WindowedStream.java:124. BATCH mode: the late-data side
        output is exactly empty (no element follows the end-of-input
        watermark); the tag is recorded so get_side_output on the
        window result resolves to an empty typed stream. On unbounded
        input it raises, as :meth:`allowed_lateness` does."""
        self._refuse_unbounded_lateness()
        self._late_tags += (tag,)
        return self

    def trigger(self, trigger) -> "WindowedStream":
        """Custom triggers (WindowedStream.java:95) are out of scope
        (SURVEY.md §2.9): the engine fires windows on the watermark
        (event-time trigger) or on element count (count windows)."""
        raise NotImplementedError(
            "custom triggers are out of scope (EventTimeTrigger == default "
            "behavior; CountTrigger == count_window; see SURVEY.md §2.9)"
        )

    def evictor(self, evictor) -> "WindowedStream":
        """Custom evictors (WindowedStream.java:137) are out of scope
        (SURVEY.md §2.9); the sliding count window implements the
        CountEvictor case."""
        raise NotImplementedError(
            "custom evictors are out of scope (CountEvictor == sliding "
            "count_window; see SURVEY.md §2.9)"
        )

    def _with_window(self) -> tuple[DataFrame, list[str], str]:
        """Assign windows natively (arithmetic over epoch ms) so the
        (key, window) shuffle happens JVM-side; returns the augmented
        frame, the window grouping columns, and the window kind."""
        s = self.keyed.stream
        tcol = s.time_col
        if self.count:
            size, slide = self.count
            order = F.col(tcol) if tcol else F.monotonically_increasing_id()
            wk = Window.partitionBy(*self.keyed.keys)
            df = s.df.withColumn("__rn", F.row_number().over(wk.orderBy(order)))
            df = df.withColumn("__total", F.max("__rn").over(wk))
            # CountTrigger fires at element counts m*slide; the window
            # contents are the last `size` elements at the fire point
            # (CountEvictor) — element rn is in fire m iff
            # m*slide - size < rn <= m*slide, and the fire only happens
            # if the key reaches m*slide elements
            first_m = F.ceil(F.col("__rn") / F.lit(slide))
            last_m = F.least(
                F.floor((F.col("__rn") + F.lit(size) - 1) / F.lit(slide)),
                F.floor(F.col("__total") / F.lit(slide)),
            )
            # sequence(a,b) descends when a > b — emit nothing instead
            fires = F.when(last_m >= first_m, F.sequence(first_m, last_m)).otherwise(
                F.array().cast("array<bigint>")
            )
            df = df.withColumn("__win", F.explode(fires)).drop("__total")
            return df, ["__win"], "count"
        if not tcol:
            raise ValueError("time windows need assign_timestamps_and_watermarks first")
        a = self.assigner
        if isinstance(a, EventTimeSessionWindows):
            df = _assign_session_ids(s.df, tcol, self.keyed.keys, _to_ms(a.gap))
            return df, ["__sess"], "session"
        return _assign_time_windows(s.df, tcol, a), ["__win_start", "__win_end"], "time"

    def _run(
        self,
        per_window: Callable[[Any, Any, pd.DataFrame], list[dict]],
        output_type: str | StructType,
    ) -> DataStream:
        if self.keyed.stream.df.isStreaming:
            raise NotImplementedError(
                "unbounded window apply/process/reduce with arbitrary "
                "Python functions is the Table layer's surface (window "
                "TVFs / group windows, incl. allowed-lateness + early/"
                "late fire); an incremental AggregateFunction runs "
                "unbounded via WindowedStream.aggregate; otherwise the "
                "DataStream window facade lowers bounded input"
            )
        spark = self.env.spark
        schema = _parse_ddl(spark, output_type)
        names = [fld.name for fld in schema.fields]
        df, wcols, kind = self._with_window()
        keys = self.keyed.keys
        tcol = self.keyed.stream.time_col
        drop_key = self.drop_key
        nk = len(keys)
        gap_ms = _to_ms(self.assigner.gap) if kind == "session" else 0
        gcols = [*keys, *wcols]

        def group_rows(key: tuple, pdf: pd.DataFrame) -> list[dict]:
            if tcol:
                pdf = pdf.sort_values(tcol, kind="stable")
            if kind == "count":
                window = CountWindow(int(key[nk]))
            elif kind == "session":
                # session bounds from the merged run: [first, last+gap)
                tvals = [_ts_ms(v) for v in pdf[tcol]]
                window = TimeWindow(min(tvals), max(tvals) + gap_ms)
            else:
                window = TimeWindow(int(key[nk]), int(key[nk + 1]))
            kval = None if drop_key else (key[0] if nk == 1 else tuple(key[:nk]))
            helper = [c for c in (*wcols, "__rn") if c in pdf.columns]
            if drop_key:
                # the synthetic constant key of windowAll is plumbing,
                # not data — user functions never see it
                helper += [k for k in keys if k in pdf.columns]
            return per_window(kval, window, pdf.drop(columns=helper))

        # group-amortized lowering: one shuffle on (key, window), groups
        # iterated inside each Arrow batch (see grouped_apply) — the
        # thousands-of-tiny-windows shape would otherwise pay a Python
        # worker invocation per window. Session/count windows derive
        # their window ids from a window function already partitioned by
        # the key, so hash(key) co-location holds and the lowering skips
        # its own shuffle — the plan keeps ONE exchange
        out = grouped_apply(
            df,
            gcols,
            lambda key, g: group_rows(key, g),
            schema,
            shuffle=kind not in ("session", "count"),
        )
        return DataStream(self.env, out, None, empty_tags=self._late_tags)

    def reduce(self, fn: ReduceFunction | Callable[[dict, dict], dict], output_type: str | StructType | None = None) -> DataStream:
        f = fn.reduce if isinstance(fn, ReduceFunction) else fn
        in_schema = self.keyed.stream.df.schema
        if self.drop_key:
            # windowAll's synthetic key is not part of the element type
            in_schema = StructType(
                [fld for fld in in_schema.fields if fld.name not in self.keyed.keys]
            )
        out_t = output_type or in_schema

        def per_window(_key, _window, pdf: pd.DataFrame) -> list[dict]:
            acc = None
            for row in _row_iter(pdf):
                acc = row if acc is None else f(acc, row)
            return [acc] if acc is not None else []

        return self._run(per_window, out_t)

    def aggregate(self, fn: AggregateFunction, output_type: str | StructType) -> DataStream:
        if (
            self.keyed.stream.df.isStreaming
            and not self.count
            and not isinstance(self.assigner, EventTimeSessionWindows)
        ):
            # the incremental create/add/get contract works unbounded
            # (WindowedStream.java:285 on streams); arbitrary
            # apply/process stay behind the _run scope guard
            return self._aggregate_streaming(fn, output_type)

        def per_window(_key, _window, pdf: pd.DataFrame) -> list[dict]:
            acc = fn.create_accumulator()
            for row in _row_iter(pdf):
                acc = fn.add(row, acc)
            return [fn.get_result(acc)]

        return self._run(per_window, output_type)

    def _aggregate_streaming(
        self, fn: AggregateFunction, output_type: str | StructType
    ) -> DataStream:
        """Unbounded tumble/slide AggregateFunction
        (WindowedStream.java:285 + AggregatingStateDescriptor) on the SQL
        window operators' per-key step, ``window_tvf.window_step``:
        windows assign natively (epoch-ms arithmetic, so the shuffle is
        JVM-side), state per user key holds each open window's start
        and end, and their accumulators (user accumulators are any
        Python objects, so they are one cloudpickled list, one call per
        key, not per window), a window fires once when the
        watermark reaches ``end - 1`` (EventTimeTrigger), and an element
        whose window has ``end - 1 <= wm`` is late and drops
        (WindowOperator.isWindowLate, zero allowed lateness). Keying the
        state on the user key, not (key, window), pays
        ``applyInPandasWithState``'s per-group constant once per key per
        micro-batch instead of once per window."""
        from pyspark import cloudpickle

        s = self.keyed.stream
        tcol = s.time_col
        if not tcol:
            raise ValueError("time windows need assign_timestamps_and_watermarks first")
        bounds = ["__win_start", "__win_end"]

        def accumulate(wins: dict, pdfs: Iterable[pd.DataFrame], late_wm: int) -> None:
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                pdf = pdf.sort_values(tcol, kind="stable")
                starts, ends = pdf["__win_start"].tolist(), pdf["__win_end"].tolist()
                for row, ws, we in zip(_row_iter(pdf.drop(columns=bounds)), starts, ends):
                    if we - 1 <= late_wm:
                        continue
                    acc = wins[we][1] if we in wins else fn.create_accumulator()
                    wins[we] = (ws, fn.add(row, acc))

        def fire(_key: tuple, wins: dict, due: list[int], _wm: int, out: list) -> None:
            out.extend(fn.get_result(wins.pop(e)[1]) for e in due)

        out = window_step(
            _assign_time_windows(s.df, tcol, self.assigner).groupBy(*self.keyed.keys),
            _parse_ddl(self.env.spark, output_type),
            [
                StructField("win_start", ArrayType(LongType())),
                StructField("win_end", ArrayType(LongType())),
                StructField("accs", BinaryType()),
            ],
            attributed=False,
            # windows: (start, accumulator) by end
            load=lambda raw: {} if raw is None else dict(
                zip(raw[1], zip(raw[0], cloudpickle.loads(raw[2])))
            ),
            store=lambda wins: (
                [w[0] for w in wins.values()],
                list(wins),
                cloudpickle.dumps([w[1] for w in wins.values()]),
            ),
            accumulate=accumulate,
            fire=fire,
            ends=dict.keys,
        )
        return DataStream(self.env, out)

    def apply(self, fn: WindowFunction, output_type: str | StructType) -> DataStream:
        def per_window(key, window, pdf: pd.DataFrame) -> list[dict]:
            col = Collector()
            fn.apply(key, window, list(_row_iter(pdf)), col)
            return col.rows

        return self._run(per_window, output_type)

    def process(self, fn: ProcessWindowFunction, output_type: str | StructType) -> DataStream:
        def per_window(key, window, pdf: pd.DataFrame) -> list[dict]:
            col = Collector()
            fn.process(key, WindowContext(window), list(_row_iter(pdf)), col)
            return col.rows

        return self._run(per_window, output_type)


# ---------------------------------------------------------------------------
# connected streams (two-input keyed co-processing)


class ConnectedStreams:
    def __init__(self, first: DataStream, second: DataStream) -> None:
        self.first, self.second = first, second
        self.keys1: list[str] | None = None
        self.keys2: list[str] | None = None

    def key_by(self, keys1, keys2) -> "ConnectedStreams":
        self.keys1 = [keys1] if isinstance(keys1, str) else list(keys1)
        self.keys2 = [keys2] if isinstance(keys2, str) else list(keys2)
        return self

    def map(self, fn, output_type: str | StructType) -> DataStream:
        """CoMapFunction: map1 on the first input, map2 on the second —
        no shared keyed state in a non-keyed connect, so each side lowers
        independently and unions (same observable output)."""
        a = self.first.map(fn.map1, output_type)
        b = self.second.map(fn.map2, output_type)
        return a.union(b)

    def flat_map(self, fn, output_type: str | StructType) -> DataStream:
        a = self.first.flat_map(fn.flat_map1, output_type)
        b = self.second.flat_map(fn.flat_map2, output_type)
        return a.union(b)

    def process(self, fn: CoProcessFunction, output_type: str | StructType) -> DataStream:
        """Keyed co-process: both inputs shuffle to the same key (one
        native exchange via union-with-tag), then the keyed process step
        runs each key's merged, time-sorted run — the two-input
        operator's min-watermark ordering on bounded input; unbounded,
        the union's watermark is the minimum of the inputs' (Spark's
        multi-watermark policy)."""
        if not self.keys1 or not self.keys2:
            raise ValueError("connect(...).process needs key_by(keys1, keys2) (keyed context)")
        env = self.first.env
        lcols, rcols = self.first.df.columns, self.second.df.columns
        lt, rt = self.first.time_col, self.second.time_col
        # each side's own time column ships ONLY as __ts (a second alias
        # of a watermarked column would give the union two event-time
        # columns, which Spark rejects); dispatch reinserts it
        streaming = self.first.df.isStreaming or self.second.df.isStreaming

        def ts_expr(col_name):
            if not col_name:
                return F.lit(None).cast("timestamp")
            c = F.col(col_name)
            # streaming: direct alias (a cast strips the watermark tag
            # EventTimeTimeout needs); batch: normalize to timestamp so
            # the two sides union cleanly
            return c if streaming else c.cast("timestamp")

        l = self.first.df.select(
            F.lit(0).alias("__side"),
            *[F.col(k).alias(f"__k{i}") for i, k in enumerate(self.keys1)],
            ts_expr(lt).alias("__ts"),
            *[F.col(c).alias(f"__l_{c}") for c in lcols if c != lt],
            *[
                F.lit(None).cast(f.dataType).alias(f"__r_{f.name}")
                for f in self.second.df.schema.fields
                if f.name != rt
            ],
        )
        r = self.second.df.select(
            F.lit(1).alias("__side"),
            *[F.col(k).alias(f"__k{i}") for i, k in enumerate(self.keys2)],
            ts_expr(rt).alias("__ts"),
            *[
                F.lit(None).cast(f.dataType).alias(f"__l_{f.name}")
                for f in self.first.df.schema.fields
                if f.name != lt
            ],
            *[F.col(c).alias(f"__r_{c}") for c in rcols if c != rt],
        )
        unioned = l.unionByName(r)

        def dispatch(row: dict, ctx: Context, col: Collector) -> None:
            if row["__side"] == 0:
                d = {c: (row["__ts"] if c == lt else row[f"__l_{c}"]) for c in lcols}
                fn.process_element1(d, ctx, col)
            else:
                d = {c: (row["__ts"] if c == rt else row[f"__r_{c}"]) for c in rcols}
                fn.process_element2(d, ctx, col)

        out = _keyed_process(
            unioned,
            [f"__k{i}" for i in range(len(self.keys1))],
            ["__ts", "__side"],
            fn,
            dispatch,
            Context,
            _parse_ddl(env.spark, output_type),
        )
        return DataStream(env, out)


# ---------------------------------------------------------------------------
# broadcast state (DataStream.java:434 / BroadcastProcessFunction)


class BroadcastStream:
    def __init__(self, stream: DataStream, descriptors: tuple[MapStateDescriptor, ...]) -> None:
        self.stream = stream
        self.descriptors = descriptors


class BroadcastConnectedStream:
    def __init__(self, main: DataStream, bcast: BroadcastStream) -> None:
        self.main, self.bcast = main, bcast

    def process(self, fn: BroadcastProcessFunction, output_type: str | StructType) -> DataStream:
        """BATCH-mode broadcast state: the (small, by contract) broadcast
        side is consumed in full FIRST — the reference's documented batch
        behavior for broadcast state — building the state maps once on
        the driver; the main side then maps over it Arrow-batched with
        the state shipped in the task closure (every task holds the full
        broadcast state, exactly the reference's replication model)."""
        env = self.main.env
        states: dict[str, Any] = {}
        bctx = BroadcastContext(states)
        for desc in self.bcast.descriptors:
            bctx.get_broadcast_state(desc)  # materialize declared maps
        brows = [r.asDict(recursive=True) for r in self.bcast.stream.df.collect()]
        for row in brows:
            fn.process_broadcast_element(row, bctx)
        schema = _parse_ddl(env.spark, output_type)
        names = [fld.name for fld in schema.fields]
        tcol = self.main.time_col

        def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            rc = RuntimeContext()
            fn.open(rc)
            ro = ReadOnlyBroadcastContext(None, states)
            for pdf in batches:
                col = Collector()
                for row in _row_iter(pdf):
                    ro.current_timestamp = _ts_ms(row.get(tcol)) if tcol else None
                    fn.process_element(row, ro, col)
                yield to_pdf(col.rows, names)
            fn.close()

        return DataStream(env, self.main.df.mapInPandas(gen, schema))


class KeyedBroadcastConnectedStream:
    """Keyed main stream + broadcast control stream
    (KeyedBroadcastProcessFunction.java): per-key keyed state and timers
    PLUS the replicated broadcast state. The broadcast side (bounded)
    is consumed first in full (its state maps build once), then the
    keyed process step runs each key's time-sorted run."""

    def __init__(self, keyed: KeyedStream, bcast: "BroadcastStream") -> None:
        self.keyed, self.bcast = keyed, bcast

    def process(self, fn, output_type: str | StructType) -> DataStream:
        env = self.keyed.env
        states: dict[str, Any] = {}
        bctx = BroadcastContext(states)
        for desc in self.bcast.descriptors:
            bctx.get_broadcast_state(desc)
        for row in (r.asDict(recursive=True) for r in self.bcast.stream.df.collect()):
            fn.process_broadcast_element(row, bctx)
        tcol = self.keyed.stream.time_col
        out = _keyed_process(
            self.keyed.stream.df,
            self.keyed.keys,
            [tcol] if tcol else [],
            fn,
            fn.process_element,
            lambda ts: ReadOnlyBroadcastContext(ts, states),
            _parse_ddl(env.spark, output_type),
        )
        return DataStream(env, out)


# ---------------------------------------------------------------------------
# async I/O (AsyncDataStream.java / AsyncWaitOperator.java:91)


class AsyncDataStream:
    """AsyncDataStream.orderedWait/unorderedWait: hide external
    point-lookup latency with up to ``capacity`` in-flight requests per
    task. Spark lowering (same as operators/async_lookup.py): a bounded
    thread pool inside ``mapInPandas`` — the pool is the in-flight
    window, futures resolve in input order (ORDERED mode; the unordered
    variant shares it — ordered output satisfies the weaker contract).
    Prefer a broadcast join when the dimension is snapshottable."""

    @staticmethod
    def ordered_wait(
        stream: DataStream,
        fn,
        timeout,
        capacity: int = 100,
        output_type: str | StructType = None,
    ) -> DataStream:
        from concurrent.futures import ThreadPoolExecutor

        env = stream.env
        schema = _parse_ddl(env.spark, output_type)
        names = [f.name for f in schema.fields]
        timeout_s = _to_ms(timeout) / 1000.0

        def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            import time

            pool = ThreadPoolExecutor(max_workers=capacity)
            try:
                for pdf in batches:
                    rows = list(_row_iter(pdf))
                    # the timeout clock starts at SUBMISSION (the
                    # reference arms AsyncWaitOperator's timer when the
                    # element enters the operator), not at the sequential
                    # result() call — under backlog the latter would let
                    # an element wait far past its declared timeout
                    futs = [
                        (pool.submit(fn.async_invoke, r), time.monotonic() + timeout_s)
                        for r in rows
                    ]
                    out: list[dict] = []
                    for (fut, deadline), row in zip(futs, rows):
                        try:
                            res = fut.result(timeout=max(0.0, deadline - time.monotonic()))
                        except TimeoutError:
                            fut.cancel()
                            res = fn.timeout(row)
                        if res is None:
                            continue
                        out.append(res) if isinstance(res, dict) else out.extend(res)
                    yield to_pdf(out, names)
            finally:
                # wait=False + cancel_futures: a worker stuck past its
                # timeout must not wedge the task at pool teardown (its
                # element already completed via fn.timeout). A lookup
                # that never returns still pins its thread until the
                # Python worker exits — the documented hard cap is the
                # user's own I/O timeout inside async_invoke, the same
                # contract the reference's async clients carry.
                pool.shutdown(wait=False, cancel_futures=True)

        return DataStream(env, stream.df.mapInPandas(gen, schema))

    unordered_wait = ordered_wait


# ---------------------------------------------------------------------------
# window join / co-group (DataStream.java:720,728)


class _WindowPair:
    def __init__(self, first: DataStream, second: DataStream) -> None:
        self.first, self.second = first, second
        self.k1: str | None = None
        self.k2: str | None = None
        self.assigner = None

    def where(self, key: str):
        self.k1 = key
        return self

    def equal_to(self, key: str):
        self.k2 = key
        return self

    def window(self, assigner):
        self.assigner = assigner
        return self

    def _windowed(self) -> tuple[DataFrame, DataFrame]:
        a = self.assigner
        if self.first.df.isStreaming or self.second.df.isStreaming:
            raise NotImplementedError(
                "unbounded window join/coGroup is the Table layer's surface "
                "(streaming window join operators); the facade lowers bounded input"
            )
        if isinstance(a, EventTimeSessionWindows):
            raise ValueError(
                "session windows merge per stream; a session window join is "
                "not well-defined (the reference's WindowJoin uses time "
                "windows) — use interval_join for proximity joins"
            )
        for s in (self.first, self.second):
            if not s.time_col:
                raise ValueError("window join/coGroup needs timestamped streams")
        l = _assign_time_windows(self.first.df, self.first.time_col, a)
        r = _assign_time_windows(self.second.df, self.second.time_col, a)
        return l, r


class JoinedStreams(_WindowPair):
    def apply(self, fn: JoinFunction | Callable[[dict, dict], dict], output_type: str | StructType) -> DataStream:
        """Pairs form via a native equi-join on (key, window) — the
        shuffle is JVM-side; the user join function maps pairs after."""
        f = fn.join if isinstance(fn, JoinFunction) else fn
        env = self.first.env
        l, r = self._windowed()
        lcols, rcols = self.first.df.columns, self.second.df.columns
        l = l.select(
            F.col("__win_start"),
            F.col(self.k1).alias("__k"),
            *[F.col(c).alias(f"__l_{c}") for c in lcols],
        )
        r = r.select(
            F.col("__win_start").alias("__ws2"),
            F.col(self.k2).alias("__k2"),
            *[F.col(c).alias(f"__r_{c}") for c in rcols],
        )
        joined = l.join(
            r, (F.col("__k") == F.col("__k2")) & (F.col("__win_start") == F.col("__ws2"))
        )
        schema = _parse_ddl(env.spark, output_type)
        names = [fld.name for fld in schema.fields]

        def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            for pdf in batches:
                out = [
                    f({c: row[f"__l_{c}"] for c in lcols}, {c: row[f"__r_{c}"] for c in rcols})
                    for row in _row_iter(pdf)
                ]
                yield to_pdf(out, names)

        return DataStream(env, joined.mapInPandas(gen, schema))


class CoGroupedStreams(_WindowPair):
    def apply(self, fn: CoGroupFunction, output_type: str | StructType) -> DataStream:
        """Both sides shuffle once to (key, window) via union-with-tag;
        the co-group function sees the two element lists per group
        (outer semantics: a group may have one empty side)."""
        env = self.first.env
        l, r = self._windowed()
        lcols, rcols = self.first.df.columns, self.second.df.columns
        lu = l.select(
            F.lit(0).alias("__side"),
            F.col(self.k1).alias("__k"),
            F.col("__win_start"),
            *[F.col(c).alias(f"__l_{c}") for c in lcols],
            *[F.lit(None).cast(f.dataType).alias(f"__r_{f.name}") for f in self.second.df.schema.fields],
        )
        ru = r.select(
            F.lit(1).alias("__side"),
            F.col(self.k2).alias("__k"),
            F.col("__win_start"),
            *[F.lit(None).cast(f.dataType).alias(f"__l_{f.name}") for f in self.first.df.schema.fields],
            *[F.col(c).alias(f"__r_{c}") for c in rcols],
        )
        unioned = lu.unionByName(ru)
        schema = _parse_ddl(env.spark, output_type)
        names = [fld.name for fld in schema.fields]
        gcols = ["__k", "__win_start"]

        def harness(_key: tuple, rows: list) -> list:
            # rows_mode: no per-group DataFrame is ever built — with
            # one-row (key, window) groups the per-group pandas
            # overhead used to dominate this operator's wall time
            firsts = [
                {c: r[f"__l_{c}"] for c in lcols} for r in rows if r["__side"] == 0
            ]
            seconds = [
                {c: r[f"__r_{c}"] for c in rcols} for r in rows if r["__side"] != 0
            ]
            col = Collector()
            fn.co_group(firsts, seconds, col)
            return col.rows

        # group-amortized lowering on (key, window) — see grouped_apply
        out = grouped_apply(unioned, gcols, harness, schema, rows_mode=True)
        return DataStream(env, out)
