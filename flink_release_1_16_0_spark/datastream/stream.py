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
  stateless ops, ``applyInPandas`` for keyed/window ops). Per-row Python
  is inherent to user lambdas — the reference pays the same cost through
  its Beam harness for PyFlink UDFs (AbstractPythonFunctionOperator.java:48).

Bounded inputs execute with the reference's BATCH execution-mode
semantics (RuntimeExecutionMode.BATCH): per key, elements are processed
in event-time order, keyed state lives for the key's group, the
watermark jumps to +inf at end of input and fires all timers. Unbounded
(micro-batch) semantics for these operators live in
``streaming/stateful.py`` via the Table layer.

Scale note (100 TB): ``applyInPandas`` materializes one key's group in
executor memory — the same bound as the reference's batch sort-based
keyed operators holding one key's run. Heavy-key workloads should use
the Table/SQL layer where aggregation is incremental.
"""

from __future__ import annotations

import datetime
from typing import Any, Callable, Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
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
    RuntimeContext,
    TimerService,
    TimeWindow,
    WatermarkStrategy,
    WindowContext,
    WindowFunction,
    _to_ms,
)

_SIDE_TAG = "__side_tag"
_SIDE_JSON = "__side_json"


def _parse_ddl(spark: SparkSession, ddl: str | StructType) -> StructType:
    if isinstance(ddl, StructType):
        return ddl
    return spark.createDataFrame([], ddl).schema


def _to_pdf(rows: list[dict], names: list[str]) -> pd.DataFrame:
    if rows:
        return pd.DataFrame(rows, columns=names)
    return pd.DataFrame({n: pd.Series(dtype="object") for n in names})


def _row_iter(pdf: pd.DataFrame) -> Iterable[dict]:
    # to_dict('records') keeps python-native access cheap; NaT/NaN appear
    # as-is, matching what a PyFlink Row would carry for SQL NULL
    return pdf.to_dict("records")


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


def _same_group_key(a: tuple, b: tuple) -> bool:
    """Null-safe group-key equality shared by both group-walk paths."""
    return all((pd.isna(x) and pd.isna(y)) or x == y for x, y in zip(a, b))


def _grouped_apply(
    df: DataFrame,
    gcols: list[str],
    harness: Callable[[tuple, pd.DataFrame], pd.DataFrame],
    schema: StructType,
    shuffle: bool = True,
    rows_mode: bool = False,
) -> DataFrame:
    """Keyed-group apply with PER-BATCH group iteration: one shuffle on
    ``gcols`` + ``mapInPandas`` walking the groups inside each Arrow
    batch. ``applyInPandas`` invokes the Python worker once PER GROUP,
    which dominates wall time on many-small-groups shapes (thousands of
    users/windows with a handful of rows each) — iterating groups inside
    a batch amortizes that cost to one invocation per ~10k rows. The
    reference pays one operator call per record either way; this keeps
    the facade's per-group overhead from exceeding it.

    ``shuffle=False`` skips the repartition when the caller's plan
    already co-locates each group inside one partition (e.g. a window
    function partitioned by a PREFIX of ``gcols`` — session ids / count
    fires derive from the key, so hash(key) partitioning covers
    (key, window) groups); only the partition-local sort runs, keeping
    the upstream exchange the plan's only one.

    Groups are contiguous after the in-partition sort; a group can
    still be SPLIT across Arrow batches, so each batch's trailing group
    carries over as a LIST of pieces (null-safe key comparison,
    concatenated exactly once when the group completes — a group
    spanning many batches costs linear assembly, not quadratic).
    ``harness(key_tuple, group_pdf) -> result_pdf`` keeps the exact
    applyInPandas contract (group columns included in the pdf).

    ``rows_mode=True`` switches to the many-tiny-groups fast path:
    ``harness(key_tuple, rows: list[dict]) -> list[dict]`` — one
    ``itertuples`` pass per Arrow batch with sorted-boundary group
    detection, ONE output DataFrame per batch. The pdf-mode path builds
    a groupby sub-frame and a result DataFrame PER GROUP (~1 ms of
    pandas overhead each), which dominated wall time on shapes like the
    windowed coGroup (40k one-row groups → 35 s of pure overhead);
    rows_mode removes both per-group materializations."""
    names = [f.name for f in schema.fields]
    if rows_mode:
        return _grouped_apply_rows(df, gcols, harness, schema, names, shuffle)

    def key_mask(pdf: pd.DataFrame, key_row) -> pd.Series:
        m = pd.Series(True, index=pdf.index)
        for c in gcols:
            v = key_row[c]
            m &= pdf[c].isna() if pd.isna(v) else (pdf[c] == v)
        return m

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        # harness may return a DataFrame OR a list of row dicts; list
        # returns batch into ONE frame per run so a many-tiny-groups
        # shape never pays a per-group DataFrame construction
        frames = []
        rows: list[dict] = []
        for key, g in pdf.groupby(gcols, sort=False, dropna=False):
            if not isinstance(key, tuple):
                key = (key,)
            out = harness(key, g)
            if out is None:
                continue
            if isinstance(out, list):
                rows.extend(out)
            elif len(out):
                if rows:  # preserve inter-group emission order
                    frames.append(_to_pdf(rows, names))
                    rows = []
                frames.append(out)
        if rows:
            frames.append(_to_pdf(rows, names))
        if not frames:
            return _to_pdf([], names)
        return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

    def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        carry: list[pd.DataFrame] = []

        def flush() -> pd.DataFrame | None:
            nonlocal carry
            if not carry:
                return None
            grp = carry[0] if len(carry) == 1 else pd.concat(carry, ignore_index=True)
            carry = []
            return emit(grp)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry:
                ck = tuple(carry[-1][gcols].iloc[-1])
                fk = tuple(pdf[gcols].iloc[0])
                if _same_group_key(ck, fk):
                    head_m = key_mask(pdf, pdf[gcols].iloc[0])
                    carry.append(pdf[head_m])
                    pdf = pdf[~head_m]
                    if len(pdf) == 0:
                        continue  # batch fully absorbed by the carried group
                out = flush()  # a different key follows: the group is complete
                if out is not None and len(out):
                    yield out
            tail_m = key_mask(pdf, pdf[gcols].iloc[-1])
            body = pdf[~tail_m]
            carry = [pdf[tail_m]]
            if len(body):
                yield emit(body)
        out = flush()
        if out is not None and len(out):
            yield out

    parts = (df.repartition(*gcols) if shuffle else df).sortWithinPartitions(*gcols)
    return parts.mapInPandas(gen, schema)


def _grouped_apply_rows(
    df: DataFrame,
    gcols: list[str],
    harness,
    schema: StructType,
    names: list[str],
    shuffle: bool,
) -> DataFrame:
    """rows_mode body of :func:`_grouped_apply` (see its docstring):
    sorted-contiguous group walk over row dicts, one output frame per
    Arrow batch. The cross-batch carry is a plain list of row dicts —
    a group spanning batches costs linear assembly."""

    def _key_of(row: dict) -> tuple:
        return tuple(row[c] for c in gcols)

    def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        carry_rows: list[dict] = []
        carry_key: tuple | None = None

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cols = list(pdf.columns)
            out_rows: list[dict] = []
            for tup in pdf.itertuples(index=False, name=None):
                row = dict(zip(cols, tup))
                k = _key_of(row)
                if carry_key is not None and _same_group_key(k, carry_key):
                    carry_rows.append(row)
                    continue
                if carry_key is not None:
                    out_rows.extend(harness(carry_key, carry_rows) or [])
                carry_key, carry_rows = k, [row]
            if out_rows:
                yield _to_pdf(out_rows, names)
        if carry_key is not None:
            final = harness(carry_key, carry_rows) or []
            if final:
                yield _to_pdf(final, names)

    parts = (df.repartition(*gcols) if shuffle else df).sortWithinPartitions(*gcols)
    return parts.mapInPandas(gen, schema)


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
            schema = StructType(
                list(schema.fields)
                + list(_parse_ddl(self.env.spark, f"{_SIDE_TAG} STRING, {_SIDE_JSON} STRING").fields)
            )
        names = [f.name for f in schema.fields]

        def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            rc = RuntimeContext()
            if fn is not None:
                fn.open(rc)
            for pdf in batches:
                out: list[dict] = []
                for row in _row_iter(pdf):
                    emit(row, out)
                yield _to_pdf(out, names)
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
        import json

        tcol = self.time_col

        def emit(row: dict, out: list) -> None:
            ctx = Context(timer_service_obj=None, current_timestamp=_ts_ms(row.get(tcol)) if tcol else None)
            col = Collector()
            fn.process_element(row, ctx, col)
            for r in col.rows:
                out.append({**r, _SIDE_TAG: None, _SIDE_JSON: None} if side_outputs else r)
            for tag_id, r in ctx.side_rows:
                out.append({_SIDE_TAG: tag_id, _SIDE_JSON: json.dumps(r, default=str)})

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

        out = _grouped_apply(self.stream.df, list(self.keys), fold, schema)
        return DataStream(self.env, out, None)

    def _streaming_rolling_reduce(
        self, f: Callable[[dict, dict], dict], schema: StructType, names: list[str], tcol: str | None
    ) -> DataStream:
        """Unbounded rolling reduce via ``applyInPandasWithState``: the
        accumulator element is the keyed state (pickled — arbitrary
        user types), each arriving element emits the updated
        accumulator (update changelog downstream)."""
        import pickle

        from pyspark.sql.streaming.state import GroupStateTimeout

        def func(key: tuple, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
            acc = pickle.loads(state.get[0]) if state.exists else None
            out: list[dict] = []
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                if tcol:
                    pdf = pdf.sort_values(tcol, kind="stable")
                for row in _row_iter(pdf):
                    acc = row if acc is None else f(acc, row)
                    out.append(acc)
            if acc is not None:
                state.update((pickle.dumps(acc),))
            if out:
                yield _to_pdf(out, names)

        out = self.stream.df.groupBy(*self.keys).applyInPandasWithState(
            func,
            outputStructType=schema,
            stateStructType="acc BINARY",
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
        import json

        spark = self.env.spark
        schema = _parse_ddl(spark, output_type)
        if side_outputs:
            schema = StructType(
                list(schema.fields)
                + list(_parse_ddl(spark, f"{_SIDE_TAG} STRING, {_SIDE_JSON} STRING").fields)
            )
        names = [fld.name for fld in schema.fields]
        tcol = self.stream.time_col
        keys = self.keys
        use_side = bool(side_outputs)
        if self.stream.df.isStreaming:
            return self._process_streaming(fn, schema, names, tuple(side_outputs))

        def harness(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            if tcol:
                pdf = pdf.sort_values(tcol, kind="stable")
            rc = RuntimeContext()
            fn.open(rc)
            ts = TimerService()
            kval = key[0] if len(key) == 1 else key
            ctx = Context(timer_service_obj=ts, current_key=kval)
            col = Collector()
            for row in _row_iter(pdf):
                ctx.current_timestamp = _ts_ms(row.get(tcol)) if tcol else None
                fn.process_element(row, ctx, col)
            for t in ts._drain():
                ctx.current_timestamp = t
                fn.on_timer(t, ctx, col)
            fn.close()
            out: list[dict] = []
            for r in col.rows:
                out.append({**r, _SIDE_TAG: None, _SIDE_JSON: None} if use_side else r)
            for tag_id, r in ctx.side_rows:
                out.append({_SIDE_TAG: tag_id, _SIDE_JSON: json.dumps(r, default=str)})
            return out

        out = _grouped_apply(self.stream.df, list(keys), harness, schema)
        return DataStream(self.env, out, None, tuple(side_outputs))

    def _process_streaming(
        self,
        fn: KeyedProcessFunction,
        schema: StructType,
        names: list[str],
        side_outputs: tuple[OutputTag, ...],
    ) -> DataStream:
        """Unbounded KeyedProcessFunction via ``applyInPandasWithState``
        (STREAMING execution mode). Keyed state and the timer queue are
        the group state (pickled — arbitrary user state types); the
        micro-batch watermark drives event-time timers: due timers fire
        before the batch's elements, and a state timeout at the earliest
        pending timer wakes keys that receive no further data —
        the KeyedProcessOperator pattern in micro-batch clothing.
        Processing-time timers fire on the following batch once wall
        clock passes them (micro-batch granularity, documented)."""
        import json
        import pickle
        import time as _time

        from pyspark.sql.streaming.state import GroupStateTimeout

        tcol = self.stream.time_col
        if not tcol:
            raise ValueError(
                "streaming keyed process needs assign_timestamps_and_watermarks "
                "(event-time timers require a watermarked column)"
            )
        keys = self.keys
        use_side = bool(side_outputs)

        def func(key: tuple, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
            if state.exists:
                rc, ts = pickle.loads(state.get[0])
            else:
                rc, ts = RuntimeContext(), TimerService()
            fn.open(rc)
            kval = key[0] if len(key) == 1 else key
            ctx = Context(timer_service_obj=ts, current_key=kval)
            col = Collector()
            wm = state.getCurrentWatermarkMs()

            def fire_due() -> None:
                for t in ts._advance(wm):
                    ctx.current_timestamp = t
                    fn.on_timer(t, ctx, col)
                for t in ts._due_proc(int(_time.time() * 1000)):
                    ctx.current_timestamp = t
                    fn.on_timer(t, ctx, col)

            fire_due()
            if not state.hasTimedOut:
                for pdf in pdfs:
                    if len(pdf) == 0:
                        continue
                    pdf = pdf.sort_values(tcol, kind="stable")
                    for row in _row_iter(pdf):
                        ctx.current_timestamp = _ts_ms(row.get(tcol))
                        fn.process_element(row, ctx, col)
                fire_due()
            state.update((pickle.dumps((rc, ts)),))
            nxt = ts._next_pending()
            if nxt is not None:
                # timeouts must sit beyond the current watermark
                state.setTimeoutTimestamp(max(nxt, wm + 1))
            elif ts._proc_set:
                # pending processing-time timers: wake on the next
                # watermark advance so wall clock is re-checked
                state.setTimeoutTimestamp(wm + 1)
            out: list[dict] = []
            for r in col.rows:
                out.append({**r, _SIDE_TAG: None, _SIDE_JSON: None} if use_side else r)
            for tag_id, r in ctx.side_rows:
                out.append({_SIDE_TAG: tag_id, _SIDE_JSON: json.dumps(r, default=str)})
            if out:
                yield _to_pdf(out, names)

        out = self.stream.df.groupBy(*keys).applyInPandasWithState(
            func,
            outputStructType=schema,
            stateStructType="state BINARY",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        return DataStream(self.env, out, None, side_outputs)

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
                yield _to_pdf(out, names)

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

    def allowed_lateness(self, lateness) -> "WindowedStream":
        """WindowedStream.java:108. On bounded input (BATCH mode) every
        element precedes the end-of-input watermark, so no element is
        ever late and any lateness bound is exact as a no-op — the
        reference's batch runtime drops the concept the same way. The
        unbounded path for allowed lateness + late firing is the Table
        layer's allowed-lateness operator (streaming/stateful.py)."""
        _to_ms(lateness)  # validate the duration spelling
        return self

    def side_output_late_data(self, tag: OutputTag) -> "WindowedStream":
        """WindowedStream.java:124. BATCH mode: the late-data side
        output is exactly empty (no element follows the end-of-input
        watermark); the tag is recorded so get_side_output on the
        window result resolves to an empty typed stream."""
        self._late_tags = getattr(self, "_late_tags", ()) + (tag,)
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
        # iterated inside each Arrow batch (see _grouped_apply) — the
        # thousands-of-tiny-windows shape would otherwise pay a Python
        # worker invocation per window. Session/count windows derive
        # their window ids from a window function already partitioned by
        # the key, so hash(key) co-location holds and the lowering skips
        # its own shuffle — the plan keeps ONE exchange
        out = _grouped_apply(
            df,
            gcols,
            lambda key, g: group_rows(key, g),
            schema,
            shuffle=kind not in ("session", "count"),
        )
        return DataStream(
            self.env, out, None, empty_tags=getattr(self, "_late_tags", ())
        )

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
        (WindowedStream.java:285 + AggregatingStateDescriptor — the
        reference's incremental window aggregation): windows assign
        natively (epoch-ms arithmetic, so the (key, window) shuffle is
        JVM-side), one pickled accumulator per (key, window) lives in
        ``applyInPandasWithState``, and the window finalizes exactly
        once when the watermark passes its end (EventTimeTrigger.onEventTime)
        — elements arriving after finalization are late and drop, the
        reference's default zero allowed-lateness."""
        import pickle

        from pyspark.sql.streaming.state import GroupStateTimeout

        s = self.keyed.stream
        tcol = s.time_col
        if not tcol:
            raise ValueError("time windows need assign_timestamps_and_watermarks first")
        schema = _parse_ddl(self.env.spark, output_type)
        names = [fld.name for fld in schema.fields]
        df = _assign_time_windows(s.df, tcol, self.assigner)
        # State keys on the USER key only; every open window of that key
        # lives in ONE dict-valued state entry {(win_start, win_end):
        # acc}. Grouping on (key, window) instead — the first cut — paid
        # applyInPandasWithState's per-group constant (Arrow slice,
        # Python call, 1-row pandas output, state round-trip) once PER
        # WINDOW: ~1M (user, hour) windows at sf1 cost 235 s of pure
        # harness overhead, the same per-group constant class the
        # round-9 cogroup fix removed, and the thing a 1000-executor run
        # multiplies by billions of windows. Per-key grouping pays it
        # once per key per micro-batch and fires every due window of a
        # key in one output batch.
        gcols = [*self.keyed.keys]

        def func(key: tuple, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
            wm = state.getCurrentWatermarkMs()
            accs: dict = pickle.loads(state.get[0]) if state.exists else {}
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                pdf = pdf.sort_values(tcol, kind="stable")
                ws_arr = pdf["__win_start"].to_numpy()
                we_arr = pdf["__win_end"].to_numpy()
                rows = _row_iter(pdf.drop(columns=["__win_start", "__win_end"]))
                for row, ws, we in zip(rows, ws_arr, we_arr):
                    we = int(we)
                    if we <= wm:
                        # the watermark already passed this window's end:
                        # the window fired (or would have fired empty) —
                        # zero allowed lateness drops the element, and a
                        # fired window can never re-fire
                        continue
                    k = (int(ws), we)
                    acc = accs.get(k)
                    if acc is None:
                        acc = fn.create_accumulator()
                    accs[k] = fn.add(row, acc)
            # fire every window whose end the watermark passed, in
            # window order, exactly once (the acc leaves the dict)
            due = sorted(k for k in accs if k[1] <= wm)
            out = [fn.get_result(accs.pop(k)) for k in due]
            if accs:
                state.update((pickle.dumps(accs),))
                # wake when the earliest open window can fire
                state.setTimeoutTimestamp(max(min(k[1] for k in accs), wm + 1))
            elif state.exists:
                state.remove()
            if out:
                yield _to_pdf(out, names)

        out = df.groupBy(*gcols).applyInPandasWithState(
            func,
            outputStructType=schema,
            stateStructType="acc BINARY",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
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
        native exchange via union-with-tag), then one harness per key
        processes the merged, time-sorted run — the two-input operator's
        min-watermark ordering on bounded input."""
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
        schema = _parse_ddl(env.spark, output_type)
        names = [fld.name for fld in schema.fields]
        kcols = [f"__k{i}" for i in range(len(self.keys1))]

        def dispatch(fn_, row: dict, ctx: Context, col: Collector) -> None:
            if row["__side"] == 0:
                d = {c: (row["__ts"] if c == lt else row[f"__l_{c}"]) for c in lcols}
                fn_.process_element1(d, ctx, col)
            else:
                d = {c: (row["__ts"] if c == rt else row[f"__r_{c}"]) for c in rcols}
                fn_.process_element2(d, ctx, col)

        if unioned.isStreaming:
            return self._process_streaming(unioned, fn, schema, names, kcols, dispatch)

        def harness(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["__ts", "__side"], kind="stable", na_position="first")
            rc = RuntimeContext()
            fn.open(rc)
            ts = TimerService()
            kval = key[0] if len(key) == 1 else key
            ctx = Context(timer_service_obj=ts, current_key=kval)
            col = Collector()
            for row in _row_iter(pdf):
                ctx.current_timestamp = _ts_ms(row["__ts"])
                dispatch(fn, row, ctx, col)
            for t in ts._drain():
                ctx.current_timestamp = t
                fn.on_timer(t, ctx, col)
            fn.close()
            return col.rows

        out = _grouped_apply(unioned, kcols, harness, schema)
        return DataStream(env, out)

    def _process_streaming(
        self, unioned: DataFrame, fn, schema: StructType, names: list[str],
        kcols: list[str], dispatch,
    ) -> DataStream:
        """Unbounded keyed co-process: the union-with-tag shuffles both
        inputs to the key natively; per key, pickled state + the timer
        queue live in applyInPandasWithState — the two-input
        KeyedCoProcessOperator with the union's min-across-inputs
        watermark driving timers (Spark's multi-watermark min policy)."""
        import pickle
        import time as _time

        from pyspark.sql.streaming.state import GroupStateTimeout

        env = self.first.env

        def func(key, pdfs, state):
            if state.exists:
                rc, ts = pickle.loads(state.get[0])
            else:
                rc, ts = RuntimeContext(), TimerService()
            fn.open(rc)
            kval = key[0] if len(key) == 1 else key
            ctx = Context(timer_service_obj=ts, current_key=kval)
            col = Collector()
            wm = state.getCurrentWatermarkMs()

            def fire_due() -> None:
                for t in ts._advance(wm):
                    ctx.current_timestamp = t
                    fn.on_timer(t, ctx, col)
                # processing-time timers fire on the following batch once
                # wall clock passes them (micro-batch granularity — the
                # single-input path's contract)
                for t in ts._due_proc(int(_time.time() * 1000)):
                    ctx.current_timestamp = t
                    fn.on_timer(t, ctx, col)

            fire_due()
            if not state.hasTimedOut:
                for pdf in pdfs:
                    if len(pdf) == 0:
                        continue
                    pdf = pdf.sort_values(
                        ["__ts", "__side"], kind="stable", na_position="first"
                    )
                    for row in _row_iter(pdf):
                        ctx.current_timestamp = _ts_ms(row["__ts"])
                        dispatch(fn, row, ctx, col)
                fire_due()
            state.update((pickle.dumps((rc, ts)),))
            nxt = ts._next_pending()
            if nxt is not None:
                state.setTimeoutTimestamp(max(nxt, wm + 1))
            elif ts._proc_set:
                # pending processing-time timers: wake on the next
                # watermark advance so wall clock is re-checked — without
                # this a CoProcessFunction registering a proc-time timer
                # on a then-quiet key waits for the next element
                state.setTimeoutTimestamp(wm + 1)
            if col.rows:
                yield _to_pdf(col.rows, names)

        out = unioned.groupBy(*kcols).applyInPandasWithState(
            func,
            outputStructType=schema,
            stateStructType="state BINARY",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
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
                yield _to_pdf(col.rows, names)
            fn.close()

        return DataStream(env, self.main.df.mapInPandas(gen, schema))


class KeyedBroadcastConnectedStream:
    """Keyed main stream + broadcast control stream
    (KeyedBroadcastProcessFunction.java): per-key keyed state and timers
    PLUS the replicated broadcast state. BATCH-mode order: broadcast
    side first in full (its state maps build once), then each key's
    time-sorted run with timers firing at end of input."""

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
        schema = _parse_ddl(env.spark, output_type)
        names = [fld.name for fld in schema.fields]
        tcol = self.keyed.stream.time_col
        keys = self.keyed.keys

        def harness(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            if tcol:
                pdf = pdf.sort_values(tcol, kind="stable")
            rc = RuntimeContext()
            fn.open(rc)
            ts = TimerService()
            kval = key[0] if len(key) == 1 else key
            ctx = ReadOnlyBroadcastContext(ts, states)
            ctx.current_key = kval
            col = Collector()
            for row in _row_iter(pdf):
                ctx.current_timestamp = _ts_ms(row.get(tcol)) if tcol else None
                fn.process_element(row, ctx, col)
            for t in ts._drain():
                ctx.current_timestamp = t
                fn.on_timer(t, ctx, col)
            fn.close()
            return _to_pdf(col.rows, names)

        out = self.keyed.stream.df.groupBy(*keys).applyInPandas(
            lambda k, p: harness(k, p), schema
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
                    yield _to_pdf(out, names)
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
                yield _to_pdf(out, names)

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

        # group-amortized lowering on (key, window) — see _grouped_apply
        out = _grouped_apply(unioned, gcols, harness, schema, rows_mode=True)
        return DataStream(env, out)
