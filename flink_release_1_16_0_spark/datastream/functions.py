"""DataStream user-function surface: process functions, keyed state,
timers, side-output tags, watermark strategies.

Reference parity (SURVEY.md section 1.4 item 3 / section 3.3): the
DataStream API's user-code contracts live in
``flink-streaming-java/.../api/functions/*`` (ProcessFunction.java:45,
KeyedProcessFunction.java:48, co/CoProcessFunction.java,
co/KeyedCoProcessFunction.java, co/BroadcastProcessFunction.java) with
keyed state declared through descriptors
(``flink-core/.../api/common/state/*StateDescriptor.java``) and timers
through ``TimerService`` (flink-streaming-java/.../TimerService.java).

These classes are plain-Python contracts; the Spark lowering lives in
``datastream.stream``. Rows cross the boundary as ``dict``s (Arrow
batches row-ified at the pandas edge), so a user function body ports
from PyFlink by changing only imports. State and timers follow the
reference's BATCH execution-mode semantics: state lives for the
duration of one key's group, the watermark stays at -inf while elements
are processed and jumps to +inf at end of input, at which point every
registered timer fires in timestamp order (the documented behavior of
DataStream programs on bounded input). On unbounded input a key's
state is its pending timers (``TimerService._timers``) and the user's
values by descriptor name (``RuntimeContext._snapshot``); the state
objects, and the functions their descriptors carry, are rebuilt each
micro-batch, never stored.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable

from pyspark import cloudpickle

MIN_WATERMARK = -(2**63)
MAX_WATERMARK = 2**63 - 1


# ---------------------------------------------------------------------------
# collector + side outputs


class Collector:
    """Accumulates emitted rows (``Collector.java`` contract)."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def collect(self, value: dict) -> None:
        self.rows.append(value)


@dataclass(frozen=True)
class OutputTag:
    """Side-output handle (``OutputTag.java:59``): an id plus the DDL
    row type of the rows routed to it."""

    tag_id: str
    type_ddl: str


# ---------------------------------------------------------------------------
# state descriptors + per-key state objects (api/common/state/*.java)


@dataclass(frozen=True)
class ValueStateDescriptor:
    name: str
    default: Any = None


@dataclass(frozen=True)
class ListStateDescriptor:
    name: str


@dataclass(frozen=True)
class MapStateDescriptor:
    name: str


@dataclass(frozen=True)
class ReducingStateDescriptor:
    name: str
    reduce_function: Callable[[Any, Any], Any] = None


@dataclass(frozen=True)
class AggregatingStateDescriptor:
    name: str
    agg_function: "AggregateFunction" = None


class ValueState:
    _slot = "_v"  # the attribute keyed state stores

    def __init__(self, default: Any = None) -> None:
        self._v = default
        self._default = default

    def value(self) -> Any:
        return self._v

    def update(self, v: Any) -> None:
        self._v = v

    def clear(self) -> None:
        self._v = self._default


class ListState:
    _slot = "_l"

    def __init__(self) -> None:
        self._l: list = []

    def get(self) -> list:
        return self._l

    def add(self, v: Any) -> None:
        self._l.append(v)

    def add_all(self, vs: Iterable[Any]) -> None:
        self._l.extend(vs)

    def update(self, vs: Iterable[Any]) -> None:
        self._l = list(vs)

    def clear(self) -> None:
        self._l = []


class MapState:
    _slot = "_m"

    def __init__(self) -> None:
        self._m: dict = {}

    def get(self, k: Any) -> Any:
        return self._m.get(k)

    def put(self, k: Any, v: Any) -> None:
        self._m[k] = v

    def put_all(self, items: dict) -> None:
        self._m.update(items)

    def remove(self, k: Any) -> None:
        self._m.pop(k, None)

    def contains(self, k: Any) -> bool:
        return k in self._m

    def keys(self):
        return self._m.keys()

    def values(self):
        return self._m.values()

    def items(self):
        return self._m.items()

    def is_empty(self) -> bool:
        return not self._m

    def clear(self) -> None:
        self._m = {}


class ReducingState:
    _slot = "_v"

    def __init__(self, reduce_function: Callable[[Any, Any], Any]) -> None:
        self._fn = reduce_function
        self._v: Any = None

    def get(self) -> Any:
        return self._v

    def add(self, v: Any) -> None:
        self._v = v if self._v is None else self._fn(self._v, v)

    def clear(self) -> None:
        self._v = None


class AggregatingState:
    _slot = "_acc"

    def __init__(self, agg: "AggregateFunction") -> None:
        self._agg = agg
        self._acc = agg.create_accumulator()

    def get(self) -> Any:
        return self._agg.get_result(self._acc)

    def add(self, v: Any) -> None:
        self._acc = self._agg.add(v, self._acc)

    def clear(self) -> None:
        self._acc = self._agg.create_accumulator()


class RuntimeContext:
    """Per-key state store handed to ``open()`` / the process context.

    The reference scopes one logical store per key (keyed state); the
    batch harness materializes it fresh when a key's group starts, the
    exact lifetime keyed state has in BATCH execution mode where keys
    are processed one group at a time. On unbounded input ``values`` is
    the key's :meth:`_snapshot` from the previous micro-batch: each
    state object is rebuilt from its descriptor and takes its stored
    value back.
    """

    def __init__(self, values: bytes | None = None) -> None:
        self._states: dict[str, Any] = {}
        self._values: dict[str, Any] = cloudpickle.loads(values) if values else {}

    def _get(self, name: str, make: Callable[[], Any]) -> Any:
        if name not in self._states:
            st = make()
            if name in self._values:
                setattr(st, st._slot, self._values[name])
            self._states[name] = st
        return self._states[name]

    def _snapshot(self) -> bytes:
        """The user's state values by descriptor name, pickled: only the
        values, so a reduce or aggregate function is never stored.
        cloudpickle, because a value's class may exist only by value on
        the worker (defined in the driver's script)."""
        vals = dict(self._values)
        for name, st in self._states.items():
            vals[name] = getattr(st, st._slot)
        return cloudpickle.dumps(vals)

    def get_state(self, desc: ValueStateDescriptor) -> ValueState:
        return self._get(desc.name, lambda: ValueState(desc.default))

    def get_list_state(self, desc: ListStateDescriptor) -> ListState:
        return self._get(desc.name, ListState)

    def get_map_state(self, desc: MapStateDescriptor) -> MapState:
        return self._get(desc.name, MapState)

    def get_reducing_state(self, desc: ReducingStateDescriptor) -> ReducingState:
        return self._get(desc.name, lambda: ReducingState(desc.reduce_function))

    def get_aggregating_state(
        self, desc: AggregatingStateDescriptor
    ) -> AggregatingState:
        return self._get(desc.name, lambda: AggregatingState(desc.agg_function))


# ---------------------------------------------------------------------------
# timers


class TimerService:
    """Batch-mode timer service (``TimerService.java`` contract;
    InternalTimerServiceImpl dedupes timers per (key, timestamp) — so
    does the heap here). Event-time and processing-time timers both
    fire at end of input, the documented BATCH-mode behavior."""

    def __init__(self, event: Iterable[int] = (), proc: Iterable[int] = ()) -> None:
        self._watermark = MIN_WATERMARK
        # a sorted list is a heap
        self._event: list[int] = sorted(event)
        self._event_set: set[int] = set(self._event)
        self._proc: list[int] = sorted(proc)
        self._proc_set: set[int] = set(self._proc)

    def _timers(self) -> tuple[list[int], list[int]]:
        """The pending event-time and processing-time timers, the
        constructor's arguments."""
        return sorted(self._event_set), sorted(self._proc_set)

    def current_watermark(self) -> int:
        return self._watermark

    def current_processing_time(self) -> int:
        # deterministic in batch mode: processing time is observed only
        # by timers, all of which fire at end of input
        return self._watermark

    def register_event_time_timer(self, t: int) -> None:
        t = int(t)
        if t not in self._event_set:
            self._event_set.add(t)
            heapq.heappush(self._event, t)

    def delete_event_time_timer(self, t: int) -> None:
        self._event_set.discard(int(t))

    def register_processing_time_timer(self, t: int) -> None:
        t = int(t)
        if t not in self._proc_set:
            self._proc_set.add(t)
            heapq.heappush(self._proc, t)

    def delete_processing_time_timer(self, t: int) -> None:
        self._proc_set.discard(int(t))

    def _advance(self, watermark_ms: int) -> Iterable[int]:
        """Fire event-time timers the watermark has passed (streaming
        micro-batch mode): yield due timers in timestamp order, leave
        the rest pending. Mirrors InternalTimerServiceImpl
        .advanceWatermark (timers with t <= watermark fire)."""
        self._watermark = max(self._watermark, watermark_ms)
        while self._event and self._event[0] <= self._watermark:
            t = heapq.heappop(self._event)
            if t in self._event_set:
                self._event_set.discard(t)
                yield t

    def _due_proc(self, now_ms: int) -> Iterable[int]:
        """Fire processing-time timers wall-clock has passed (streaming
        micro-batch mode — batch granularity)."""
        while self._proc:
            while self._proc and self._proc[0] not in self._proc_set:
                heapq.heappop(self._proc)
            if not self._proc or self._proc[0] > now_ms:
                break
            t = heapq.heappop(self._proc)
            self._proc_set.discard(t)
            yield t

    def _next_pending(self) -> int | None:
        """Earliest registered event-time timer still pending."""
        while self._event and self._event[0] not in self._event_set:
            heapq.heappop(self._event)
        return self._event[0] if self._event else None

    def _drain(self) -> Iterable[int]:
        """Fire everything (watermark -> +inf): event-time first, then
        processing-time, each in timestamp order; timers registered
        while firing also fire (the reference re-checks the queues)."""
        self._watermark = MAX_WATERMARK
        while self._event or self._proc:
            while self._event:
                t = heapq.heappop(self._event)
                if t in self._event_set:
                    self._event_set.discard(t)
                    yield t
            while self._proc:
                t = heapq.heappop(self._proc)
                if t in self._proc_set:
                    self._proc_set.discard(t)
                    yield t


# ---------------------------------------------------------------------------
# function contracts (api/functions/*.java)


class Function:
    def open(self, runtime_context: RuntimeContext) -> None:  # noqa: B027
        pass

    def close(self) -> None:  # noqa: B027
        pass


class MapFunction(Function):
    def map(self, value: dict) -> dict:
        raise NotImplementedError


class FlatMapFunction(Function):
    def flat_map(self, value: dict) -> Iterable[dict]:
        raise NotImplementedError


class FilterFunction(Function):
    def filter(self, value: dict) -> bool:
        raise NotImplementedError


class ReduceFunction(Function):
    def reduce(self, a: dict, b: dict) -> dict:
        raise NotImplementedError


class AggregateFunction(Function):
    """AggregateFunction.java:193 — acc lifecycle add/merge/result."""

    def create_accumulator(self) -> Any:
        raise NotImplementedError

    def add(self, value: dict, acc: Any) -> Any:
        raise NotImplementedError

    def get_result(self, acc: Any) -> Any:
        raise NotImplementedError

    def merge(self, a: Any, b: Any) -> Any:
        raise NotImplementedError


@dataclass
class Context:
    """Process-function context: element timestamp (epoch ms), the
    timer service, the current key, and side-output routing."""

    timer_service_obj: TimerService
    current_key: Any = None
    current_timestamp: int | None = None
    side_rows: list[tuple[str, dict]] = field(default_factory=list)

    def timestamp(self) -> int | None:
        return self.current_timestamp

    def timer_service(self) -> TimerService:
        return self.timer_service_obj

    def get_current_key(self) -> Any:
        return self.current_key

    def output(self, tag: OutputTag, value: dict) -> None:
        self.side_rows.append((tag.tag_id, value))


class ProcessFunction(Function):
    """DataStream.process (DataStream.java:647)."""

    def process_element(self, value: dict, ctx: Context, out: Collector) -> None:
        raise NotImplementedError

    def on_timer(self, timestamp: int, ctx: Context, out: Collector) -> None:  # noqa: B027
        pass


class KeyedProcessFunction(ProcessFunction):
    """KeyedStream.process (KeyedStream.java:325) with keyed state +
    timers."""


class CoProcessFunction(Function):
    """ConnectedStreams.process (CoProcessFunction.java)."""

    def process_element1(self, value: dict, ctx: Context, out: Collector) -> None:
        raise NotImplementedError

    def process_element2(self, value: dict, ctx: Context, out: Collector) -> None:
        raise NotImplementedError

    def on_timer(self, timestamp: int, ctx: Context, out: Collector) -> None:  # noqa: B027
        pass


class KeyedCoProcessFunction(CoProcessFunction):
    pass


class BroadcastProcessFunction(Function):
    """BroadcastConnectedStream.process (BroadcastProcessFunction.java).
    ``process_broadcast_element`` mutates broadcast state (a MapState
    per declared descriptor); ``process_element`` reads it."""

    def process_element(
        self, value: dict, ctx: "ReadOnlyBroadcastContext", out: Collector
    ) -> None:
        raise NotImplementedError

    def process_broadcast_element(
        self, value: dict, ctx: "BroadcastContext"
    ) -> None:
        raise NotImplementedError


class KeyedBroadcastProcessFunction(BroadcastProcessFunction):
    def on_timer(self, timestamp: int, ctx: Context, out: Collector) -> None:  # noqa: B027
        pass


class BroadcastContext:
    def __init__(self, states: dict[str, dict]) -> None:
        self._states = states

    def get_broadcast_state(self, desc: MapStateDescriptor) -> MapState:
        if desc.name not in self._states:
            ms = MapState()
            self._states[desc.name] = ms
        return self._states[desc.name]


class ReadOnlyBroadcastContext(Context):
    def __init__(self, timer_service_obj: TimerService, states: dict[str, MapState]) -> None:
        super().__init__(timer_service_obj)
        self._states = states

    def get_broadcast_state(self, desc: MapStateDescriptor) -> MapState:
        return self._states.get(desc.name) or MapState()


@dataclass(frozen=True)
class TimeWindow:
    """TimeWindow.java:36 — [start, end) in epoch ms."""

    start: int
    end: int

    def max_timestamp(self) -> int:
        return self.end - 1


@dataclass(frozen=True)
class CountWindow:
    """GlobalWindow fire point: the 1-based ordinal of the trigger."""

    window_id: int


class WindowContext:
    def __init__(self, window: TimeWindow | CountWindow) -> None:
        self.window = window


class ProcessWindowFunction(Function):
    """WindowedStream.process (WindowedStream.java:587)."""

    def process(
        self, key: Any, context: WindowContext, elements: list[dict], out: Collector
    ) -> None:
        raise NotImplementedError


class WindowFunction(Function):
    """WindowedStream.apply (WindowedStream.java:546)."""

    def apply(
        self, key: Any, window: TimeWindow | CountWindow, inputs: list[dict], out: Collector
    ) -> None:
        raise NotImplementedError


class AsyncFunction(Function):
    """AsyncFunction.java (api/functions/async): ``async_invoke``
    returns the output element(s) for one input (dict, iterable of
    dicts, or None for no output); ``timeout`` is the per-element
    timeout hook — the reference default completes the element
    exceptionally (fails the job), override to supply fallback rows."""

    def async_invoke(self, value: dict) -> dict | Iterable[dict] | None:
        raise NotImplementedError

    def timeout(self, value: dict) -> dict | Iterable[dict] | None:
        raise TimeoutError(f"async lookup timed out for {value!r}")


class ProcessJoinFunction(Function):
    """IntervalJoin.process (ProcessJoinFunction.java)."""

    def process_element(self, left: dict, right: dict, ctx: Context, out: Collector) -> None:
        raise NotImplementedError


class JoinFunction(Function):
    """JoinedStreams window join apply (JoinFunction.java)."""

    def join(self, left: dict, right: dict) -> dict:
        raise NotImplementedError


class CoGroupFunction(Function):
    """CoGroupedStreams window co-group apply (CoGroupFunction.java)."""

    def co_group(self, first: list[dict], second: list[dict], out: Collector) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# watermark strategies (flink-core WatermarkStrategy.java:210,225,147)


@dataclass(frozen=True)
class WatermarkStrategy:
    """Declarative watermarking for DataStream programs.

    ``for_bounded_out_of_orderness`` maps onto Spark's
    ``withWatermark`` delay in streaming lowerings; in BATCH execution
    the reference ignores watermarks entirely (one +inf watermark at
    end of input) and so does this facade. ``with_idleness`` is a
    streaming-source liveness knob with no bounded-input effect; it is
    recorded for API compatibility (SURVEY.md section 1.3 scoping).
    """

    delay_ms: int = 0
    ts_field: str | None = None
    idleness_ms: int | None = None

    @staticmethod
    def for_monotonous_timestamps() -> "WatermarkStrategy":
        return WatermarkStrategy(delay_ms=0)

    @staticmethod
    def for_bounded_out_of_orderness(delay) -> "WatermarkStrategy":
        return WatermarkStrategy(delay_ms=_to_ms(delay))

    @staticmethod
    def no_watermarks() -> "WatermarkStrategy":
        return WatermarkStrategy(delay_ms=-1)

    def with_timestamp_assigner(self, ts_field: str) -> "WatermarkStrategy":
        return WatermarkStrategy(self.delay_ms, ts_field, self.idleness_ms)

    def with_idleness(self, idleness) -> "WatermarkStrategy":
        return WatermarkStrategy(self.delay_ms, self.ts_field, _to_ms(idleness))


def _to_ms(d) -> int:
    """Duration -> epoch-ms int (timedelta, numeric ms, or '10 minutes')."""
    import datetime

    if isinstance(d, datetime.timedelta):
        return int(d.total_seconds() * 1000)
    if isinstance(d, (int, float)):
        return int(d)
    if isinstance(d, str):
        qty, unit = d.split()
        unit = unit.rstrip("s")
        factor = {
            "millisecond": 1,
            "second": 1000,
            "minute": 60_000,
            "hour": 3_600_000,
            "day": 86_400_000,
        }[unit]
        return int(float(qty) * factor)
    raise TypeError(f"unsupported duration: {d!r}")
