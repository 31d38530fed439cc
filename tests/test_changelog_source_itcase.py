"""ChangelogSourceITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
ChangelogSourceITCase.scala — operations over changelog and upsert
SOURCES, parameterized over the four source modes:

- CHANGELOG (I,UA,UB,D): rows pass through as a full retract log;
- UPSERT (UA,D + PK): ChangelogNormalize expands upserts into
  -U(prev)/+U(new) pairs (streaming_upsert_to_retract);
- CHANGELOG_WITH_EVENTS_DUPLICATE (at-least-once CDC): duplicated
  +I/-U/+U/-D events; the PK normalize swallows the duplicates (a dup
  +U churns -U/+U of the same row, a dup -D is a no-op on dead state);
- NO_UPDATE (I,D): -U/+U rewritten to -D/+I by the source.

Downstream compositions exercised per mode: retract fold, upsert sink
materialization (incl. "no -U reaches an upsert sink" after
DropUpdateBefore), retracting aggregate (COUNT/SUM(decimal)/MAX with
retraction), GROUP BY a non-PK column, filter-then-upsert (the -U must
survive the filter so the old row is deletable), and the two-sided
changelog join against an insert-only orders stream.

Fixtures: TestData.userChangelog / userUpsertlog / ratesHistoryData /
ratesUpsertData / ordersData (TestData.scala:662-727) and the
duplicated variants from ChangelogSourceITCase.scala:293-336
(Apache-2.0). Operators under test are original:
streaming/stateful.py streaming_upsert_to_retract +
streaming_changelog_join, streaming/retract_agg.py."""

from __future__ import annotations

from collections import Counter
from decimal import Decimal

import pytest

from pyspark.sql.types import LongType, StringType

from tools.fuzz_changelog import _Cap, _schema, one_group, replay
from flink_release_1_16_0_spark.streaming.changelog import (
    DELETE,
    INSERT,
    ROWKIND,
    UPDATE_AFTER,
    UPDATE_BEFORE,
)
from tests.test_aggregate_itcase import (
    RK,
    build,
    feed,
    retract_fold,
)
from tests.test_join_semianti_itcase import (
    _join_fn,
    fold,
    merge_sides,
    replay_nullkeys,
)


@pytest.fixture(autouse=True)
def _needs_spark(spark):
    # _Cap/_schema parse DDL through the active SparkContext
    return spark


def _dec(s: str) -> Decimal:
    return Decimal(s).quantize(Decimal("0.01"))


# kind[user_id, user_name, email, balance] (TestData.scala:662)
USER_CHANGELOG = [
    ("+I", "user1", "Tom", "tom@gmail.com", "10.02"),
    ("+I", "user2", "Jack", "jack@hotmail.com", "71.2"),
    ("-U", "user1", "Tom", "tom@gmail.com", "10.02"),
    ("+U", "user1", "Tom", "tom123@gmail.com", "8.1"),
    ("+I", "user3", "Bailey", "bailey@gmail.com", "9.99"),
    ("-D", "user2", "Jack", "jack@hotmail.com", "71.2"),
    ("+I", "user4", "Tina", "tina@gmail.com", "11.3"),
    ("-U", "user3", "Bailey", "bailey@gmail.com", "9.99"),
    ("+U", "user3", "Bailey", "bailey@qq.com", "9.99"),
]

USER_UPSERTLOG = [
    ("+U", "user1", "Tom", "tom@gmail.com", "10.02"),
    ("+U", "user2", "Jack", "jack@hotmail.com", "71.2"),
    ("+U", "user1", "Tom", "tom123@gmail.com", "8.1"),
    ("+U", "user3", "Bailey", "bailey@gmail.com", "9.99"),
    ("-D", "user2", "Jack", "jack@hotmail.com", "71.2"),
    ("+U", "user4", "Tina", "tina@gmail.com", "11.3"),
    ("+U", "user3", "Bailey", "bailey@qq.com", "9.99"),
]

# ChangelogSourceITCase.scala:293 — at-least-once CDC duplicates
USER_CHANGELOG_DUP = [
    ("+I", "user1", "Tom", "tom@gmail.com", "10.02"),
    ("+I", "user2", "Jack", "jack@hotmail.com", "71.2"),
    ("+I", "user2", "Jack", "jack@hotmail.com", "71.2"),  # dup
    ("-U", "user1", "Tom", "tom@gmail.com", "10.02"),
    ("+U", "user1", "Tom", "tom123@gmail.com", "8.1"),
    ("-U", "user1", "Tom", "tom@gmail.com", "10.02"),  # dup
    ("+U", "user1", "Tom", "tom123@gmail.com", "8.1"),  # dup
    ("+I", "user3", "Bailey", "bailey@gmail.com", "9.99"),
    ("-D", "user2", "Jack", "jack@hotmail.com", "71.2"),
    ("-D", "user2", "Jack", "jack@hotmail.com", "71.2"),  # dup
    ("+I", "user4", "Tina", "tina@gmail.com", "11.3"),
    ("-U", "user3", "Bailey", "bailey@gmail.com", "9.99"),
    ("+U", "user3", "Bailey", "bailey@qq.com", "9.99"),
]

# kind[currency, rate] (TestData.scala:709)
RATES_HISTORY = [
    ("+I", "US Dollar", 102),
    ("+I", "Euro", 114),
    ("+I", "Yen", 1),
    ("-U", "Euro", 114),
    ("+U", "Euro", 116),
    ("-U", "Euro", 116),
    ("+U", "Euro", 119),
    ("-D", "Yen", 1),
]

RATES_UPSERT = [
    ("+U", "US Dollar", 102),
    ("+U", "Euro", 114),
    ("+U", "Yen", 1),
    ("+U", "Euro", 116),
    ("+U", "Euro", 119),
    ("-D", "Yen", 1),
]

# ChangelogSourceITCase.scala:324
RATES_DUP = [
    ("+I", "US Dollar", 102),
    ("+I", "Euro", 114),
    ("+I", "Euro", 114),  # dup
    ("+I", "Yen", 1),
    ("-U", "Euro", 114),
    ("+U", "Euro", 116),
    ("-U", "Euro", 116),
    ("+U", "Euro", 119),
    ("-U", "Euro", 116),  # dup
    ("+U", "Euro", 119),  # dup
    ("-D", "Yen", 1),
    ("-D", "Yen", 1),  # dup
]

ORDERS = [(2, "Euro"), (1, "US Dollar"), (50, "Yen"), (3, "Euro"), (5, "US Dollar")]

MODES = ["changelog", "dup", "upsert", "no_update"]


def _normalize_upsert(rows, key_idx, ncols):
    """Drive the production streaming_upsert_to_retract closure over an
    upsert log; returns the expanded retract rows (kind, *payload)."""
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_upsert_to_retract,
    )

    names = [f"c{i}" for i in range(ncols)]
    ddl = f"{ROWKIND} STRING, seq BIGINT, " + ", ".join(
        f"{n} STRING" for n in names
    )
    cap = _Cap(_schema(ddl))
    streaming_upsert_to_retract(cap, keys=[names[i] for i in key_idx], seq_col="seq")
    cols = [ROWKIND, "seq"] + names
    batches = [[(r[0], i, *r[1:])] for i, r in enumerate(rows)]
    keys = [names[i] for i in key_idx]
    return [
        tuple(e.values())
        for e in replay(cap.fn, batches, keys, cols, groups=one_group)
    ]


def users_changelog(mode):
    """The post-source retract log per source mode, with balance as
    DECIMAL(18,2) and the computed balance2 = balance * 2."""
    if mode == "changelog":
        rows = USER_CHANGELOG
    elif mode == "no_update":
        rows = [
            (
                {"-U": "-D", "+U": "+I"}.get(k, k),
                *r,
            )
            for k, *r in USER_CHANGELOG
        ]
    else:
        src = USER_UPSERTLOG if mode == "upsert" else USER_CHANGELOG_DUP
        # PK (user_name, user_id) = payload positions (1, 0)
        rows = _normalize_upsert(src, key_idx=[1, 0], ncols=4)
    return [
        (k, uid, name, email, _dec(bal), _dec(bal) * 2)
        for k, uid, name, email, bal in rows
    ]


def rates_changelog(mode):
    if mode == "changelog":
        return RATES_HISTORY
    if mode == "no_update":
        return [
            ({"-U": "-D", "+U": "+I"}.get(k, k), c, r) for k, c, r in RATES_HISTORY
        ]
    src = RATES_UPSERT if mode == "upsert" else RATES_DUP
    return _normalize_upsert(src, key_idx=[0], ncols=2)


EXPECTED_USERS = sorted(
    [
        "user1,Tom,tom123@gmail.com,8.10,16.20",
        "user3,Bailey,bailey@qq.com,9.99,19.98",
        "user4,Tina,tina@gmail.com,11.30,22.60",
    ]
)


def _fmt_user(t):
    return ",".join(str(v) for v in t)


@pytest.mark.parametrize("mode", MODES)
def test_to_retract_stream(mode):
    live: Counter = Counter()
    for k, *vals in users_changelog(mode):
        live[tuple(vals)] += 1 if k in ("+I", "+U") else -1
    got = sorted(_fmt_user(t) for t, n in live.items() for _ in range(n))
    assert got == EXPECTED_USERS


def _upsert_fold(rows, pk_idx):
    """upsert sink materialization: additive puts by PK, -U/-D deletes."""
    state: dict = {}
    for k, *vals in rows:
        pk = tuple(vals[i] for i in pk_idx)
        if k in ("+I", "+U"):
            state[pk] = tuple(vals)
        else:
            state.pop(pk, None)
    return sorted(_fmt_user(t) for t in state.values())


@pytest.mark.parametrize("mode", MODES)
def test_to_upsert_sink(mode):
    rows = users_changelog(mode)
    assert _upsert_fold(rows, [0]) == EXPECTED_USERS
    if mode == "dup":
        # the upsert sink path runs DropUpdateBefore — no -U may reach
        # the sink (ChangelogSourceITCase's raw-result assertion)
        sink_feed = [r for r in rows if r[0] != UPDATE_BEFORE]
        assert _upsert_fold(sink_feed, [0]) == EXPECTED_USERS
        assert all(r[0] != UPDATE_BEFORE for r in sink_feed)


@pytest.mark.parametrize("mode", MODES)
def test_aggregate(mode):
    rows = [(k, uid, em, bal) for k, uid, _n, em, bal, _b2 in users_changelog(mode)]
    fn = build(
        _schema(
            f"{RK} STRING, user_id STRING, email STRING, balance STRING, "
            "__g BIGINT"
        ),
        ["__g"],
        [
            ("cnt", "count_star", None, LongType()),
            ("s", "sum", "balance", StringType()),
            ("mx", "max", "email", StringType()),
        ],
        rowkind_col=RK,
    )
    states: dict = {}
    out = []
    cols = [RK, "user_id", "email", "balance", "__g"]
    for r in rows:
        out += feed(fn, states, [(*r, 0)], cols, ["__g"])
    got = retract_fold(out, ["cnt", "s", "mx"])
    assert got == [(3, "29.39", "tom123@gmail.com")]


@pytest.mark.parametrize("mode", MODES)
def test_group_by_non_primary_key(mode):
    rows = [
        (k, str(b2), em) for k, _u, _n, em, _b, b2 in users_changelog(mode)
    ]
    fn = build(
        _schema(f"{RK} STRING, balance2 STRING, email STRING"),
        ["balance2"],
        [
            ("cnt", "count_star", None, LongType()),
            ("mx", "max", "email", StringType()),
        ],
        rowkind_col=RK,
    )
    states: dict = {}
    out = []
    for r in rows:
        out += feed(fn, states, [r], [RK, "balance2", "email"], ["balance2"])
    got = retract_fold(out, ["balance2", "cnt", "mx"])
    assert got == [
        ("16.20", 1, "tom123@gmail.com"),
        ("19.98", 1, "bailey@qq.com"),
        ("22.60", 1, "tina@gmail.com"),
    ]


@pytest.mark.parametrize("mode", MODES)
def test_filter_then_upsert(mode):
    # WHERE balance > 9: the -U for user1's old 10.02 row passes the
    # filter and must DELETE it from the upsert sink even though the
    # new 8.1 row is filtered out
    rows = [r for r in users_changelog(mode) if r[4] > 9]
    got = _upsert_fold(rows, [0])
    assert got == sorted(
        [
            "user3,Bailey,bailey@qq.com,9.99,19.98",
            "user4,Tina,tina@gmail.com,11.30,22.60",
        ]
    )


@pytest.mark.parametrize("mode", MODES)
def test_regular_join(mode):
    left = [(INSERT, cur, (amt,)) for amt, cur in ORDERS]
    right = [(k, cur, (rate,)) for k, cur, rate in rates_changelog(mode)]
    fn = _join_fn(
        f"{ROWKIND} STRING, seq BIGINT, k STRING, amount BIGINT",
        f"{ROWKIND} STRING, seq BIGINT, k STRING, rate BIGINT",
        ["k"],
        "inner",
    )
    merged = merge_sides(left, right)
    out = replay_nullkeys(
        fn,
        [[m] for m in merged],
        ["k"],
        [ROWKIND, "seq", "k", "__side", "amount", "rate"],
    )
    got = fold(out, ["k", "amount", "rate"])
    assert got == Counter(
        {
            ("Euro", 2, 119): 1,
            ("Euro", 3, 119): 1,
            ("US Dollar", 1, 102): 1,
            ("US Dollar", 5, 102): 1,
        }
    )
