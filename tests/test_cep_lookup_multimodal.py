"""Unit tests: CEP pattern matching, lookup join, multimodal plumbing,
and the streaming over-agg operator across micro-batches."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flink_release_1_16_0_spark.operators.cep import (
    classify,
    match_fixed_pattern,
    match_regex_pattern,
)
from flink_release_1_16_0_spark.operators.lookup import lookup_join
from flink_release_1_16_0_spark.operators.multimodal import (
    extract_media_metadata,
    with_binary_payload,
)


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


@pytest.fixture(scope="module")
def actions(spark):
    rows = [
        # user 1: c c p  (one ccp match; c+p matches 'ccp')
        (1, 1, _ts(1), "click"),
        (1, 2, _ts(2), "click"),
        (1, 3, _ts(3), "purchase"),
        # user 2: c x c p (no ccp on consecutive rows; c+p matches 'cp')
        (2, 4, _ts(1), "click"),
        (2, 5, _ts(2), "view"),
        (2, 6, _ts(3), "click"),
        (2, 7, _ts(4), "purchase"),
        # user 3: p only (no matches)
        (3, 8, _ts(1), "purchase"),
    ]
    return spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string"
    )


def _sym():
    return classify(
        {"c": F.col("event_type") == "click", "p": F.col("event_type") == "purchase"}
    )


def test_fixed_pattern_consecutive_only(spark, actions):
    out = match_fixed_pattern(
        actions, ["user_id"], ["ts", "event_id"], _sym(), "ccp"
    ).collect()
    assert {(r["user_id"], r["event_id"]) for r in out} == {(1, 1)}


def test_regex_pattern_with_quantifier(spark, actions):
    out = match_regex_pattern(
        actions, ["user_id"], "ts", _sym(), "c+p", id_col="event_id"
    ).collect()
    got = {(r["user_id"], r["start_id"], r["end_id"]) for r in out}
    # user 1: clicks 1-2 then purchase 3; user 2: 'c-cp' -> match is c(6)p(7)
    assert got == {(1, 1, 3), (2, 6, 7)}


def test_regex_pattern_skips_past_last_row(spark):
    # ccpccp -> two non-overlapping matches
    rows = [(1, i, _ts(i), t) for i, t in enumerate(
        ["click", "click", "purchase", "click", "click", "purchase"], start=1)]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string"
    )
    out = match_regex_pattern(df, ["user_id"], "ts", _sym(), "c+p", id_col="event_id")
    assert out.count() == 2


def test_lookup_join_left_nulls(spark):
    fact = spark.createDataFrame([(1, 10), (2, 99)], "id bigint, k bigint")
    dim = spark.createDataFrame([(10, "a")], "dk bigint, v string")
    out = {r["id"]: r["v"] for r in lookup_join(fact, dim, on=[("k", "dk")]).collect()}
    assert out == {1: "a", 2: None}


def test_multimodal_metadata_deterministic(spark):
    docs = spark.createDataFrame([(1, "hello"), (2, "")], "doc_id bigint, text string")
    media = with_binary_payload(docs, "text", "doc_id")
    rows = {r["media_id"]: r for r in extract_media_metadata(media).collect()}
    assert rows[1]["byte_len"] == 5
    assert rows[1]["content_hash"] == "5d41402abc4b2a76b9719d911017c592"  # md5('hello')
    assert rows[2]["byte_len"] == 0
    assert rows[1]["fake_width"] == 5 % 640 + 16


def test_multimodal_real_decode_is_stubbed(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    media = with_binary_payload(docs, "text", "doc_id")
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        extract_media_metadata(media, real_decode=True).collect()


def test_streaming_over_agg_multibatch(spark, sf_smoke, tmp_path_factory):
    """Running sums must be identical whether the log arrives in one
    batch or four (state carries the offsets)."""
    from flink_release_1_16_0_spark.catalog import load_table
    from flink_release_1_16_0_spark.streaming.core import run_to_table
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_over_rows_unbounded,
    )

    path = str(tmp_path_factory.mktemp("over_chunks"))
    ev = load_table(spark, sf_smoke, "events").filter(F.col("user_id") % 10 == 1)
    sel = ev.select("user_id", "event_id", "ts", "value")
    # chunk by event-id quartile so batches respect time order per user
    m = sel.agg(F.max("event_id")).first()[0]
    sel.withColumn(
        "chunk", F.least(F.floor(F.col("event_id") / ((m + 1) / 4)), F.lit(3)).cast("int")
    ).repartition(1).write.partitionBy("chunk").mode("overwrite").parquet(path)

    stream = (
        spark.readStream.schema(sel.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    out = run_to_table(
        streaming_over_rows_unbounded(
            stream, ["user_id"], ["ts", "event_id"], "value", "event_id"
        ),
        "update",
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = sel.select(
        "user_id",
        "event_id",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("running_n"),
        (F.sum(F.round(F.col("value") * 100).cast("bigint")).over(w) / 100.0).alias(
            "running_sum"
        ),
    )
    got = {(r["user_id"], r["event_id"]): (r["running_n"], r["running_sum"]) for r in out.collect()}
    for r in want.collect():
        assert got[(r["user_id"], r["event_id"])] == (r["running_n"], r["running_sum"]), r


def _seq_df(spark, rows):
    """(ts_offset_min, event_type, value) rows for one key."""
    import datetime as dt

    data = [
        (1, dt.datetime(2024, 1, 1, 10, m, 0), i, et, float(v))
        for i, (m, et, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "k long, ts timestamp, event_id long, event_type string, value double"
    )


def test_nfa_cross_variable_define_backtracks(spark):
    """A+ B with B.value > FIRST(A.value): the greedy A-run must
    backtrack when the purchase fails against the first click, and the
    match restarts leftmost-next."""
    from flink_release_1_16_0_spark.operators.cep import match_nfa

    df = _seq_df(
        spark,
        [(0, "click", 5), (1, "click", 3), (2, "purchase", 4)],
    )
    out = match_nfa(
        df,
        keys=["k"],
        ts_col="ts",
        id_col="event_id",
        steps=[("A", "+"), ("B", "1")],
        defines={
            "A": lambda r, c: r["event_type"] == "click",
            "B": lambda r, c: r["event_type"] == "purchase"
            and r["value"] > c["A"][0]["value"],
        },
        measures={
            "n_clicks": ("A", "count", "event_id", "bigint"),
            "first_click_value": ("A", "first", "value", "double"),
            "purchase_value": ("B", "last", "value", "double"),
        },
        value_cols=["event_type", "value"],
    ).collect()
    # purchase(4) > first click of [5,3]? no; > first click of [3]? yes
    assert [(r["n_clicks"], r["first_click_value"], r["purchase_value"]) for r in out] == [
        (1, 3.0, 4.0)
    ]


def test_nfa_running_self_predicate(spark):
    """A+ where each A row must exceed LAST(A.value): strictly
    ascending runs, matched greedily with skip-past-last-row."""
    from flink_release_1_16_0_spark.operators.cep import match_nfa

    df = _seq_df(
        spark,
        [(0, "e", 1), (1, "e", 3), (2, "e", 2), (3, "e", 5)],
    )

    def ascending(row, ctx):
        prior = ctx["A"]
        return not prior or row["value"] > prior[-1]["value"]

    out = match_nfa(
        df,
        keys=["k"],
        ts_col="ts",
        id_col="event_id",
        steps=[("A", "+")],
        defines={"A": ascending},
        measures={
            "n": ("A", "count", "event_id", "bigint"),
            "lo": ("A", "first", "value", "double"),
            "hi": ("A", "last", "value", "double"),
        },
        value_cols=["value"],
    ).collect()
    got = sorted((r["n"], r["lo"], r["hi"]) for r in out)
    # single-row "matches" are suppressed (span must advance > 1 row?
    # no: [1,3] then [2,5] — two 2-row ascending runs)
    assert got == [(2, 1.0, 3.0), (2, 2.0, 5.0)]


def test_nfa_optional_quantifier(spark):
    """A B? C: the optional middle binds when present, skips when not."""
    from flink_release_1_16_0_spark.operators.cep import match_nfa

    df = _seq_df(
        spark,
        [(0, "a", 1), (1, "b", 2), (2, "c", 3), (3, "a", 4), (4, "c", 5)],
    )
    typ = lambda t: lambda r, c: r["event_type"] == t  # noqa: E731
    out = match_nfa(
        df,
        keys=["k"],
        ts_col="ts",
        id_col="event_id",
        steps=[("A", "1"), ("B", "?"), ("C", "1")],
        defines={"A": typ("a"), "B": typ("b"), "C": typ("c")},
        measures={
            "n_b": ("B", "count", "event_id", "bigint"),
            "c_val": ("C", "last", "value", "double"),
        },
        value_cols=["event_type", "value"],
    ).collect()
    got = sorted((r["n_b"], r["c_val"]) for r in out)
    assert got == [(0, 5.0), (1, 3.0)]  # COUNT of unbound optional is 0


# --------------------------------------------------------------------------
# async lookup join (AsyncWaitOperator.java:91 pattern)
# --------------------------------------------------------------------------


def test_async_lookup_join_ordered_with_nulls(spark):
    from flink_release_1_16_0_spark.operators.async_lookup import async_lookup_join

    df = spark.createDataFrame(
        [(i, f"row{i}") for i in range(50)], "k long, payload string"
    )

    def lookup(key):
        import threading
        import time as _t

        _t.sleep(0.002)  # simulated external latency the pool must hide
        if key % 7 == 0:
            return None  # no match -> NULL padding
        return {"dim_name": f"dim_{key}", "thread": threading.current_thread().name}

    out = async_lookup_join(
        df.repartition(2),
        lookup,
        "k",
        {"dim_name": "string", "thread": "string"},
        capacity=8,
    ).collect()
    assert len(out) == 50
    by_k = {r["k"]: r for r in out}
    assert by_k[7]["dim_name"] is None
    assert by_k[8]["dim_name"] == "dim_8"
    # the pool actually fanned out (multiple lookup threads used)
    threads = {r["thread"] for r in out if r["thread"] is not None}
    assert len(threads) > 1


def test_async_lookup_retries_transient_errors(spark):
    from flink_release_1_16_0_spark.operators.async_lookup import async_lookup_join

    df = spark.createDataFrame([(1,), (2,)], "k long")
    attempts: dict = {}

    def flaky(key):
        n = attempts.setdefault(key, 0)
        attempts[key] = n + 1
        if n == 0:
            raise RuntimeError("transient")
        return {"v": key * 10}

    out = async_lookup_join(df.coalesce(1), flaky, "k", {"v": "long"}, retries=2)
    assert sorted((r["k"], r["v"]) for r in out.collect()) == [(1, 10), (2, 20)]


def test_sample_frames_shapes(spark):
    from flink_release_1_16_0_spark.operators.multimodal import (
        sample_frames,
        with_binary_payload,
    )

    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "xy"), (3, "abcde")], "doc_id long, text string"
    )
    media = with_binary_payload(df, "text", "doc_id")
    rows = sample_frames(media, n_frames=4).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    # len 8 -> step 2 -> 4 frames of 2; len 2 -> step 1 -> 2 frames;
    # len 5 -> step 1 -> 4 frames (tail byte unsampled)
    assert [r["frame_len"] for r in sorted(by_id[1], key=lambda r: r["frame_idx"])] == [2, 2, 2, 2]
    assert len(by_id[2]) == 2
    assert len(by_id[3]) == 4


def test_regex_pattern_within_prunes_stale_starts(spark):
    # WITHIN semantics (Pattern.within / NFA timeout): the greedy match
    # anchored at the stale first click times out, but the later click
    # still starts a shorter match that fits the window.
    rows = [
        (1, 1, _ts(0), "click"),      # stale: 40 min before the purchase
        (1, 2, _ts(35), "click"),     # fresh: 5 min before the purchase
        (1, 3, _ts(40), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string"
    )
    within = 10 * 60 * 1000  # 10 minutes
    out = match_regex_pattern(
        df, ["user_id"], "ts", _sym(), "c+p", id_col="event_id", within_ms=within
    ).collect()
    assert {(r["start_id"], r["end_id"], r["n_rows"]) for r in out} == {(2, 3, 2)}
    # without WITHIN the greedy match consumes both clicks
    out2 = match_regex_pattern(
        df, ["user_id"], "ts", _sym(), "c+p", id_col="event_id"
    ).collect()
    assert {(r["start_id"], r["end_id"]) for r in out2} == {(1, 3)}


def test_regex_pattern_within_no_fit_no_match(spark):
    rows = [
        (1, 1, _ts(0), "click"),
        (1, 2, _ts(59), "purchase"),  # 59 min later, window is 10 min
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string"
    )
    out = match_regex_pattern(
        df, ["user_id"], "ts", _sym(), "c+p", id_col="event_id",
        within_ms=10 * 60 * 1000,
    )
    assert out.count() == 0


def test_regex_pattern_skip_to_last_variable(spark):
    # AFTER MATCH SKIP TO LAST B: resume the scan at the last B row of
    # the match (AfterMatchSkipStrategy.skipToLast). Pattern A B+ C over
    # click view+ purchase; the skip target is a middle variable so the
    # scan provably advances and terminates.
    seq = ["click", "view", "view", "purchase", "click", "view", "purchase"]
    rows = [(1, i, _ts(i), t) for i, t in enumerate(seq, start=1)]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string"
    )
    sym = classify(
        {
            "a": F.col("event_type") == "click",
            "b": F.col("event_type") == "view",
            "c": F.col("event_type") == "purchase",
        }
    )
    out = match_regex_pattern(
        df, ["user_id"], "ts", sym, "(?P<A>a)(?P<B>b+)(?P<C>c)",
        id_col="event_id", skip=("to_last", "B"),
    ).collect()
    got = {(r["start_id"], r["end_id"]) for r in out}
    # match 1 = rows 1-4; scan resumes at row 3 (last view), finds the
    # second full match at rows 5-7
    assert got == {(1, 4), (5, 7)}


def test_regex_pattern_skip_to_first_raises_on_no_progress(spark):
    import pytest as _pytest

    rows = [(1, 1, _ts(1), "click"), (1, 2, _ts(2), "purchase")]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string"
    )
    with _pytest.raises(Exception, match="advance past the match start"):
        match_regex_pattern(
            df, ["user_id"], "ts", _sym(), "(?P<C>c+)(?P<P>p)",
            id_col="event_id", skip=("to_first", "C"),
        ).collect()


def test_nfa_within_prunes_stale_starts(spark):
    # WITHIN on the NFA tier: the greedy run anchored at the stale
    # click times out; the fresh click still matches.
    from flink_release_1_16_0_spark.operators.cep import match_nfa

    df = _seq_df(
        spark,
        [(0, "click", 1), (35, "click", 2), (40, "purchase", 9)],
    )
    out = match_nfa(
        df,
        keys=["k"],
        ts_col="ts",
        id_col="event_id",
        steps=[("A", "+"), ("B", "1")],
        defines={
            "A": lambda r, c: r["event_type"] == "click",
            "B": lambda r, c: r["event_type"] == "purchase",
        },
        measures={"n_clicks": ("A", "count", "event_id", "bigint")},
        value_cols=["event_type", "value"],
        within_ms=10 * 60 * 1000,
    ).collect()
    assert [r["n_clicks"] for r in out] == [1]  # only the fresh click


def test_regex_reluctant_vs_greedy_quantifier(spark):
    """v.*?p (reluctant) stops at the FIRST purchase, yielding two
    matches on v - p - v - p; greedy v.*p swallows both purchases into
    one match (Flink's greedy/reluctant quantifier distinction)."""
    from flink_release_1_16_0_spark.operators.cep import classify, match_regex_pattern

    df = _seq_df(
        spark,
        [(0, "view", 1), (1, "click", 1), (2, "purchase", 1),
         (3, "view", 1), (4, "purchase", 1)],
    )
    sym = classify(
        {"v": F.col("event_type") == "view", "p": F.col("event_type") == "purchase"}
    )

    def spans(pattern):
        out = match_regex_pattern(
            df, keys=["k"], ts_col="ts", symbol=sym, pattern=pattern,
            id_col="event_id",
        ).collect()
        return sorted((r["start_id"], r["end_id"]) for r in out)

    assert spans("v.*?p") == [(0, 2), (3, 4)]
    assert spans("v.*p") == [(0, 4)]


def test_nfa_skip_to_last_chains_matches(spark):
    """S C+ E with cross-variable E (E.value > LAST(C.value)) and
    AFTER MATCH SKIP TO LAST E: the closing row re-anchors the next
    match, chaining p c p c p into two matches; PAST LAST ROW yields
    one. (SkipToLastStrategy.java semantics on the NFA tier.)"""
    from flink_release_1_16_0_spark.operators.cep import match_nfa

    df = _seq_df(
        spark,
        [(0, "p", 1), (1, "c", 0), (2, "p", 2), (3, "c", 1), (4, "p", 3)],
    )
    common = dict(
        keys=["k"],
        ts_col="ts",
        id_col="event_id",
        steps=[("S", "1"), ("C", "+"), ("E", "1")],
        defines={
            "S": lambda r, c: r["event_type"] == "p",
            "C": lambda r, c: r["event_type"] == "c",
            "E": lambda r, c: r["event_type"] == "p"
            and r["value"] > c["C"][-1]["value"],
        },
        measures={
            "s_val": ("S", "first", "value", "double"),
            "e_val": ("E", "last", "value", "double"),
        },
        value_cols=["event_type", "value"],
    )
    chained = match_nfa(df, skip=("to_last", "E"), **common).collect()
    assert sorted((r["s_val"], r["e_val"]) for r in chained) == [
        (1.0, 2.0),
        (2.0, 3.0),
    ]
    default = match_nfa(df, **common).collect()
    assert sorted((r["s_val"], r["e_val"]) for r in default) == [(1.0, 2.0)]
    nxt = match_nfa(df, skip="to_next_row", **common).collect()
    assert sorted((r["s_val"], r["e_val"]) for r in nxt) == [
        (1.0, 2.0),
        (2.0, 3.0),
    ]


def test_nfa_skip_no_progress_raises(spark):
    """SKIP TO FIRST <first variable> cannot advance past the match
    start — the reference throws; so do we."""
    import pytest as _pytest

    from flink_release_1_16_0_spark.operators.cep import match_nfa

    df = _seq_df(spark, [(0, "c", 1), (1, "p", 2)])
    with _pytest.raises(Exception, match="advance past the match start"):
        match_nfa(
            df,
            keys=["k"],
            ts_col="ts",
            id_col="event_id",
            steps=[("A", "1"), ("B", "1")],
            defines={
                "A": lambda r, c: r["event_type"] == "c",
                "B": lambda r, c: r["event_type"] == "p"
                and r["value"] > c["A"][0]["value"],
            },
            measures={"v": ("B", "last", "value", "double")},
            value_cols=["event_type", "value"],
            skip=("to_first", "A"),
        ).collect()


def test_nfa_all_rows_per_match(spark):
    """ALL ROWS PER MATCH on the NFA tier: one row per bound event,
    classifier + RUNNING measures, consistent with the one-row tier's
    final values."""
    from flink_release_1_16_0_spark.operators.cep import match_nfa

    df = _seq_df(
        spark,
        [(0, "c", 2), (1, "c", 3), (2, "p", 4), (3, "c", 9), (4, "p", 5)],
    )
    common = dict(
        keys=["k"],
        ts_col="ts",
        id_col="event_id",
        steps=[("A", "+"), ("B", "1")],
        defines={
            "A": lambda r, c: r["event_type"] == "c",
            "B": lambda r, c: r["event_type"] == "p"
            and r["value"] > c["A"][0]["value"],
        },
        measures={
            "n": ("A", "count", "event_id", "bigint"),
            "s": ("A", "sum", "value", "double"),
            "pv": ("B", "last", "value", "double"),
        },
        value_cols=["event_type", "value"],
    )
    rows = match_nfa(df, all_rows=True, **common).collect()
    got = [
        (r["event_id"], r["match_no"], r["classifier"], r["n"], r["s"], r["pv"])
        for r in sorted(rows, key=lambda r: r["event_id"])
    ]
    # match 0 binds rows 0,1,2 (purchase 4 > first click 2); row 3's
    # click run (value 9) never gets a qualifying purchase (5 < 9... no:
    # 5 > 9 false) -> only one match
    assert got == [
        (0, 0, "A", 1, 2.0, None),
        (1, 0, "A", 2, 5.0, None),
        (2, 0, "B", 2, 5.0, 4.0),
    ]
    final = match_nfa(df, **common).collect()
    assert [(r["n"], r["s"], r["pv"]) for r in final] == [(2, 5.0, 4.0)]


def test_match_recognize_sql_nfa_all_rows_and_range_quantifier(spark):
    """SQL surface: cross-variable DEFINE + ALL ROWS PER MATCH + a
    {n,m} range quantifier all lower to the NFA tier."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, i), i, t, float(v))
        for i, (t, v) in enumerate(
            [("c", 2), ("c", 3), ("c", 4), ("p", 5), ("c", 9), ("p", 1)]
        )
    ]
    spark.createDataFrame(
        rows, "k bigint, ts timestamp, event_id bigint, sym string, value double"
    ).createOrReplaceTempView("nfa_all_rows_src")
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    tenv = TableEnvironment.create(spark)
    got = tenv.sql_query(
        """
        SELECT k, event_id, classifier, n, pv
        FROM nfa_all_rows_src MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY ts, event_id
          MEASURES COUNT(A.event_id) AS n, LAST(B.value) AS pv
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A{2,3} B)
          DEFINE A AS A.sym = 'c',
                 B AS B.sym = 'p' AND B.value > FIRST(A.value)
        ) AS m
        """
    ).to_data_frame()
    rows_out = sorted(
        (r["event_id"], r["classifier"], r["n"], r["pv"]) for r in got.collect()
    )
    # greedy {2,3} takes clicks 0,1,2 then purchase 3 (5 > 2); the
    # trailing c,p never matches (1 > 9 false)
    assert rows_out == [
        (0, "A", 1, None),
        (1, "A", 2, None),
        (2, "A", 3, None),
        (3, "B", 3, 5.0),
    ]


def test_nfa_skip_to_first_unbound_raises_value_error(spark):
    """AFTER MATCH SKIP TO FIRST <var> with <var> unbound in the match
    must raise the intended ValueError ('would not advance'), not an
    IndexError from indexing the empty bound list (regression: ternary
    precedence evaluated idxs[0] before the emptiness guard)."""
    import pytest

    from flink_release_1_16_0_spark.operators.cep import match_nfa

    df = _seq_df(spark, [(0, "click", 1), (1, "click", 2)])
    out = match_nfa(
        df,
        keys=["k"],
        ts_col="ts",
        id_col="event_id",
        steps=[("A", "1"), ("B", "?")],
        defines={
            "A": lambda r, c: r["event_type"] == "click",
            "B": lambda r, c: r["event_type"] == "purchase",
        },
        measures={"n": ("A", "count", "event_id", "bigint")},
        value_cols=["event_type", "value"],
        skip=("to_first", "B"),
    )
    with pytest.raises(Exception, match="would not advance"):
        out.collect()


def test_nfa_reluctant_plus_takes_minimal_run(spark):
    """A+? prefers the shortest run (the reference's non-GREEDY
    Quantifier; CommonExecMatch.java:137 requires patterns to END in a
    simple variable or reluctant quantifier, so this is the
    reference-legal trailing form): three matchable rows yield three
    1-row matches instead of one greedy 3-row match."""
    from flink_release_1_16_0_spark.operators.cep import match_nfa

    df = _seq_df(spark, [(0, "e", 1), (1, "e", 2), (2, "e", 3)])
    common = dict(
        keys=["k"],
        ts_col="ts",
        id_col="event_id",
        defines={"A": lambda r, c: r["event_type"] == "e"},
        measures={"n": ("A", "count", "event_id", "bigint")},
        value_cols=["event_type", "value"],
    )
    greedy = match_nfa(df, steps=[("A", "+")], **common).collect()
    assert [r["n"] for r in greedy] == [3]
    reluctant = match_nfa(df, steps=[("A", "+?")], **common).collect()
    assert [r["n"] for r in reluctant] == [1, 1, 1]


def test_nfa_reluctant_optional_prefers_skip(spark):
    """B?? skips when the continuation also matches; B? consumes."""
    from flink_release_1_16_0_spark.operators.cep import match_nfa

    df = _seq_df(spark, [(0, "a", 1), (1, "x", 2), (2, "x", 3)])
    common = dict(
        keys=["k"],
        ts_col="ts",
        id_col="event_id",
        defines={
            "A": lambda r, c: r["event_type"] == "a",
            "B": lambda r, c: r["event_type"] == "x",
            "C": lambda r, c: r["event_type"] == "x",
        },
        measures={
            "n_b": ("B", "count", "event_id", "bigint"),
            "c_val": ("C", "last", "value", "double"),
        },
        value_cols=["event_type", "value"],
    )
    greedy = match_nfa(
        df, steps=[("A", "1"), ("B", "?"), ("C", "1")], **common
    ).collect()
    assert [(r["n_b"], r["c_val"]) for r in greedy] == [(1, 3.0)]
    reluctant = match_nfa(
        df, steps=[("A", "1"), ("B", "??"), ("C", "1")], **common
    ).collect()
    assert [(r["n_b"], r["c_val"]) for r in reluctant] == [(0, 2.0)]
