"""CI wrapper for tools/fuzz_changelog.py: a reduced seed sweep of every
arm (the 1000-seed runs are the tool's offline gate, recorded in
SCALING.md/COVERAGE.md), plus a mutation check proving the fuzzer can
actually detect a broken operator — it must flag a retracting agg
that ignores row kinds (every row accumulated +1)."""

from __future__ import annotations

import random

import pytest

from tools.fuzz_changelog import ARMS


@pytest.mark.parametrize("arm", sorted(ARMS))
def test_fuzz_arm_green(spark, arm):
    check = ARMS[arm]
    for seed in range(50):
        rng = random.Random(f"{arm}-{seed}")
        err = check(rng)
        assert err is None, f"{arm} seed={seed}: {err}"


def test_fuzzer_catches_planted_bug(spark, monkeypatch):
    """Mutation test: run the retracting agg with its row kinds ignored,
    so every row accumulates +1 (no retract branch). The agg arm must
    report a divergence within a handful of seeds — if it stays green
    against a broken operator, the fuzzer is vacuous."""
    from flink_release_1_16_0_spark.streaming import retract_agg as RA
    from tools.fuzz_changelog import check_agg

    real = RA.streaming_retracting_multi_agg

    def broken(stream, keys, aggs, *, rowkind_col=None, seq_col=None):
        return real(stream, keys, aggs, seq_col=seq_col)  # the planted bug

    monkeypatch.setattr(RA, "streaming_retracting_multi_agg", broken)
    caught = sum(
        1
        for seed in range(20)
        if check_agg(random.Random(f"agg-{seed}")) is not None
    )
    assert caught >= 10, f"planted bug caught in only {caught}/20 seeds"


def test_wtvf_fuzzer_catches_planted_bug(spark, monkeypatch):
    """Mutation test for the wtvf differential arm: clip the slicing
    assigner's LAST hop candidate window — the TVF path then never
    fires each slice's final window while the legacy per-window path
    does. The arm must flag the divergence within a handful of seeds."""
    import random

    from flink_release_1_16_0_spark.streaming import window_tvf as WT
    from tools.fuzz_changelog import check_wtvf

    orig = WT._Assigner.candidate_ends

    def clipped(self, slice_end):
        ends = orig(self, slice_end)
        if self.kind == "hop" and len(ends) > 1:
            return ends[:-1]  # planted bug: last window dropped
        return ends

    monkeypatch.setattr(WT._Assigner, "candidate_ends", clipped)
    caught = sum(
        1
        for seed in range(20)
        if check_wtvf(random.Random(f"wtvf-mut-{seed}")) is not None
    )
    assert caught >= 8, f"planted bug caught in only {caught}/20 seeds"


def test_topn_retracts_a_row_holding_a_null_double(spark):
    """A -D of a row whose DOUBLE is NULL retracts its +I: the top-N's
    live multiset holds plain values with NULL as None (pandas hands
    the NULL over as NaN, which never equals itself)."""
    from flink_release_1_16_0_spark.streaming.changelog import DELETE, INSERT, ROWKIND
    from flink_release_1_16_0_spark.streaming.stateful import streaming_retractable_topn
    from tools.fuzz_changelog import _Cap, _schema, one_group, replay

    cap = _Cap(_schema(f"{ROWKIND} STRING, k BIGINT, s STRING, v DOUBLE"))
    streaming_retractable_topn(cap, keys=["k"], order_cols=["s"], n=2)
    batches = [
        [(INSERT, 1, "b", 2.0), (INSERT, 1, "a", None)],
        [(DELETE, 1, "a", None)],
    ]
    out = replay(cap.fn, batches, ["k"], [ROWKIND, "k", "s", "v"], groups=one_group)
    last = max(r["__epoch"] for r in out)
    assert [(r["s"], r["rn"]) for r in out if r["__epoch"] == last] == [("b", 1)]
