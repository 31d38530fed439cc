"""Ratchet on the per-key ``applyInPandasWithState`` call sites.

Keyed state goes through ``streaming/key_groups.py``: one call per key
group, not per key. Each file below may make at most its listed number
of ``applyInPandasWithState(`` calls, and any other file none, so a new
per-key site fails here. Lower a count when a site moves onto the key
groups."""

from __future__ import annotations

from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "flink_release_1_16_0_spark"

ALLOWED = {
    "streaming/key_groups.py": 1,  # the one key-grouped call
    "streaming/stateful.py": 5,
    "streaming/cep_stream.py": 2,
    "streaming/retract_agg.py": 1,
    "streaming/window_tvf.py": 1,
    "datastream/stream.py": 2,
    "datastream/cep.py": 1,
}


def test_apply_in_pandas_with_state_sites_do_not_grow():
    found = {
        str(p.relative_to(PACKAGE)): p.read_text().count("applyInPandasWithState(")
        for p in PACKAGE.rglob("*.py")
    }
    over = {
        f: (n, ALLOWED.get(f, 0)) for f, n in found.items() if n > ALLOWED.get(f, 0)
    }
    assert not over, f"applyInPandasWithState( sites (found, allowed): {over}"
