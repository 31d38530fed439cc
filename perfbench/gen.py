"""Seeded input generator for the benchmark.

Every table is drawn from ``numpy.random.default_rng(seed)`` with the
schemas and value grids of the engine's star-schema fixtures
(FIXTURES.md section A), so the registry queries and their DuckDB
oracles run on it unchanged. The same seed gives byte-identical inputs;
a different seed relabels every key with a fresh permutation and
redraws every value.

Streams are written as several parquet files in arrival order, one per
micro-batch trigger. Arrival order is event-time order with bounded
jitter, and :func:`check_tables` refuses any split in which a row would
arrive behind the 10-minute watermark of the files before it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WATERMARK_DELAY_US = 10 * 60 * 1_000_000
MAX_JITTER_US = 4 * 60 * 1_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "green", "small", "red", "dark", "shiny"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join index shard plan cache page node tree state time event log"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

DAY_US = 86_400_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n, endpoint=True) / 100.0


def _relabel(rng: np.random.Generator, n: int) -> np.ndarray:
    """Seeded key permutation: row i gets key perm[i] (keys stay 0..n-1)."""
    return rng.permutation(n).astype(np.int64)


def _ts(us: np.ndarray, epoch: np.datetime64) -> pa.Array:
    return pa.array(epoch + us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def star_schema(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables at ``sf`` (1.0 = 150k customers, 1.5M orders)."""
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 50)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    ck = _relabel(rng, n_cust)
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = _relabel(rng, n_supp)
    tables["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    tables["part"] = pa.table({
        "p_partkey": _relabel(rng, n_part),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": rng.integers(9000, 9999, n_part, endpoint=True) / 10.0,
    })
    okey = _relabel(rng, n_ord)
    odays = rng.integers(0, ORDER_DAYS, n_ord, endpoint=True)
    tables["orders"] = pa.table({
        "o_orderkey": okey,
        "o_custkey": ck[rng.integers(0, n_cust, n_ord)],
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odays * DAY_US, ORDER_EPOCH),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    owner = np.repeat(np.arange(n_ord), lines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    tables["lineitem"] = pa.table({
        "l_orderkey": okey[owner],
        "l_partkey": tables["part"]["p_partkey"].to_numpy()[rng.integers(0, n_part, n_li)],
        "l_suppkey": sk[rng.integers(0, n_supp, n_li)],
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts((odays[owner] + rng.integers(1, 122, n_li)) * DAY_US, ORDER_EPOCH),
    })
    return tables


def zipf_users(rng: np.random.Generator, n: int, n_users: int, a: float = 0.8) -> np.ndarray:
    """``n`` user ids drawn with Zipf skew over ``n_users`` seeded labels."""
    ranks = np.arange(1, n_users + 1, dtype=np.float64)
    p = ranks ** -a
    labels = _relabel(rng, n_users)
    return labels[rng.choice(n_users, size=n, p=p / p.sum())]


def events(rng: np.random.Generator, n: int, n_users: int, days: int) -> pa.Table:
    """Event log in ARRIVAL order: event time = arrival time minus a
    jitter below :data:`MAX_JITTER_US`, so rows arrive out of order but
    never behind the watermark delay."""
    arrival = np.sort(rng.integers(0, days * DAY_US, n))
    ts = arrival - rng.integers(0, MAX_JITTER_US, n)
    ts = np.maximum(ts, 0)
    return pa.table({
        "event_id": _relabel(rng, n),
        "ts": _ts(ts, EVENT_EPOCH),
        "user_id": zipf_users(rng, n, n_users),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _cents(rng, 0.0, 560.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents."""
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))])
             for _ in range(n)]
    return pa.table({
        "doc_id": _relabel(rng, n),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Clustered unit-scale vectors: ``k`` centres plus noise, label = centre."""
    centres = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n)
    vecs = (centres[label] + 0.6 * rng.normal(size=(n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": _relabel(rng, n),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def split_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Write ``table`` (already in arrival order) as ``n_files`` parquet
    files whose modification times follow that order, so a file stream
    with maxFilesPerTrigger=1 reads exactly one file per micro-batch."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))


class InputCheckError(ValueError):
    """A generated table breaks a property the oracles rely on."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise InputCheckError(what)


def check_tables(tables: dict[str, pa.Table], streams: dict[str, int]) -> None:
    """Fail loudly when a property the oracles rely on does not hold:
    non-null keys, values on their decimal grid, and (for every stream
    split into ``streams[name]`` files) no row behind the watermark."""
    for name, t in tables.items():
        for col in t.column_names:
            if col.endswith("key") or col.endswith("_id") or col == "ts":
                _require(t[col].null_count == 0, f"{name}.{col} has NULL keys")
        for col in ("l_quantity", "l_extendedprice", "l_discount", "l_tax", "o_totalprice",
                    "c_acctbal", "s_acctbal", "value"):
            if col in t.column_names:
                v = t[col].to_numpy() * 100
                _require(bool(np.all(np.abs(v - np.round(v)) < 1e-6)),
                         f"{name}.{col} is off the cent grid")
    for name, n_files in streams.items():
        ts = tables[name]["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        bounds = np.linspace(0, len(ts), n_files + 1).astype(int)
        _require(n_files >= 2 and all(bounds[1:] > bounds[:-1]),
                 f"{name}: needs at least two non-empty files")
        for i in range(1, n_files):
            wm = ts[: bounds[i]].max() - WATERMARK_DELAY_US
            _require(ts[bounds[i]: bounds[i + 1]].min() > wm,
                     f"{name} file {i} holds rows behind the watermark")


SPLIT_ROWS = 50_000  # tables above this are written as SPLIT_FILES files
SPLIT_FILES = 4


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table as ``<name>.parquet``: one file, or for a large
    table a directory of SPLIT_FILES files, so that Spark scans it with
    several tasks as it would a real table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if t.num_rows <= SPLIT_ROWS:
            pq.write_table(t, path)
            continue
        os.makedirs(path)
        bounds = np.linspace(0, t.num_rows, SPLIT_FILES + 1).astype(int)
        for i in range(SPLIT_FILES):
            pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(path, f"part-{i}.parquet"))


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
