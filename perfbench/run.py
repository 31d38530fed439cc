"""Seeded benchmark of the engine, one workload per invocation.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. One run:

1. generates the workload's inputs from ``--seed`` and computes the
   DuckDB oracle results in a child process (both cached per seed under
   ``perfbench/.cache``), so neither shows in the engine's memory;
2. starts Spark through ``session.get_spark``, loads the query
   registry and runs a first trivial action (``setup_s``);
3. runs the workload's warm-up passes, then timed passes until
   ``--seconds`` have gone by (at least ``MIN_PASSES``); every output is
   compared with its oracle outside the timed region, and every error or
   mismatch counts as failed;
4. with ``--trace 1``, runs one more pass that records spans per layer
   and writes them to ``perfbench/.out``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics, or the
per-layer metrics with ``--trace 1``). METRICS.md lists what each
metric is and which layer should move it.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
ENGINE = "flink_release_1_16_0_spark"
DEADLINE_S = 150.0  # cancel Spark jobs past this; the contract allows 180 s
STREAM_TIMEOUT_S = 60
# Streams warm up on this many leading rows: per-batch cost barely
# depends on batch size, and a full cold replay would double the run.
WARMUP_STREAM_ROWS = 400
MIN_PASSES = 2
LAYER_SHARE_MIN = 0.9


def host() -> dict:
    """CPU and memory of this host, and the resource sizes derived from it."""
    cpus = len(os.sched_getaffinity(0))
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            mem[key] = int(val.split()[0]) * 1024
    total = mem["MemTotal"]
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    mb = 1024 * 1024
    return {
        "cpus": cpus,
        "mem_total_mb": total // mb,
        "jvm_mem_mb": max(1024, min(4096, total // 8 // mb)),
        "duckdb_mem_mb": max(256, min(2048, total // 16 // mb)),
    }


def load_compare():
    """``tools/check_oracle.compare``: the exact order-insensitive compare."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def _source_digest() -> str:
    h = hashlib.sha1()
    for name in ("gen.py", "workloads.py"):
        with open(os.path.join(BENCH, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _cache_dir(wl, seed: int, cache_root: str) -> str:
    return os.path.join(cache_root, f"{wl.name}-s{seed}-{_source_digest()}")


def is_prepared(wl, seed: int, cache_root: str) -> bool:
    return os.path.exists(os.path.join(_cache_dir(wl, seed, cache_root), "meta.pkl"))


def prepare_inputs(wl, seed: int, cache_root: str, duckdb_mem_mb: int, tmp: str):
    """Generate, self-check and write the inputs, and compute the oracle
    results; reuse both when this seed was prepared before."""
    import duckdb
    import numpy as np

    from perfbench import gen

    cache = _cache_dir(wl, seed, cache_root)
    meta_path = os.path.join(cache, "meta.pkl")
    if os.path.exists(meta_path):
        with open(meta_path, "rb") as f:
            meta = pickle.load(f)
        return os.path.join(cache, "data"), meta
    if os.path.isdir(cache_root):  # keep one prepared seed per workload
        for old in os.listdir(cache_root):
            if old.startswith(f"{wl.name}-s"):
                shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    data = os.path.join(cache, "data")
    gen.reset_dir(data)
    tables, streams = wl.make(np.random.default_rng(seed))
    gen.check_tables(tables, streams)
    gen.write_tables({n: t for n, t in tables.items() if n not in streams}, data)
    for name, n_files in streams.items():
        gen.split_files(tables[name], os.path.join(data, name), n_files)
        warm = tables[name].slice(0, WARMUP_STREAM_ROWS)
        gen.split_files(warm, os.path.join(data, "warmup", name), 1)
    con = duckdb.connect()
    try:
        con.execute(f"SET memory_limit='{duckdb_mem_mb}MB'")
        con.execute(f"SET temp_directory='{tmp}'")
        for name in tables:
            src = f"{data}/{name}/*.parquet" if name in streams else f"{data}/{name}.parquet"
            if os.path.isdir(src):
                src += "/*.parquet"
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
        from flink_release_1_16_0_spark.queries import load_registry

        registry = load_registry()
        expected = {
            q.name: con.execute(q.oracle or registry[q.name].oracle).fetchdf()
            for q in wl.queries
        }
    finally:
        con.close()
    meta = {"rows": {n: t.num_rows for n, t in tables.items()}, "expected": expected}
    with open(meta_path + ".tmp", "wb") as f:
        pickle.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return data, meta


class Runner:
    """Runs passes over one workload's queries and tallies outcomes."""

    def __init__(self, spark, wl, data_dir, meta, compare, listener):
        self.spark, self.wl, self.data_dir, self.meta = spark, wl, data_dir, meta
        self.compare, self.listener = compare, listener
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.checked: set[str] = set()

    def rows_per_pass(self) -> int:
        return sum(self.meta["rows"][t] for q in self.wl.queries for t in q.tables)

    def run_pass(self, spans=None, warmup: bool = False) -> dict:
        """One pass over the queries. ``wall`` sums the timed regions
        (build, action or drain, sink readback); ``loop`` is the whole
        pass minus the oracle compares. A warm-up pass replays streams
        over their short warm-up split and leaves their output unchecked."""
        from flink_release_1_16_0_spark.queries import load_registry

        registry = load_registry()
        self._spans = spans
        wall, steps, checking, per_query = 0.0, {}, 0.0, {}
        t_pass = time.perf_counter()
        pass_span = self._open("pass", "pass")
        for q in self.wl.queries:
            self.spark.catalog.clearCache()
            self.attempted += 1
            qspan = self._open(q.name, "query")
            try:
                if q.stream:
                    took, prog, pdf = self._stream(q, warmup)
                    if warmup:
                        pdf = None
                    steps[q.name] = [p.durationMs.get("triggerExecution", 0) / 1000.0 for p in prog]
                else:
                    took, pdf = self._batch(q, registry, collect=q.name not in self.checked)
                    steps[q.name] = [took[-1]]
                wall += sum(took)
                per_query[q.name] = sum(took)
                ok = True
                if pdf is not None:
                    t_check = time.perf_counter()
                    status, detail = self.compare(pdf, self.meta["expected"][q.name])
                    checking += time.perf_counter() - t_check
                    self.checked.add(q.name)
                    ok = status == "OK"
                    if not ok:
                        self.failures.append(f"{q.name}: {status} {detail}"[:300])
            except Exception as e:  # noqa: BLE001 - one failed query must not end the run
                ok = False
                self.failures.append(f"{q.name}: {type(e).__name__}: {str(e)[:200]}")
                traceback.print_exc(file=sys.stderr)
            self._close(qspan)
            self.failed += not ok
        self._close(pass_span)
        loop = time.perf_counter() - t_pass - checking
        return {"wall": wall, "loop": loop, "steps": steps, "queries": per_query}

    def _open(self, name: str, layer: str):
        return self._spans.open(name, layer) if self._spans else None

    def _close(self, sid) -> None:
        if self._spans:
            self._spans.close(sid)

    def _batch(self, q, registry, collect: bool):
        """Build and run a registry query. The first execution in a run
        collects the result for the oracle compare instead of writing to
        the noop sink; it is a warm-up pass, never a timed one."""
        s = self._open("build", "plan")
        t0 = time.perf_counter()
        df = registry[q.name].fn(self.spark, self.data_dir)
        build = time.perf_counter() - t0
        self._close(s)
        s = self._open("action", "exec")
        t0 = time.perf_counter()
        pdf = None
        if collect:
            pdf = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
        action = time.perf_counter() - t0
        self._close(s)
        return (build, action), pdf

    def _stream(self, q, warmup: bool):
        from flink_release_1_16_0_spark.streaming.core import run_to_table

        mark = self.listener.mark()
        s = self._open("build", "plan")
        t0 = time.perf_counter()
        sdf = q.build(self.spark, os.path.join(self.data_dir, "warmup") if warmup else self.data_dir)
        build = time.perf_counter() - t0
        self._close(s)
        drain = self._open("drain", "streaming")
        t0 = time.perf_counter()
        res = run_to_table(sdf, q.mode, timeout_sec=STREAM_TIMEOUT_S)
        drained = time.perf_counter() - t0
        prog = self.listener.since(mark)  # the stream's last progress events
        self._close(drain)
        s = self._open("sink", "streaming")
        t0 = time.perf_counter()
        pdf = (q.finish(res) if q.finish else res).toPandas()
        sink = time.perf_counter() - t0
        self._close(s)
        if self._spans:
            for p in prog:
                start = _epoch(p.timestamp)
                self._spans.add(f"batch {p.batchId}", "microbatch", start,
                                start + p.durationMs.get("triggerExecution", 0) / 1000.0,
                                drain, **_progress_counts(p))
        return (build, drained, sink), prog, pdf


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _progress_counts(p) -> dict:
    ops = p.stateOperators or []
    d = p.durationMs
    return {
        "input_rows": p.numInputRows,
        "state_update_ms": sum(o.allUpdatesTimeMs for o in ops),
        "state_commit_ms": sum(o.commitTimeMs for o in ops),
        "state_removal_ms": sum(o.allRemovalsTimeMs for o in ops),
        "state_rows": sum(o.numRowsTotal for o in ops),
        "state_bytes": sum(o.memoryUsedBytes for o in ops),
        "add_batch_ms": d.get("addBatch", 0),
        "planning_ms": d.get("queryPlanning", 0),
    }


def layer_metrics(spans, traced: dict, loop_s: float, setup: dict, cpus: int,
                  peak_rss: int) -> dict:
    """Per-layer metrics of the traced pass, read from its spans."""
    rows = spans.spans
    by_layer: dict[str, float] = {}
    for s in rows:
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + s["end"] - s["start"]
    plan = [s for s in rows if s["layer"] == "plan"]
    work = [s for s in rows if s["layer"] in ("exec", "streaming")]
    named = [s for s in rows if s["layer"] in ("plan", "exec", "streaming")]
    sums = lambda spans_, k: sum(s["counts"].get(k, 0) for s in spans_)  # noqa: E731
    batches = [s for s in rows if s["layer"] == "microbatch"]
    action_s = by_layer.get("exec", 0.0) + by_layer.get("streaming", 0.0)
    task_s = sums(work, "task_s")
    m = {
        "session.start_s": (setup["start_s"], "s"),
        "session.registry_s": (setup["registry_s"], "s"),
        "session.first_action_s": (setup["first_action_s"], "s"),
        "session.peak_rss_mb": (peak_rss / 2**20, "MB"),
        "plan.build_s": (by_layer.get("plan", 0.0), "s"),
        "plan.sql_executions": (sums(plan, "sql_executions"), "count"),
        "plan.jobs": (sums(plan, "jobs"), "count"),
        "exec.action_s": (action_s, "s"),
        "exec.tasks": (sums(work, "tasks"), "count"),
        "exec.task_s": (task_s, "s"),
        "exec.gc_s": (sums(work, "gc_s"), "s"),
        "exec.shuffle_read_bytes": (sums(work, "shuffle_read_bytes"), "B"),
        "exec.shuffle_write_bytes": (sums(work, "shuffle_write_bytes"), "B"),
        "exec.spill_bytes": (sums(work, "spill_bytes"), "B"),
        "exec.core_busy_ratio": (task_s / (action_s * cpus) if action_s else 0.0, "ratio"),
        "operators.python_rows": (sums(named, "python_rows"), "count"),
        "operators.python_bytes_in": (sums(named, "python_bytes_in"), "B"),
        "operators.python_bytes_out": (sums(named, "python_bytes_out"), "B"),
        "operators.python_s": (sums(named, "python_s"), "s"),
        "streaming.batches": (len(batches), "count"),
        "streaming.empty_batches": (sum(1 for b in batches if b["counts"]["input_rows"] == 0), "count"),
        "streaming.input_rows": (sums(batches, "input_rows"), "count"),
        "streaming.state_update_ms": (sums(batches, "state_update_ms"), "ms"),
        "streaming.state_commit_ms": (sums(batches, "state_commit_ms"), "ms"),
        "streaming.state_removal_ms": (sums(batches, "state_removal_ms"), "ms"),
        "streaming.state_rows": (_last_per_parent(batches, "state_rows"), "count"),
        "streaming.state_bytes": (_last_per_parent(batches, "state_bytes"), "B"),
        "streaming.add_batch_ms": (sums(batches, "add_batch_ms"), "ms"),
        "streaming.planning_ms": (sums(batches, "planning_ms"), "ms"),
        "streaming.sink_s": (sum(s["end"] - s["start"] for s in rows if s["name"] == "sink"), "s"),
        "trace.layer_share": ((by_layer.get("plan", 0.0) + action_s) / traced["loop"], "ratio"),
        "trace.overhead_s": (traced["loop"] - loop_s, "s"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def _last_per_parent(batches: list, key: str) -> float:
    last: dict = {}
    for b in batches:
        last[b["parent"]] = b["counts"][key]
    return float(sum(last.values()))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the child process of one run that prepares its inputs
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def start_session(work: str) -> tuple:
    """``get_spark`` + ``load_registry`` + a first trivial action, each
    timed; returns the session and the three times."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    t0 = time.perf_counter()
    from flink_release_1_16_0_spark import get_spark

    spark = get_spark("perfbench", {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.ui.showConsoleProgress": "false",
    })
    t1 = time.perf_counter()
    from flink_release_1_16_0_spark.queries import load_registry

    load_registry()
    t2 = time.perf_counter()
    spark.range(1).collect()
    t3 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "registry_s": t2 - t1, "first_action_s": t3 - t2}


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def prepare_in_child(args) -> None:
    """Prepare the inputs in a child process, so that generation and the
    DuckDB oracles leave nothing behind in this one."""
    subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                    "--seed", str(args.seed), "--seconds", "0", "--prepare"],
                   check=True, timeout=DEADLINE_S / 2)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_oracle.py")
    ):
        log(f"{ENGINE}/ and tools/ not found under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import workloads

    t_start = time.monotonic()
    hw = host()
    work = os.path.join(BENCH, ".work")
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    if not args.prepare:
        shutil.rmtree(work, ignore_errors=True)
        for d in (tmp, local):
            os.makedirs(d)
    # Workers are forked from the JVM, which inherits this environment:
    # PYTHONPATH lets them import the engine from any working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(hw["cpus"]),
        "SPARK_DRIVER_MEM": f"{hw['jvm_mem_mb']}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    os.chdir(work)
    all_wl = workloads()
    if args.workload not in all_wl:
        log(f"unknown workload {args.workload!r}; one of {sorted(all_wl)}")
        return 2
    wl = all_wl[args.workload]
    cache_root = os.path.join(BENCH, ".cache")
    if args.prepare:
        prepare_inputs(wl, args.seed, cache_root, hw["duckdb_mem_mb"], tmp)
        return 0
    if not is_prepared(wl, args.seed, cache_root):
        prepare_in_child(args)
    data_dir, meta = prepare_inputs(wl, args.seed, cache_root, hw["duckdb_mem_mb"], tmp)
    log(f"inputs ready at {time.monotonic() - t_start:.1f}s")

    from perfbench import probe

    # peak memory is a per-layer metric: sample it in traced runs only
    with probe.RssSampler() if args.trace else contextlib.nullcontext() as rss:
        spark, setup = start_session(work)
        log(f"set-up done at {time.monotonic() - t_start:.1f}s")
        listener = probe.ProgressLog()
        spark.streams.addListener(listener)
        watchdog = threading.Timer(DEADLINE_S - (time.monotonic() - t_start),
                                   spark.sparkContext.cancelAllJobs)
        watchdog.daemon = True
        watchdog.start()
        try:
            runner = Runner(spark, wl, data_dir, meta, load_compare(), listener)
            passes = measure(runner, args.seconds, t_start)
            log("pass walls " + " ".join(f"{p['wall']:.3f}" for p in passes))
            for q in wl.queries:
                log(f"{q.name} " + " ".join(f"{p['queries'].get(q.name, 0):.3f}" for p in passes))
            if args.trace:
                spans = probe.Spans()
                status = probe.StatusStore(spark)
                status.settle()
                mark = status.mark()
                traced = runner.run_pass(spans)
                status.settle()
                spans.attribute(status.since(mark), ("plan", "exec", "streaming"))
                loop_s = statistics.median(p["loop"] for p in passes)
                layers = layer_metrics(spans, traced, loop_s, setup, hw["cpus"], rss.peak)
                share = layers["trace.layer_share"]["value"]
                if share < LAYER_SHARE_MIN:
                    log(f"warning: named layer spans cover {share:.3f} of the traced pass")
                write_trace(wl.name, args.seed, spans, layers, hw)
        finally:
            watchdog.cancel()
            spark.streams.removeListener(listener)
            stop_session(spark)
    report = {
        "workload": wl.name, "seed": args.seed, **hw, "passes": len(passes),
        "failed_ratio": runner.failed / max(runner.attempted, 1),
        "failures": runner.failures[:5],
    }
    log(f"done at {time.monotonic() - t_start:.1f}s")
    print("perfbench " + json.dumps(report), flush=True)
    metrics = layers if args.trace else end_to_end(setup, passes, runner.rows_per_pass())
    print(json.dumps({"correct": runner.failed == 0, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}), flush=True)
    return 0


def end_to_end(setup: dict, passes: list[dict], rows_per_pass: int) -> dict:
    """The end-to-end metrics of one run from its set-up and timed passes."""
    wall_s = statistics.median(p["wall"] for p in passes)
    # median per query first: a pooled median of unlike queries would
    # jump between them from run to run
    per_query: dict[str, list[float]] = {}
    for p in passes:
        for name, durations in p["steps"].items():
            per_query.setdefault(name, []).extend(durations)
    step = statistics.median(statistics.median(v) for v in per_query.values()) if per_query else 0.0
    m = {
        "setup_s": (sum(setup.values()), "s"),
        "wall_s": (wall_s, "s"),
        "rows_per_s": (rows_per_pass / wall_s if wall_s else 0.0, "rows/s"),
        "step_p50_s": (step, "s"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def measure(runner: Runner, seconds: float, t_start: float) -> list[dict]:
    """Run the workload's warm-up passes, then timed passes until
    ``seconds`` have gone by, at least MIN_PASSES; returns the timed ones."""
    for _ in range(runner.wl.warmup_passes):
        runner.run_pass(warmup=True)
    log(f"warm-up done at {time.monotonic() - t_start:.1f}s")
    passes = []
    end = time.monotonic() + seconds
    while len(passes) < MIN_PASSES or time.monotonic() < end:
        if passes and time.monotonic() - t_start > DEADLINE_S:
            break
        passes.append(runner.run_pass())
    return passes


def write_trace(name: str, seed: int, spans, layers: dict, hw: dict) -> None:
    out = os.path.join(BENCH, ".out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{name}-s{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": name, "seed": seed, "host": hw, "layers": layers,
                   "spans": spans.spans}, f, indent=1)
    log(f"trace written to {path}")


if __name__ == "__main__":
    sys.exit(main())
