#!/usr/bin/env python3
"""KG-construction benchmark: HTML pages in, oracle-checked triples out.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads (``kgbench/workloads.py``):
  kg_build        full run_kg_pipeline writing graph tables via graph_sink
  kg_incremental  run_kg_pipeline_incremental over a 10%-grown corpus,
                  against a committed StageStore run and a large ontology
  kg_reason       RDFS-Plus delta maintenance over a saturated KG, sameAs
                  consolidation, restriction rules, PageRank, three SPARQL
                  queries; every step committed through StageStore

One process drives one Spark session on ``local[4]``, one operation at a
time, in a closed loop. Set-up (session start, input generation, oracle,
committed previous state, warm-up iterations) is timed as ``setup_s``;
then iterations run back to back for ``--seconds`` and each one's
output is checked against an independent oracle after the window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
untraced and one traced iteration and prints the per-layer metrics read
from Spark's status store, plus the tracing overhead. ``--selfcheck``
runs every workload end to end at toy size and checks each oracle.
``--scaling`` measures kg_build's local[1] vs local[4] scaling
efficiency, each in a fresh process.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The lines before it give the host context and a readable
summary. The benchmark reads and writes only inside ``.kgbench_work/``
of the checkout, and stops the JVM and Python workers it starts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".kgbench_work")
MASTER = "local[4]"
DEADLINE_S = 170  # a hung run is killed, JVM included, before three minutes
SHUFFLE_PARTITIONS = 8  # two per core of local[4]
DRIVER_HEAP = "3g"

# Input sizes per workload. Each hybrid's input stays at least 2x away
# from its driver/distributed threshold (closures 65,536 rows, CC
# 200,000) so every iteration and seed takes the same branch.
SIZES = {
    "kg_build": {"pages": 2000, "concepts": 2000},
    "kg_incremental": {"pages": 2000, "concepts": 20000},
    "kg_reason": {"concepts": 800, "pages": 700},
}
TOY = {
    "kg_build": {"pages": 120, "concepts": 40},
    "kg_incremental": {"pages": 100, "concepts": 200},
    "kg_reason": {"concepts": 60, "pages": 40},
}

E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "triples_per_s": "triples/s",
    "triple_precision": "ratio", "triple_recall": "ratio", "peak_rss_mb": "MiB",
}


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# process tree + host context
# ---------------------------------------------------------------------------


class RssSampler(threading.Thread):
    """Peak summed anonymous resident memory of this process and every
    descendant (driver JVM, Python daemon and workers), from /proc.
    Each process counts its proportional share (``Pss_Anon``), so pages
    a forked child still shares with its parent count once, and file
    pages the kernel can drop (jars, memory-mapped shuffle files) not
    at all."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0
        self.peak_by_proc: dict[str, int] = {}
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree() -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def _sample(self) -> dict[str, int]:
        by_proc: dict[str, int] = {}
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    kb = next(int(line.split()[1]) for line in f if line.startswith("Pss_Anon:"))
            except (OSError, StopIteration, IndexError, ValueError):
                continue
            by_proc[name] = by_proc.get(name, 0) + kb * 1024
        return by_proc

    def run(self) -> None:
        while not self._stop_evt.is_set():
            by_proc = self._sample()
            total = sum(by_proc.values())
            if total > self.peak:
                self.peak, self.peak_by_proc = total, by_proc
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


def host_context(spark=None) -> dict:
    ctx = {"nproc": os.cpu_count(), "loadavg_1m": os.getloadavg()[0]}
    if spark is not None:
        sc = spark.sparkContext
        ctx.update(master=sc.master, default_parallelism=sc.defaultParallelism,
                   driver_heap=sc.getConf().get("spark.driver.memory", "?"))
    return ctx


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def start_spark(master: str):
    """A session the way users build one (``get_spark``), with every
    temporary path inside the work directory and the package importable
    by the Python workers from any working directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    from sifr_project_java_ontology_processing_spark.session import get_spark

    return get_spark(app_name="kgbench", master=master, shuffle_partitions=SHUFFLE_PARTITIONS,
                     extra_conf={
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the whole heap is committed and touched at start, so peak
        # memory does not depend on when G1 decides to grow the heap
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                         f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap keeps peak memory bounded on a shared host
        # (get_spark's default is 8g here)
        "spark.driver.memory": DRIVER_HEAP,
    })


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (which takes its Python
    workers with it), and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def abort(why: str, code: int) -> None:
    """Kill the JVM (its Python workers exit with it) and leave."""
    log(why)
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
    finally:
        os._exit(code)


def watchdog(seconds: float) -> None:
    """Abort a run that would overrun the per-run time limit, or that is
    asked to stop, without leaving the JVM behind."""
    t = threading.Timer(seconds, abort, (f"run exceeded {seconds:.0f} s; aborting", 3))
    t.daemon = True
    t.start()
    signal.signal(signal.SIGTERM, lambda *_: abort("terminated", 143))


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def run_window(wl, out_root: str, seconds: float, min_iters: int = 1):
    """Closed loop: the next iteration starts when the previous one
    returns. Iteration outputs are checked after the window."""
    walls, outs, errors = [], [], []
    end = time.perf_counter() + seconds
    k = 0
    while k < min_iters or time.perf_counter() < end:
        out = os.path.join(out_root, f"it{k}")
        t0 = time.perf_counter()
        try:
            wl.iterate(out)
            walls.append(time.perf_counter() - t0)
            outs.append(out)
        except Exception as e:  # counted, not fatal: the window goes on
            errors.append(repr(e)[:300])
            log(f"iteration {k} raised: {errors[-1]}")
        k += 1
    return walls, outs, errors


def check_all(wl, outs):
    checks = []
    for out in outs:
        c = wl.check(out)
        if not c.ok:
            log(f"oracle mismatch in {out}: {c.why}")
        checks.append(c)
    return checks


def measure(name: str, seed: int, seconds: float, trace: bool, sizes: dict) -> dict:
    from workloads import WORKLOADS
    from tracing import Tracer

    rss = RssSampler()
    rss.start()
    t_setup = time.perf_counter()
    work = _fresh(os.path.join(WORK, name))
    spark = start_spark(MASTER)
    try:
        ctx = {"before": host_context(spark), "workload": name, "seed": seed}
        log(f"session up at {time.perf_counter() - t_setup:.1f} s")
        wl = WORKLOADS[name](spark, seed, work, sizes[name])
        wl.setup()
        log(f"inputs, oracle and committed state at {time.perf_counter() - t_setup:.1f} s")
        for size, n in wl.warmup:
            target = wl
            if size == "toy":
                target = WORKLOADS[name](spark, seed, _fresh(os.path.join(work, "toy")), TOY[name])
                target.setup()
            for w in range(n):
                target.iterate(os.path.join(target.work, "out", f"warm{w}"))
        setup_s = time.perf_counter() - t_setup
        log(f"warm-up done at {setup_s:.1f} s")

        if not trace:
            walls, outs, errors = run_window(wl, os.path.join(work, "out"), seconds)
            checks = check_all(wl, outs)
            metrics = None
        else:
            walls, outs, errors = run_window(wl, os.path.join(work, "out"), 0)
            tr = Tracer(spark)
            tout = os.path.join(work, "out", "traced")
            t0 = time.perf_counter()
            layer: dict = {}
            wl.traced(tout, tr, layer)
            traced_wall = time.perf_counter() - t0
            tr.close()
            outs.append(tout)
            checks = check_all(wl, outs)
            metrics = layer_metrics(tr, layer, traced_wall, walls)
        ctx["after"] = host_context()
    finally:
        stop_spark(spark)
    peak = rss.stop()
    ctx["peak_rss_mb_by_process"] = {k: round(v / 2**20, 1) for k, v in rss.peak_by_proc.items()}

    attempted = len(walls) + len(errors)
    if trace:
        attempted += 1
    failed = len(errors) + sum(not c.ok for c in checks)
    if not walls:
        raise RuntimeError(f"no iteration of {name} completed: {errors}")
    if metrics is None:
        wall = statistics.median(walls)
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "triples_per_s": statistics.median(c.n_out for c in checks) / wall,
            "triple_precision": min(c.precision for c in checks),
            "triple_recall": min(c.recall for c in checks),
            "peak_rss_mb": peak,
        }
        units = E2E_UNITS
    else:
        units = {k: LAYER_UNITS.get(k.rsplit(".", 1)[-1], "count") for k in metrics}
    ctx["iterations"] = [round(w, 4) for w in walls]
    ctx["failed_ops_ratio"] = failed / attempted if attempted else 1.0
    return {"ctx": ctx, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

LAYER_UNITS = {"self_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s", "write_s": "s",
               "read_s": "s", "parse_s": "s", "exec_s": "s", "driver_only_s": "s",
               "dim_phase_s": "s", "assemble_s": "s", "metrics_s": "s", "overhead_s": "s",
               "wall_s": "s", "untraced_wall_s": "s", "task_skew": "ratio",
               "resolved_ratio": "ratio", "bytes": "bytes", "shuffle_bytes": "bytes",
               "assemble_shuffle_bytes": "bytes", "bytes_written": "bytes",
               "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}

REASONING = ("rdfs_plus_entail", "rdfs_plus_entail_delta", "sameas_consolidate",
             "restrictions_entail")

# every per-layer metric, in BENCHMARK.json order; a layer a workload
# bypasses reports 0
LAYER_METRICS = (
    [f"mentions.{k}" for k in ("self_s", "task_s", "cpu_s", "gc_s", "task_skew",
                               "pages_in", "rows_out", "labels")]
    + [f"cascade.{k}" for k in ("self_s", "jobs", "shuffle_bytes", "rows_out", "resolved_ratio")]
    + [f"canonical.{k}" for k in ("self_s", "jobs", "rows_out")]
    + [f"kg.{k}" for k in ("dim_phase_s", "assemble_s", "assemble_shuffle_bytes",
                           "triples_out", "metrics_s")]
    + [f"sink.{k}" for k in ("write_s", "bytes", "files", "rows")]
    + [f"store.{k}" for k in ("write_s", "read_s", "bytes_written", "stages_committed",
                              "stages_resumed")]
    + [f"{fn}.{k}" for fn in REASONING for k in ("self_s", "jobs", "shuffle_bytes", "gc_s",
                                                  "rows_out")]
    + [f"pagerank.{k}" for k in ("self_s", "jobs", "shuffle_bytes")]
    + [f"sparql.{k}" for k in ("parse_s", "exec_s", "rows_out")]
    + [f"spark.{k}" for k in ("jobs", "tasks", "task_s", "cpu_s", "gc_s",
                              "shuffle_write_bytes", "spill_bytes", "driver_only_s")]
    + ["trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s"]
)


def layer_metrics(tr, counts: dict, traced_wall: float, untraced: list) -> dict:
    from workloads import tree_bytes_files

    m = dict.fromkeys(LAYER_METRICS, 0)
    m.update(counts)
    fresh = [c for c in tr.store_calls if c[2]]
    m["store.write_s"] = sum(c[3] for c in fresh)
    m["store.read_s"] = sum(c[3] for c in tr.store_calls if not c[2])
    m["store.stages_committed"] = len(fresh)
    m["store.stages_resumed"] = len(tr.store_calls) - len(fresh)
    m["store.bytes_written"] = sum(tree_bytes_files(c[0])[0] for c in fresh)

    def span(name: str, prefix: str, fields: tuple) -> None:
        s = tr.get(name)
        if s is None:
            return
        st = tr.span_stats(name)
        vals = {"self_s": s.wall_s, "jobs": len(s.jobs), "shuffle_bytes": st.shuffle_write_bytes,
                "gc_s": st.gc_s, "task_s": st.task_s, "cpu_s": st.cpu_s, "task_skew": st.skew}
        for f in fields:
            m[f"{prefix}.{f}"] = vals[f]

    span("mentions", "mentions", ("self_s", "task_s", "cpu_s", "gc_s", "task_skew"))
    span("cascade", "cascade", ("self_s", "jobs", "shuffle_bytes"))
    span("canonical", "canonical", ("self_s", "jobs"))
    for fn in REASONING:
        span(fn, fn, ("self_s", "jobs", "shuffle_bytes", "gc_s"))
    span("pagerank", "pagerank", ("self_s", "jobs", "shuffle_bytes"))
    for name, key in (("kg.dim_phase", "kg.dim_phase_s"), ("kg.assemble", "kg.assemble_s"),
                      ("kg.metrics", "kg.metrics_s"), ("sink", "sink.write_s"),
                      ("sparql.parse", "sparql.parse_s"), ("sparql.exec", "sparql.exec_s")):
        if tr.get(name) is not None:
            m[key] = tr.get(name).wall_s
    if tr.get("kg.assemble") is not None:
        m["kg.assemble_shuffle_bytes"] = tr.span_stats("kg.assemble").shuffle_write_bytes
    st, driver_only, n_jobs = tr.whole()
    m.update({"spark.jobs": n_jobs, "spark.tasks": st.tasks, "spark.task_s": st.task_s,
              "spark.cpu_s": st.cpu_s, "spark.gc_s": st.gc_s,
              "spark.shuffle_write_bytes": st.shuffle_write_bytes,
              "spark.spill_bytes": st.spill_bytes, "spark.driver_only_s": driver_only})
    base = statistics.median(untraced) if untraced else 0.0
    m["trace.wall_s"] = traced_wall
    m["trace.untraced_wall_s"] = base
    m["trace.overhead_s"] = traced_wall - base
    return m


# ---------------------------------------------------------------------------
# modes
# ---------------------------------------------------------------------------


def selfcheck() -> int:
    """Every workload end to end at toy size in one session, each
    output checked against its oracle."""
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_spark(MASTER)
    bad = 0
    try:
        for name, cls in WORKLOADS.items():
            work = _fresh(os.path.join(WORK, "selfcheck", name))
            wl = cls(spark, 7, work, TOY[name])
            wl.setup()
            out = os.path.join(work, "out", "it0")
            wl.iterate(out)
            c = wl.check(out)
            bad += not c.ok
            print(f"{name}: {'ok' if c.ok else 'FAIL ' + c.why} "
                  f"({c.n_out} triples, precision {c.precision}, recall {c.recall})", flush=True)
    finally:
        stop_spark(spark)
    print(f"selfcheck {'passed' if not bad else 'FAILED'} in {time.perf_counter() - t0:.1f} s")
    return 1 if bad else 0


def scaling(seed: int, seconds: float) -> int:
    """scaling_eff = wall_s@local[1] / (4 * wall_s@local[4]) for kg_build
    on identical inputs, each level in a fresh process."""
    walls = {}
    for cpus in (4, 1):
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", "kg_build",
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
             "--master", f"local[{cpus}]"],
            capture_output=True, text=True, timeout=900, check=True)
        walls[cpus] = json.loads(r.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]
    eff = walls[1] / (4 * walls[4])
    print(json.dumps({"scaling_eff": {"value": eff, "unit": "ratio"},
                      "wall_s_local1": walls[1], "wall_s_local4": walls[4]}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--scaling", action="store_true")
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import sifr_project_java_ontology_processing_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test from {ROOT}: {e}")
        return 2

    if a.selfcheck:
        return selfcheck()
    if a.scaling:
        return scaling(a.seed, a.seconds)
    if a.workload is None:
        ap.error("--workload is required")
    global MASTER
    MASTER = a.master or MASTER
    if not a.master:
        watchdog(DEADLINE_S)
    res = measure(a.workload, a.seed, a.seconds, bool(a.trace), SIZES)
    ctx = res.pop("ctx")
    print("host " + json.dumps(ctx), flush=True)
    summary = ", ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in res["metrics"].items())
    print(f"{a.workload}: {summary}; failed_ops_ratio={ctx['failed_ops_ratio']:.6g} ratio",
          flush=True)
    res["correct"] = res["failed"] == 0
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
