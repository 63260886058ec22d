"""Seeded end-to-end benchmark of the FkNN engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload fknn_batch --seed 1 --seconds 5 --trace 0

Workloads: fknn_batch, corpus_batch (see ``workloads.py`` and
``README.md``).  One process, one client, Spark on ``local[<nproc>]``.
The run sets up once (session start, input write, load, warm-up) and
reports that time as ``setup_s``, then runs operations back to back for
``--seconds`` seconds, checks every output against a harness oracle and
prints a report followed by one JSON result line.  ``--trace 1``
instead alternates plain and traced operations and reports the
per-layer metrics named in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

import gen
import spans
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Driver heap: below this host's memory (session.py defaults to 24g).
DRIVER_MEM = "4g"

# Printed for every workload; BENCHMARK.json's end_to_end list names the
# subset gated between runs.  The wall-time ones swung by up to 2x across
# runs on a shared 4-vCPU host whenever another tenant took cores, so the
# gate uses CPU per row (ProcTree.cpu_s), which moved less.
E2E_UNITS = {
    "setup_s": "s",
    "cpu_ms_per_row": "ms/row",
    "rows_per_s": "rows/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> (span name, span field, how one operation's spans combine)
LAYER_METRICS = {
    "api.predict_construct_s": ("api.predict_construct", "dur_s", sum),
    "api.predict_collect_s": ("api.predict_collect", "dur_s", sum),
    "operators.knn.calls": ("operators.knn.construct", "dur_s", len),
    "operators.knn.construct_s": ("operators.knn.construct", "dur_s", sum),
    "operators.knn.exec_s": ("operators.knn.exec", "dur_s", sum),
    "operators.knn.chunks": ("operators.knn.construct", "chunks", sum),
    "operators.knn.peak_buffer_rows": ("operators.knn.construct", "peak_buffer_rows", max),
    "operators.knn.fallback": ("operators.knn.construct", "fallback", sum),
    "operators.fknn.memberships_s": ("operators.fknn.memberships", "dur_s", sum),
    "operators.fknn.membership_rows": ("operators.fknn.memberships", "membership_rows", sum),
    "operators.fknn.classify_s": ("operators.fknn.classify", "dur_s", sum),
    "queries.llm.j8_s": ("queries.llm.j8", "dur_s", sum),
    "queries.llm.near_dup_pairs": ("queries.llm.j8", "near_dup_pairs", sum),
    "queries.llm.j31_s": ("queries.llm.j31", "dur_s", sum),
    "queries.llm.survivors": ("queries.llm.j31", "survivors", sum),
    "operators.graph.cc_s": ("operators.graph.cc", "dur_s", sum),
    "operators.graph.rounds": ("operators.graph.cc", "rounds", sum),
    "operators.rank.construct_s": ("operators.rank.construct", "dur_s", sum),
    "operators.rank.exec_s": ("operators.rank.exec", "dur_s", sum),
    "operators.rank.refine_stages": ("operators.rank.construct", "refine_stages", sum),
    "cache.released": ("cache.release", "released", sum),
}


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _prepare_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(f'-Djava.io.tmpdir={tmp} -XX:-UsePerfData')} pyspark-shell"
    )


# the JVM's JIT compiler threads, left out of cpu_s (see ProcTree.cpu_s)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a /proc stat file; None once
    the process or thread is gone."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1 : stat.rfind(")")], stat[stat.rfind(")") + 2 :].split()


class ProcTree:
    """The driver JVM and every process it forks (the Python worker
    daemon and its workers), read from /proc."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")
        self._lock = threading.Lock()
        self._proc_ticks: dict[tuple[int, str], int] = {}  # (pid, start time) -> last utime + stime
        self._jit_ticks: dict[str, int] = {}  # JVM thread id -> last utime + stime
        self.jit_s = 0.0

    def pids(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit() and (st := _stat(f"/proc/{d}/stat")) is not None:
                kids.setdefault(int(st[1][1]), []).append(int(d))
        out, stack = [], [self.root_pid]
        while stack:
            p = stack.pop()
            out.append(p)
            stack.extend(kids.get(p, ()))
        return out

    def rss(self, pids: list[int]) -> int:
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass  # the process exited between listing and reading
        return total

    def cpu_s(self) -> float:
        """User + system CPU seconds the tree has used so far, less the
        JVM's JIT compiler threads (their total is kept in ``jit_s``).

        Read per process, so every thread counts: the JVM's task, GC and
        other threads (exited ones too) and each Python worker's OpenBLAS
        helper threads.  A process that has exited keeps the figure last
        read for it: the worker daemon ignores SIGCHLD, so its workers'
        CPU never reaches its cutime.  RssSampler re-reads the tree every
        second so little is lost that way.  The C1/C2 compiler threads
        are left out: after warm-up they go on compiling in the
        background at a rate that follows the host's load, not the work.
        """
        with self._lock:
            for p in self.pids():
                if (st := _stat(f"/proc/{p}/stat")) is not None:
                    f = st[1]
                    self._proc_ticks[(p, f[19])] = int(f[11]) + int(f[12])
            for t in os.listdir(f"/proc/{self.root_pid}/task"):
                st = _stat(f"/proc/{self.root_pid}/task/{t}/stat")
                if st is not None and st[0].startswith(_JIT_THREADS):
                    self._jit_ticks[t] = int(st[1][11]) + int(st[1][12])
            jit = sum(self._jit_ticks.values())
            self.jit_s = jit / self._tick
            return (sum(self._proc_ticks.values()) - jit) / self._tick


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree, sampled every ``period`` s."""

    def __init__(self, tree: ProcTree, period: float = 0.1):
        super().__init__(daemon=True)
        self.tree = tree
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        pids, n = self.tree.pids(), 0
        while True:
            self.peak = max(self.peak, self.tree.rss(pids))
            if self._stop_evt.wait(self.period):
                return
            n += 1
            if n % 10 == 0:  # workers come and go: refresh the tree each second
                self.tree.cpu_s()
                pids = self.tree.pids()

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return max(self.peak, self.tree.rss(self.tree.pids()))


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None  # a plain source checkout carries no commit id
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, env=env)
    return r.stdout.strip() or None


def _environment(spark, nproc: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": nproc,
        "master": spark.sparkContext.master,
        "mem_total_kb": mem_kb,
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
        "blas_threads": {k: os.environ.get(k) for k in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")},
        "versions": {
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        },
        "commit": _git_commit(),
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes;
    the Python worker daemon exits with it), and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, wl, seconds: float, traced: bool):
        from big_data_fknn_spark import cache, session, tables

        self.wl = wl
        self.seconds = seconds
        self.traced = traced
        self.cache, self.session, self.tables = cache, session, tables
        self.tracer = spans.Tracer() if traced else spans.NullTracer()
        self.ops: list[dict] = []
        self.nproc = len(os.sched_getaffinity(0))
        self.tree: ProcTree | None = None

    def run_op(self, spark, state, phase: str, traced: bool) -> dict:
        """One guarded operation: an exception is recorded by class and
        counted as a failure, and the run continues."""
        i = len(self.ops)
        rec = {"i": i, "phase": phase, "traced": traced, "error": None, "out": None}
        tracer = self.tracer if traced else spans.NullTracer()
        group = f"perfbench-op-{i}"
        if self.traced:
            spark.sparkContext.setJobGroup(group, f"{self.wl.name} {phase}")
            self.tracer.op = group
        wrappers = spans.layer_wrappers(tracer) if traced else contextlib.nullcontext()
        cpu0 = self.tree.cpu_s() + time.thread_time()
        jit0 = self.tree.jit_s
        t0 = time.perf_counter()
        try:
            with wrappers, tracer.span("op"):
                rec["out"] = self.wl.op(spark, state, tracer)
        except Exception as e:  # noqa: BLE001 — the harness must keep running
            rec["error"] = type(e).__name__
            traceback.print_exc(file=sys.stderr)
        rec["latency_s"] = time.perf_counter() - t0
        # CPU of the JVM tree plus the driver thread: it grows far less
        # than wall time when other tenants take the host's cores
        rec["cpu_s"] = self.tree.cpu_s() + time.thread_time() - cpu0
        rec["jit_cpu_s"] = self.tree.jit_s - jit0
        if self.traced:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            rec["spark"] = spans.job_counts(spark.sparkContext, group)
        # hygiene between repetitions: no warm helper caches carry over
        with tracer.span("cache.release") as r:
            r["released"] = self.cache.release_query_caches()
        self.tracer.op = None
        self.ops.append(rec)
        return rec

    def setup(self, data_dir: str):
        """Session start, input write, load and warm-up; returns its time."""
        self.tracer.op = "setup"
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            spark = self.session.get_spark(cpus=self.nproc)
        self.tree = ProcTree(spark.sparkContext._gateway.proc.pid)
        with self.tracer.span("inputs.write"):
            os.makedirs(data_dir, exist_ok=True)
            gen.write(self.wl.tables, data_dir)
        with self.tracer.span("tables.load"):
            state = self.wl.load(spark, data_dir, self.tables)
        for _ in range(self.wl.warmup_ops):
            self.run_op(spark, state, "warmup", traced=False)
        return spark, state, time.perf_counter() - t0

    def timed(self, spark, state) -> None:
        deadline = time.perf_counter() + self.seconds
        # traced runs need a plain and a traced operation at least
        least = max(self.wl.timed_ops, 2) if self.traced else self.wl.timed_ops
        n = 0
        while True:
            # traced runs alternate plain and traced operations so the
            # tracing overhead is a paired difference
            self.run_op(spark, state, "timed", traced=self.traced and n % 2 == 1)
            n += 1
            if time.perf_counter() >= deadline and n >= least:
                return


def _check_outputs(wl, ops: list[dict]) -> dict:
    """Run the oracle over every operation's output (outside the timed
    region); a mismatch turns the operation into a failure."""
    verdicts = []
    for o in ops:
        if o["error"] is None:
            v = wl.check(o["out"])
            if not v["ok"]:
                o["error"] = "OracleMismatch"
            verdicts.append(v)
        o["out"] = None
    errors: dict[str, int] = {}
    for o in ops:
        if o["error"]:
            errors[o["error"]] = errors.get(o["error"], 0) + 1
    return {
        "checked": len(verdicts),
        "passed": sum(v["ok"] for v in verdicts),
        "errors": errors,
        "first": verdicts[0] if verdicts else None,
    }


def _layer_values(op_spans: list[dict], pairs_per_op: int) -> dict:
    out = {}
    for metric, (name, key, agg) in LAYER_METRICS.items():
        vals = [s[key] for s in op_spans if s["name"] == name and key in s]
        out[metric] = agg(vals) if vals else 0
    exec_s = out["operators.knn.exec_s"]
    out["operators.knn.pairs_per_s"] = pairs_per_op / exec_s if exec_s else 0.0
    return out


def _per_layer(runner, wl, trace_path: str) -> tuple[dict, dict]:
    """Per-layer metrics (medians over operations) and a self-time summary."""
    all_spans = runner.tracer.with_self_times()
    runner.tracer.write(trace_path)
    by_op: dict[str, list[dict]] = {}
    for s in all_spans:
        by_op.setdefault(s["op"], []).append(s)
    traced = [o for o in runner.ops if o["phase"] == "timed" and o["traced"]]
    plain = [o for o in runner.ops if o["phase"] == "timed" and not o["traced"]]
    per_op = [_layer_values(by_op.get(f"perfbench-op-{o['i']}", []), getattr(wl, "pairs_per_op", 0)) for o in traced]
    vals = {k: _median([v[k] for v in per_op]) for k in per_op[0]}
    for name in ("session.start", "tables.load"):
        vals[f"{name}_s"] = sum(s["dur_s"] for s in by_op["setup"] if s["name"] == name)
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        vals[f"spark.{key}"] = _median([o["spark"][key] for o in plain])
    op_traced = _median([o["latency_s"] for o in traced])
    op_plain = _median([o["latency_s"] for o in plain])
    vals["trace.overhead_s"] = op_traced - op_plain

    selfs: dict[str, dict] = {}
    for o in traced:
        for s in by_op.get(f"perfbench-op-{o['i']}", []):
            a = selfs.setdefault(s["name"], {"count": 0, "dur_s": 0.0, "self_s": 0.0})
            a["count"] += 1
            a["dur_s"] += s["dur_s"]
            a["self_s"] += s["self_s"]
    op_total = selfs.get("op", {}).get("dur_s", 0.0)
    shares: dict[str, float] = {}
    for name, a in selfs.items():
        layer = name.rsplit(".", 1)[0] if "." in name else "harness"
        shares[layer] = shares.get(layer, 0.0) + a["self_s"]
    summary = {
        "layer_share_of_op_time": {k: round(v / op_total, 4) for k, v in sorted(shares.items())} if op_total else {},
        "traced_ops": len(traced),
        "plain_ops": len(plain),
        "op_traced_median_s": op_traced,
        "op_plain_median_s": op_plain,
        "self_time_s": {k: {kk: round(vv, 4) for kk, vv in v.items()} for k, v in sorted(selfs.items())},
        "spans_file": os.path.relpath(trace_path, ROOT),
    }
    return vals, summary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import big_data_fknn_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 3
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    gated = [m["name"] for m in declared["end_to_end"]]
    layer_units = {m["name"]: m["unit"] for m in declared["per_layer"]}

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    _prepare_env(run_dir)
    load_start = _loadavg()
    wl = WORKLOADS[args.workload](args.seed)
    runner = Runner(wl, args.seconds, bool(args.trace))
    spark = None
    try:
        spark, state, setup_s = runner.setup(os.path.join(run_dir, "data"))
        env = _environment(spark, runner.nproc)
        sampler = RssSampler(runner.tree)
        sampler.start()
        t0 = time.perf_counter()
        runner.timed(spark, state)
        wall = time.perf_counter() - t0
        peak_rss = sampler.stop()
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    check = _check_outputs(wl, runner.ops)
    attempted = len(runner.ops)
    failed = sum(1 for o in runner.ops if o["error"])
    timed = [o for o in runner.ops if o["phase"] == "timed"]
    plain = [o for o in timed if not o["error"] and not o["traced"]]
    lat = [o["latency_s"] for o in plain]
    cpu = _median([o["cpu_s"] for o in plain])
    p50 = _median(lat)
    env["loadavg_start"] = load_start
    env["loadavg_end"] = _loadavg()

    e2e = {
        "setup_s": setup_s,
        "cpu_ms_per_row": 1000.0 * cpu / wl.rows_per_op,
        "rows_per_s": wl.rows_per_op / p50 if p50 else 0.0,
        "op_p50_s": p50,
        "peak_rss_mb": peak_rss / 2**20,
    }
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": wl.params,
        "rows_per_op": wl.rows_per_op,
        "timed_ops": len(timed),
        "timed_wall_s": round(wall, 4),
        "latencies_s": [round(x, 4) for x in lat],
        "cpu_s": [round(o["cpu_s"], 3) for o in plain],
        "jit_cpu_s": [round(o["jit_cpu_s"], 3) for o in plain],
        "error_rate": failed / attempted,
        "oracle": check,
        "env": env,
    }
    if args.trace:
        os.makedirs(WORK, exist_ok=True)
        vals, report["trace"] = _per_layer(runner, wl, os.path.join(WORK, f"trace-{wl.name}-s{args.seed}.jsonl"))
        metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in vals.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in gated}

    print(f"perfbench {wl.name} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("inputs " + json.dumps(wl.params, sort_keys=True))
    for k, v in e2e.items():
        print(f"  {k:<16} {v:>14.6g} {E2E_UNITS[k]}")
    print(f"  {'error_rate':<16} {failed / attempted:>14.4f} ratio  ({failed} failed of {attempted} attempted)")
    print(f"oracle {json.dumps(check, sort_keys=True)}")
    if args.trace:
        for k, m in metrics.items():
            print(f"  {k:<34} {m['value']:>16.4f} {m['unit']}")
    print("report " + json.dumps(report, sort_keys=True, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
