"""Entity-resolution benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts a local[<cpus>] Spark
session, builds the workload's seeded input, runs one op as warm-up (its
time is part of `setup_s`), then runs ops until `--seconds` have passed,
at least one. Every op's output is checked; an op whose check fails
counts as failed. With `--trace 0` the last stdout line carries the
end-to-end metrics; with `--trace 1` it carries the per-layer ledger of
one traced op (see perfbench/README.md). Scratch files live under
`.bench_work/` in the repository root.
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
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("er_batch", "er_wide")
DRIVER_MEM = "2g"
DEADLINE_S = 170

LAYERS = ("extract", "labels", "blocking", "scoring", "cc", "joinback",
          "resolve", "resume", "queries.hub_entities", "queries.co_occurrence",
          "queries.two_hop_neighbors", "incremental")
COUNTERS = ("extract.turns_in", "extract.mentions_out", "extract.cache_bytes",
            "labels.labels_out", "blocking.pairs_out", "blocking.pairs_per_label",
            "blocking.recall", "blocking.yield", "scoring.pairs_scored",
            "scoring.band_labels", "scoring.edges_out", "scoring.cache_hits",
            "cc.edges_in", "cc.clusters_out", "cc.multi_clusters",
            "joinback.rows_out", "incremental.convs_in",
            "incremental.parts_rewritten")
SPAN_FIELDS = ("wall_s", "self_s", "exec_s", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "tasks", "idle_share")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _tree_pids(root_pid: int) -> list[int]:
    """root_pid and all its descendants, from the parent ids in /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed resident memory of the driver JVM and the processes it
    forks (the Python workers), sampled from /proc."""

    def __init__(self, root_pid: int, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.period_s):
            rss = sum(_rss_kb(p) for p in _tree_pids(self.root_pid))
            self.peak_kb = max(self.peak_kb, rss)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        return self.peak_kb / 1024


def start_spark(work: str, cpus: int):
    """local[cpus] session with the host pinned here, not in the package:
    driver heap below physical RAM, the repository root on the Python
    workers' path, scratch space inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    from session_graph_spark.session import bench_shuffle_partitions, get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        shuffle_partitions=bench_shuffle_partitions(cpus),
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def host_info(spark, cpus: int) -> dict:
    return {"cpus": cpus, "ram_mb": round(mem_total_mb()),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0]}


def null_span(name):
    from contextlib import nullcontext
    return nullcontext()


def per_layer_metrics(ledger, inc_ledger) -> dict[str, float]:
    m = ledger.layer_metrics([x for x in LAYERS if x != "incremental"])
    if inc_ledger is not None:
        inc = inc_ledger.layer_metrics(["incremental"])
        m.update(inc)
    pairs = m.get("blocking.pairs_out", 0.0)
    m["blocking.pairs_per_label"] = pairs / m["blocking.labels_in"] if m.get(
        "blocking.labels_in") else 0.0
    true = m.get("blocking.true_pairs", 0.0)
    m["blocking.recall"] = m.get("blocking.true_found", 0.0) / true if true else 1.0
    m["blocking.yield"] = m.get("scoring.edges_out", 0.0) / pairs if pairs else 0.0
    out = {f"{layer}.{f}": m.get(f"{layer}.{f}", 0.0)
           for layer in LAYERS for f in SPAN_FIELDS}
    out.update({c: m.get(c, 0.0) for c in COUNTERS})
    return out


def traced_metrics(spark, cpus, wl, ops, checked_op, work, args
                   ) -> tuple[dict[str, float], int | None]:
    """One traced op (plus, on er_batch, one traced incremental merge);
    writes the spans to .bench_work/trace-<workload>-seed<seed>.json.
    Returns the per-layer metrics and the merge's output row count (None
    when the workload has no merge)."""
    from perfbench.ledger import Ledger, install_wrappers

    ledger = Ledger(spark, cpus)
    restore = install_wrappers(ledger, wl.truth_pairs())
    try:
        r = checked_op(ledger.span, traced=True)
    finally:
        restore()
    inc_ledger = inc_rows = None
    if args.workload == "er_batch":
        log("incremental phase")
        inc_ledger = Ledger(spark, cpus)
        inc_rows = wl.incremental_merge(inc_ledger, os.path.join(work, "state"))
    metrics = per_layer_metrics(ledger, inc_ledger)
    untraced = statistics.median(o.resolve_s for o in ops)
    metrics["trace_overhead_s"] = (r.resolve_s - untraced) if r else 0.0
    spans = [s.as_dict() for s in ledger.spans]
    if inc_ledger is not None:
        spans += [s.as_dict() for s in inc_ledger.spans]
    path = os.path.join(ROOT, ".bench_work", f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "untraced_resolve_s": untraced,
                   "traced_resolve_s": r.resolve_s if r else None,
                   "spans": spans}, fh, indent=1)
    print(f"trace {path}", flush=True)
    return metrics, inc_rows


UNITS = {"wall_s": "s", "self_s": "s", "exec_s": "s", "shuffle_read_bytes": "B",
         "shuffle_write_bytes": "B", "spill_bytes": "B", "tasks": "count",
         "idle_share": "ratio", "cache_bytes": "B", "pairs_per_label": "ratio",
         "recall": "ratio", "yield": "ratio", "trace_overhead_s": "s",
         "setup_s": "s", "turns_per_s": "turns/s", "pair_f1": "ratio",
         "peak_rss_mb": "MB"}


def unit_of(metric: str) -> str:
    return UNITS.get(metric, UNITS.get(metric.rsplit(".", 1)[-1], "count"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must be importable from the checkout root;
    # without it the run fails here, before any result is printed
    sys.path.insert(0, ROOT)
    import session_graph_spark  # noqa: F401

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR on next use
    cpus = cpu_count()
    spark = sampler = None
    try:
        t_setup = time.perf_counter()
        spark = start_spark(work, cpus)
        sampler = RssSampler(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        sampler.start()
        from perfbench.workloads import Workload

        log("session started")
        wl = Workload(spark, args.workload, args.seed)
        log(f"input built: {wl.n_turns} turns")
        attempted = failed = 0
        problems: list[str] = []
        reference = None

        def checked_op(span, **kw):
            nonlocal attempted, failed
            attempted += 1
            log(f"op {attempted}")
            try:
                r = wl.op(span, **kw)
            except Exception:  # an op that raises counts as failed
                failed += 1
                problems.append(traceback.format_exc(limit=3))
                return None
            bad = wl.check(r, reference)
            if bad:
                failed += 1
                problems.extend(bad)
            return r

        # warm-up: one op pays most of JIT and code generation before
        # timing, and fixes the reference the later ops are checked against
        reference = checked_op(null_span)
        if reference is None:
            raise RuntimeError("warm-up op failed: " + problems[-1])
        setup_s = time.perf_counter() - t_setup
        print("host " + json.dumps(host_info(spark, cpus)), flush=True)

        ops: list = []
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < args.seconds:
            r = checked_op(null_span)
            if r is None:
                break
            ops.append(r)
        if not ops:
            raise RuntimeError("op failed: " + problems[-1])

        if args.trace:
            metrics, inc_rows = traced_metrics(spark, cpus, wl, ops, checked_op,
                                               work, args)
            if inc_rows is not None:
                attempted += 1
                if inc_rows == 0:
                    failed += 1
                    problems.append("incremental merge returned no rows")
        else:
            metrics = {
                "setup_s": setup_s,
                "turns_per_s": wl.n_turns / statistics.median(o.resolve_s for o in ops),
                "pair_f1": statistics.median(o.f1 for o in ops),
                "peak_rss_mb": sampler.stop(),
            }
        log("done")
        for p in problems:
            print("check failed: " + p, file=sys.stderr)
        print("ops " + json.dumps([o.__dict__ for o in ops]), flush=True)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }), flush=True)
        return 0
    finally:
        signal.alarm(0)
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
