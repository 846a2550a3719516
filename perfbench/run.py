"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, measured with tracing off. With
``--trace 1`` the same run is traced and the metrics are the per-layer
ones; the spans, the traced end-to-end numbers and the tracing overhead
(traced minus the untraced run of the same seed, when one was made in
this checkout) go to ``.perfbench/results/<workload>-seed<n>-spans.json``. Everything the run writes stays under ``.perfbench/`` in the
checkout; the per-run scratch there is deleted when the run ends.
See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
PACKAGE = "data_ingestion_tool_bakasura__spark"
SETUP_REPS = 3

#: Input sizes. ``serve``: two waves of raw files (about 1.9k chunks),
#: so the index is larger than every ANN dial and no ANN mode equals
#: exact search. ``curate``: originals before the planted copies.
DOCS_PER_WAVE = 400
PROBES = 8
CURATE_DOCS = 1000

END_TO_END = {
    "setup_s": "s",
    "ok_share": "share",
    "peak_rss_mb": "MB",
    "batch_cpu_s": "s",
}

#: The spans each workload runs, in the order a run first meets them.
WORKLOADS = {
    "serve": (
        "extract", "ingest_plan", "store",
        "build_ann.hnsw", "build_ann.ivf", "build_ann.pq", "build_ann.binary",
        "search.text", "search.exact", "search.hnsw", "search.ivf", "search.pq",
        "search.binary", "search.hybrid",
    ),
    "curate": (
        "exact_dedup", "near_dedup", "span_surgery", "lm_score", "quality", "split_write",
    ),
}
SPANS = WORKLOADS["serve"] + WORKLOADS["curate"]
SPAN_COUNTERS = {
    "wall_s": "s", "driver_s": "s", "exec_cpu_s": "s", "jobs": "count",
    "shuffle_bytes": "B",
}
#: Counters read from a span's SQL executions: name -> (counter, unit).
SQL_EXTRAS = {
    "extract.python_s": ("python_s", "s"),
    "ingest_plan.python_s": ("python_s", "s"),
    "search.text.rows_read": ("rows_read", "rows"),
    "search.exact.rows_read": ("rows_read", "rows"),
    "search.ivf.rows_read": ("rows_read", "rows"),
    "search.pq.rows_read": ("rows_read", "rows"),
    "search.binary.rows_read": ("rows_read", "rows"),
}
#: Counts the workloads take themselves: name -> (unit, better).
WORKLOAD_EXTRAS = {
    "ingest_plan.stored_share": ("share", "higher"),
    "store.table_files": ("count", "lower"),
    "near_dedup.candidate_pairs": ("count", "lower"),
    "search.hnsw.recall_at_10": ("share", "higher"),
    "search.ivf.recall_at_10": ("share", "higher"),
    "near_dedup.recall": ("share", "higher"),
    "near_dedup.precision": ("share", "higher"),
}


def per_layer_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric: name -> (unit, better)."""
    out = {}
    for span in SPANS:
        for counter, unit in SPAN_COUNTERS.items():
            out[f"{span}.{counter}"] = (unit, "lower")
    for name, (_, unit) in SQL_EXTRAS.items():
        out[name] = (unit, "lower")
    out.update(WORKLOAD_EXTRAS)
    return out


# ---------------------------------------------------------------------------
# host and memory
# ---------------------------------------------------------------------------

def host_info() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def _jvm_pid(spark) -> int | None:
    """The driver JVM: the gateway's launcher execs into java, but fall
    back to its java child if it did not."""
    pid = spark.sparkContext._gateway.proc.pid
    for cand in [pid] + _children(pid):
        try:
            with open(f"/proc/{cand}/cmdline", "rb") as f:
                if b"java" in f.read().split(b"\0")[0]:
                    return cand
        except OSError:
            continue
    return None


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


class ProcessCpu:
    """CPU seconds (user + system, reaped children included) spent so
    far by this process, the driver JVM and every process under the JVM
    (the Python worker daemon and its workers). Steal time on a shared
    host is not charged to a process, so this reads steadier than wall
    time."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        me = resource.getrusage(resource.RUSAGE_SELF)
        total = me.ru_utime + me.ru_stime
        if self.jvm_pid is None:
            return total
        stats, children = {}, {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we listed
                continue
            pid = int(entry)
            stats[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            children.setdefault(int(fields[1]), []).append(pid)
        todo, ticks = [self.jvm_pid], 0
        while todo:
            pid = todo.pop()
            ticks += stats.get(pid, 0)
            todo += children.get(pid, [])
        return total + ticks / self.tick


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Driver JVM high-water RSS (VmHWM) plus this process's max RSS."""
    jvm_kb = 0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def start_spark(workdir: str):
    from data_ingestion_tool_bakasura__spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    spark = get_spark(
        "perfbench",
        master=MASTER,
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.driver.memory": "1g",
            # a fixed heap and young generation with a stop-the-world
            # collector: G1 grows the heap and burns background CPU by
            # how long its collections took, so under host contention
            # peak RSS and CPU seconds varied with the load, not the work
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:+UseParallelGC -Xms1g -Xmn256m",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job, stage and SQL execution of
            # the window back from the status stores
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit, which takes
    its Python worker daemon with it: the JVM exits when its stdin
    closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=120)


def make_workload(name: str, spark, workdir: str, seed: int, cpu, earlier: list[dict]):
    import workloads

    if name == "serve":
        return workloads.Serve(spark, workdir, seed, cpu, DOCS_PER_WAVE, PROBES)
    return workloads.Curate(spark, workdir, seed, cpu, CURATE_DOCS, earlier)


def earlier_records(results: str, args) -> list[dict]:
    """The window records of the earlier runs of this workload and seed
    in this checkout, traced or not: ``curate`` checks that its output
    is the same as theirs."""
    out = []
    for trace in (0, 1):
        path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{trace}.json")
        try:
            with open(path) as f:
                out.append(json.load(f)["window"])
        except (OSError, ValueError, KeyError):
            continue
    return out


def per_layer(tracer, base, window) -> dict[str, float]:
    """Per-call means of every span counter (0 for a span the workload
    does not run), and the means of the workload's own counts."""
    by_name: dict[str, list[dict]] = {}
    for rec in tracer.spans:
        by_name.setdefault(rec["name"], []).append(rec)

    def mean(values):
        values = list(values)
        return statistics.fmean(values) if values else 0.0

    out = {}
    for span in SPANS:
        recs = by_name.get(span, [])
        for counter in SPAN_COUNTERS:
            out[f"{span}.{counter}"] = mean(r.get(counter, 0.0) for r in recs)
    for name, (counter, _) in SQL_EXTRAS.items():
        span = name.rsplit(".", 1)[0]
        out[name] = mean(r.get(counter, 0.0) for r in by_name.get(span, []))
    for name in WORKLOAD_EXTRAS:
        out[name] = mean(base.extras.get(name, []) + window.extras.get(name, []))
    return out


def tracing_overhead(results: str, args, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end numbers, against the untraced
    run of the same workload and seed in this checkout, if there is one
    (run ``--trace 0`` first)."""
    path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
    try:
        with open(path) as f:
            plain = json.load(f)["result"]["metrics"]
    except (OSError, ValueError, KeyError):
        return None
    return {k: traced[k] - plain[k]["value"] for k in traced if k in plain}


def run(args) -> int:
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    import workloads
    from spans import Tracer

    out_dir = os.path.join(ROOT, ".perfbench")
    results = os.path.join(out_dir, "results")
    workdir = os.path.join(out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    os.makedirs(workdir)
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")

    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": MASTER,
            "host_before": host_info()}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(workdir)
        session_s = time.perf_counter() - t0
        info["spark"] = spark.version
        jvm = _jvm_pid(spark)
        wl = make_workload(args.workload, spark, workdir, args.seed, ProcessCpu(jvm),
                           earlier_records(results, args))

        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            reps.append(time.perf_counter() - t0)
        tracer = Tracer(spark, enabled=bool(args.trace),
                        sql_detail=tuple({k.rsplit(".", 1)[0] for k in SQL_EXTRAS}))
        t0 = time.perf_counter()
        base = wl.base(tracer)
        base_s = time.perf_counter() - t0
        info["setup"] = {"session_s": session_s, "prepare_s": reps, "base_s": base_s}

        window = wl.window(args.seconds, tracer)
        e2e = {
            "setup_s": session_s + statistics.median(reps) + base_s,
            **workloads.summarize(window),
            "peak_rss_mb": peak_rss_mb(jvm),
        }
        attempted = base.attempted + window.attempted
        failed = base.failed + window.failed
        failures = base.failures + window.failures
        info["window"] = {"calls": len(window.calls), "batches": window.batches,
                          "batch_cpu": window.batch_cpu, **base.record, **window.record}
        if args.trace:
            metrics = per_layer(tracer, base, window)
            units = per_layer_units()
            info["tracing_overhead"] = tracing_overhead(results, args, e2e)
            tracer.write(os.path.join(results, f"{args.workload}-seed{args.seed}-spans.json"),
                         {"traced_end_to_end": e2e, **info})
        else:
            metrics = e2e
            units = {k: (u, None) for k, u in END_TO_END.items()}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    info["host_after"] = host_info()
    info["failures"] = failures
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k][0]} for k in units},
    }
    with open(os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**info, "result": result}, f, indent=1)
    for line in failures:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
