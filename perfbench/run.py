"""Layered benchmark of prefix_filter_spark on local Spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload zipf_tokens --seed 1 --seconds 15 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` records spans around the benchmark's calls into each layer,
runs the build's twin jobs and prints the per-layer metrics; spans are
written to ``.bench_work/traces/``. The metric names, units and workloads
are those of ``BENCHMARK.json``; METHOD.md explains the method.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
holds the detail record (host facts, versions, every metric measured,
the failures). Exit status is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

from measure import (
    HostRecord,
    PeakRss,
    Tracer,
    check_cores,
    median,
    self_times,
    tail_percentile,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_SETUPS = 3
DRIVER_MEMORY = "3g"

# per-layer metric -> (span name, span it is counted per): the summed self
# time of the span, divided by the number of parent spans
SPAN_METRICS = {
    "sketches.base.collect_s": ("sketches.base.collect_states", "build"),
    "functions.register_s": ("functions.register_contains_udf", "build"),
    "sketches.base.partials_s": ("sketches.base.build_partials_multi", "suite"),
    "sketches.base.tree_merge_s": ("sketches.base.tree_merge", "suite"),
    "functions.sql_estimate_s": ("functions.sql_estimate", "suite"),
    "sources.iceberg.write_s": ("sources.iceberg.write_table", "append"),
    "sources.iceberg.update_index_s": ("sources.iceberg.update_table_index", "append"),
    "sources.file_index.hash_probe_keys_s": ("sources.file_index.hash_probe_keys", "lookup"),
    "sources.file_index.prune_files_s": ("sources.file_index.prune_files", "lookup"),
    "sources.file_index.read_s": ("sources.file_index.pruned_read", "lookup"),
}

# per-layer metrics that are medians of the run's samples
SAMPLE_METRICS = [
    "sketch_suite_s",
    "functions.probe_udf_s",
    "functions.probe_local_s",
    "spark.jobs_per_build",
    "spark.jobs_per_suite",
    "spark.jobs_per_lookup",
    "sources.file_index.files_read_per_lookup",
    "sources.iceberg.compact_s",
    "sources.iceberg.reindex_s",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--cores",
        type=int,
        default=len(os.sched_getaffinity(0)),
        help="Spark local[N] cores (default: every CPU in this process's affinity)",
    )
    return p.parse_args(argv)


def start_spark(args, work: str):
    from prefix_filter_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the library from this checkout, and every
    # scratch file Spark or Python writes stays under the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return get_spark(
        app_name=f"perfbench-{args.workload}",
        cores=args.cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file under the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def become_subreaper() -> None:
    """Have orphaned descendants (the JVM's Python workers) re-parented to
    this process instead of init, so that ``reap_children`` can end them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def child_pids() -> list[int]:
    me = os.getpid()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the fields after the parenthesised command: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(entry))
    return pids


def reap_children(grace_s: float = 10.0) -> None:
    """Terminate every child process that is left and wait for each to end."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        pids = child_pids()
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: left alone, the
    JVM only notices that its parent is gone after this process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:  # the JVM exits when its standard input closes
                proc.stdin.close()
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()


def span_metrics(tracer: Tracer) -> dict:
    st = self_times(tracer.spans)
    counts: dict[str, int] = {}
    for sp in tracer.spans:
        counts[sp.name] = counts.get(sp.name, 0) + 1
    out = {}
    for metric, (name, per) in SPAN_METRICS.items():
        if counts.get(per):
            out[metric] = sum(st.get(name, [])) / counts[per]
    return out


def settle(spark) -> None:
    """Collect garbage in the driver and the JVM before a round, so that
    a collection left over from the previous round does not land in it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def measure(spark, rss, workload_cls, args, work: str):
    """Set up, warm up, measure for ``args.seconds`` and check; returns
    (run, end-to-end metrics, per-layer metrics, details)."""
    from workloads import TRACED, Run

    tracer = Tracer(enabled=False)
    run = Run(spark, tracer, rss)
    wl = workload_cls(run, args.seed, work)

    setups = []
    for i in range(N_SETUPS):
        if i:
            wl.teardown_inputs()
        t0 = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t0)
        rss.sample()
    t0 = time.perf_counter()
    wl.prepare()
    t1 = time.perf_counter()
    wl.warm_up()
    t2 = time.perf_counter()
    run.samples.clear()
    rss.sample()

    deadline = t2 + args.seconds
    n = 0
    while n == 0 or time.perf_counter() < deadline or not wl.min_cycles_done():
        settle(spark)
        tracer.enabled = bool(args.trace) and n % 2 == 0
        wl.cycle(tracer.enabled)
        rss.sample()
        n += 1
    tracer.enabled = False
    t3 = time.perf_counter()

    e2e = wl.finish()
    rss.sample()
    e2e["setup_s"] = median(setups)
    lookups = run.samples["lookup_s"]
    if args.trace:  # end-to-end numbers are not reported from traced runs
        lookups = lookups + run.samples["lookup_s" + TRACED]
    lookups_ms = [s * 1e3 for s in lookups]
    e2e["lookup_p50_ms"] = median(lookups_ms)
    tail, pct, n_lookups = tail_percentile(lookups_ms)
    e2e["lookup_tail_ms"] = tail
    details = {
        "setup_runs_s": setups,
        "prepare_s": t1 - t0,
        "warm_up_s": t2 - t1,
        "measured_s": t3 - t2,
        "cycles": n,
        "lookup_tail_percentile": pct,
        "lookup_samples": n_lookups,
    }

    layers = {}
    if args.trace:
        layers.update(wl.layers())
        layers.update(span_metrics(tracer))
        for name in SAMPLE_METRICS:
            vals = run.samples.get(name) or run.samples.get(name + TRACED)
            if vals:
                layers[name] = median(vals)
        primary = wl.overhead_sample
        layers["trace.overhead_s"] = median(run.samples[primary + TRACED]) - median(
            run.samples[primary]
        )
        layers["trace.spans"] = float(len(tracer.spans))
    details["finish_s"] = time.perf_counter() - t3
    return run, e2e, layers, details


def main(argv=None) -> int:
    become_subreaper()
    # a termination request unwinds through the finally blocks below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run_benchmark(argv)
    finally:
        reap_children()


def run_benchmark(argv) -> int:
    args = parse_args(argv)
    host = HostRecord()
    try:
        check_cores(args.cores, host.affinity)
    except ValueError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import prefix_filter_spark  # noqa: F401
    except ImportError as e:
        print(
            f"perfbench: cannot import prefix_filter_spark from {ROOT} ({e}); "
            "run from the root of a checkout of the library",
            file=sys.stderr,
        )
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    result = None
    t0 = time.perf_counter()
    rss = PeakRss()
    spark = None
    try:
        spark = start_spark(args, work)
        session_s = time.perf_counter() - t0
        result = measure(spark, rss, WORKLOADS[args.workload], args, work)
    except Exception:
        traceback.print_exc()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    run, e2e, layers, details = result
    e2e["peak_rss_mb"] = rss.peak / 2**20

    if args.trace:
        trace_dir = os.path.join(bench_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(run.tracer.to_records(), f)

    import numpy
    import pyarrow
    import pyspark

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = layers if args.trace else e2e
    # a layer the workload never calls did no work: it reads 0
    metrics = {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": args.cores,
        "host": host.finish(),
        "versions": {
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "python": sys.version.split()[0],
        },
        "end_to_end": e2e,
        "per_layer": layers,
        "error_rate": run.failed / max(1, run.attempted),
        "samples": {
            k: {"n": len(v), "min": min(v), "median": median(v), "max": max(v),
                "all": v if len(v) < 50 else None}
            for k, v in run.samples.items()
            if v
        },
        "failures": run.failures,
        "session_s": session_s,
        "total_s": time.perf_counter() - t0,
        **details,
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
