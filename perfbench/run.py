#!/usr/bin/env python3
"""Service benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload replay_dup90 --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it records the environment and the run's
details. ``--smoke`` shrinks every input for a quick functional check.
Everything the run writes lives under ``perfbench/.work`` (removed at the
end) and, for traced runs, the span dump under ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pulsar_topic_deduplicator_spark"

UNITS = {"setup_s": "s", "throughput_msg_s": "1/s", "latency_p50_ms": "ms",
         "latency_p90_ms": "ms", "suite_wall_s": "s"}
SELF_LAYERS = ("session", "service", "source", "planning", "offset_log", "batch",
               "add_other", "state", "drain", "operators", "bench", "driver")


def per_layer_units(workload: str) -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit. The
    per-entry walls exist only on ``batch_dedup``."""
    from perfbench.workloads import BATCH_ENTRIES

    units = {
        "session.start_s": "s", "service.start_s": "s",
        "source.latest_offset_ms": "ms", "source.get_batch_ms": "ms",
        "source.ingest_msg_s": "1/s", "digest.ns_per_msg": "ns",
        "state.update_ms": "ms", "state.commit_ms": "ms",
        "state.rows_total": "count", "state.memory_bytes": "bytes",
        "state.rows_removed": "count", "dedup.forward_ratio": "ratio",
        "warmup.seed_eval_s": "s", "warmup.seeds": "count",
        "warmup.prior_rows": "count",
        "batch.count": "count", "batch.data_count": "count",
        "batch.rows_p50": "count",
    }
    for k in ("trigger", "plan", "add", "add_other", "wal", "commit"):
        units[f"batch.{k}_ms"] = "ms"
        units[f"batch.{k}_ms_total"] = "ms"
    units["batch.add_other_us_per_row"] = "us"
    units["drain.tail_s"] = "s"
    if workload == "batch_dedup":
        for name in BATCH_ENTRIES:
            units[f"entry.{name}_s"] = "s"
    units.update({"gen.late_max_ms": "ms", "proc.peak_rss_mb": "MB"})
    for layer in SELF_LAYERS:
        units[f"self.{layer}_s"] = "s"
    units.update({"trace.accounted_ratio": "ratio", "trace.overhead_ms": "ms",
                  "trace.suite_wall_s": "s", "failed_ratio": "ratio"})
    return units


def process_start_epoch() -> float:
    """Wall-clock time this process started, from ``/proc``."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


def source_digest() -> str:
    """sha256 over the program's source files: the code's identity where
    the checkout carries no git metadata."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(ROOT, PACKAGE)):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, cwd=ROOT)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def environment(spark, kernel: str) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "exact_kernel": kernel,
        "commit": git_commit(),
        "source_sha256": source_digest(),
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="small inputs")
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM at the
    run's work directory, and fix the session's size when unset."""
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    tool = os.environ.get("JAVA_TOOL_OPTIONS", "")
    # no hsperfdata file in the system temp directory either
    os.environ["JAVA_TOOL_OPTIONS"] = f"{tool} -Djava.io.tmpdir={work} -XX:-UsePerfData".strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    t_proc = process_start_epoch()
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    isolate(work)
    spark = None
    try:
        from perfbench.observe import ProgressLog, Tracer, peak_rss_mb
        from pulsar_topic_deduplicator_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.time()
        log = ProgressLog()
        spark.streams.addListener(log)
        tracer = Tracer(enabled=bool(args.trace), run=uuid.uuid4().hex)
        root = tracer.add("run", t_proc, t_proc, None, "driver")
        tracer.add("session", t_proc, t_session, root, "session")
        ctx = W.Ctx(spark, log, tracer, root, work, args.seed, args.seconds, args.smoke)
        out = W.WORKLOADS[args.workload](ctx)
        t_end = time.time()
        if root is not None:
            tracer.spans[root].end = t_end

        session_s = t_session - t_proc
        service_s = statistics.median(out.service_setup_s) if out.service_setup_s else 0.0
        lat = out.latency_ms
        e2e = {
            "setup_s": session_s + service_s,
            "throughput_msg_s": out.throughput_msg_s,
            "latency_p50_ms": W.p(lat, 50),
            "latency_p90_ms": W.p(lat, 90),
            "suite_wall_s": out.suite_wall_s,
        }
        if not out.detail.get("valid", True):
            print(f"perfbench: invalid run, the generator landed a file "
                  f"{out.detail['gen_late_max_ms']:.0f} ms late (limit "
                  f"{W.GEN_LATE_LIMIT_MS:.0f} ms)", file=sys.stderr)
            return 3
        if args.trace:
            units = per_layer_units(args.workload)
            layers = {k: 0.0 for k in units}
            layers.update(out.layers)
            layers["session.start_s"] = session_s
            layers["service.start_s"] = service_s
            layers["proc.peak_rss_mb"] = peak_rss_mb(spark)
            layers["failed_ratio"] = out.failed / out.attempted
            layers["trace.overhead_ms"] = tracer.cost_s * 1e3
            layers["trace.suite_wall_s"] = out.suite_wall_s
            selfs = tracer.self_times()
            for layer in SELF_LAYERS:
                layers[f"self.{layer}_s"] = selfs.get(layer, 0.0)
            layers["trace.accounted_ratio"] = 1 - selfs.get("driver", 0.0) / (t_end - t_proc)
            if args.workload != "batch_dedup":
                layers.update(W.probe_source_and_digest(ctx))
            if out.warm is not None:
                layers.update(W.probe_warmup(ctx, out.warm))
            tracer.dump(os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json"))
            metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
        else:
            metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in e2e.items()}
        print(json.dumps({"env": environment(spark, out.detail.get("kernel", "none")),
                          "workload": args.workload, "seed": args.seed,
                          "e2e": e2e, "detail": out.detail}, default=str))
        print(json.dumps({"correct": bool(out.correct), "attempted": int(out.attempted),
                          "failed": int(out.failed), "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
