"""Layered benchmark for lachesis-spark: one workload per run.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 5 --trace 0

One driver process on ``local[nproc]``.  The run sets up (session start,
seeded input generation -- repeated, median counted -- one untimed warm pass
and one untimed settle pass), checks the warm pass's outputs, then runs
timed passes until ``--seconds`` have elapsed (the pass in flight
completes).  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and the
metrics -- end-to-end ones with ``--trace 0``, per-layer ones with
``--trace 1``.  A traced run alternates untraced and traced passes, so it
also states the tracing overhead.  Everything the run writes goes under
``.perfbench_work/`` in the repository root; spans and the full result are
kept there, generated data is removed.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREP_REPS = 3
# untimed passes after the warm pass: the JVM's JIT keeps speeding a pass up
# by ~20% between the first and second repeat, and little after that
SETTLE_PASSES = 1
DEADLINE_S = 160  # the run must end within 180 s, JVM shutdown included

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_p50_ms": "ms", "query_tail_ms": "ms",
}
PER_LAYER = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "binding.calls": "count", "binding.busy_s": "s", "binding.share": "ratio",
    "binding.reuse_ratio": "ratio",
    "registry.build_s": "s", "registry.build_jobs": "count",
    "operators.core.barrier_calls": "count", "operators.core.barrier_s": "s",
    "spark.plan_s": "s", "spark.exec_s": "s", "spark.exchanges": "count",
    "spark.sql_executions": "count", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_memory_bytes": "bytes",
    "streaming.rows_per_s": "1/s", "streaming.batch_p50_ms": "ms",
    "streaming.batch_max_ms": "ms", "streaming.build_s": "s", "streaming.run_s": "s",
    "query.build_s": "s",
    "catalog.write_s": "s", "catalog.bytes_written": "bytes",
    "catalog.files_written": "count", "catalog.read_set_calls": "count",
    "catalog.read_set_s": "s", "catalog.stored_bytes_ratio": "ratio",
    "advisor.record_s": "s", "advisor.advise_s": "s", "advisor.apply_s": "s",
    "advisor.actions_applied": "count", "advisor.placement_s": "s",
    "trace.overhead_s": "s", "trace.coverage_min": "ratio",
}
# span name -> (self-time metric, call-count metric)
SPAN_METRICS = {
    "binding.base_table": ("binding.busy_s", "binding.calls"),
    "registry.build": ("registry.build_s", None),
    "operators.core.barrier": ("operators.core.barrier_s", "operators.core.barrier_calls"),
    "spark.plan": ("spark.plan_s", None),
    "spark.exec": ("spark.exec_s", None),
    "query.build": ("query.build_s", None),
    "streaming.build": ("streaming.build_s", None),
    "streaming.run": ("streaming.run_s", None),
    "catalog.write_set": ("catalog.write_s", None),
    "catalog.read_set": ("catalog.read_set_s", "catalog.read_set_calls"),
    "advisor.record": ("advisor.record_s", None),
    "advisor.advise": ("advisor.advise_s", None),
    "advisor.apply": ("advisor.apply_s", None),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def set_environment(work: str) -> None:
    """Keep every file the JVM, Spark and Python write inside ``work``, and
    make the package importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the launcher's too: no hsperfdata files, temp files in work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def stamp(args) -> dict:
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "commit": commit, "host": socket.gethostname()}


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident set of the driver JVM plus this process."""
    total = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tail(xs: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest of p90/p75/p50 with at least ten
    samples beyond it, else p90 (the output then says how few lie beyond)."""
    n = len(xs)
    for p in (90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            break
    else:
        p = 90
    if n < 2:
        return (xs[0] if xs else 0.0), p
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1], p


def coverage(tracer) -> dict[str, float]:
    """Per operation (root span): the share of its wall time covered by the
    self times of the layer spans that per-layer metrics report."""
    covered: dict[str, float] = {}
    for s in tracer.spans:
        if s.name in SPAN_METRICS:
            covered[s.qid] = covered.get(s.qid, 0.0) + s.self_s
    return {r.qid: covered.get(r.qid, 0.0) / r.dur
            for r in tracer.spans if r.parent < 0 and r.dur > 0}


def layer_metrics(tracer, wl, traced_passes: list[int], pass_s: dict[int, float],
                  session_s: float) -> dict[str, float]:
    """Median over traced passes of each per-layer metric."""
    cov = coverage(tracer)
    per_pass: list[dict] = []
    for i, acc in zip(traced_passes, wl.layers):
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update({k: v for k, v in acc.items() if k in m})
        for s in tracer.spans:
            if s.name in SPAN_METRICS and s.qid.startswith(f"p{i}:"):
                busy, calls = SPAN_METRICS[s.name]
                m[busy] += s.self_s
                if calls:
                    m[calls] += 1
        if m["binding.calls"]:
            m["binding.reuse_ratio"] = 1 - acc.get("binding.distinct", 0) / m["binding.calls"]
        m["binding.share"] = m["binding.busy_s"] / acc["pass_s"]
        m["trace.coverage_min"] = min(
            (v for q, v in cov.items() if q.startswith(f"p{i}:")), default=0.0)
        per_pass.append(m)
    out = {k: statistics.median(p[k] for p in per_pass) for k in PER_LAYER}
    out["session.start_s"] = session_s
    # each traced pass lies between two untraced ones; comparing it with
    # their mean cancels the drift of pass time over a run
    out["trace.overhead_s"] = statistics.median(
        pass_s[i] - (pass_s[i - 1] + pass_s[i + 1]) / 2 for i in traced_passes)
    return out


def run(args, work: str) -> dict:
    from lachesis_spark.session import get_spark
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    info = stamp(args)
    info["sf"] = args.sf or WORKLOADS[args.workload].sf
    print("# perfbench " + json.dumps(info), flush=True)

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    session_s = time.perf_counter() - t0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        tracer = Tracer()
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, bool(args.trace), args.sf)
        prep = []
        for _ in range(PREP_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        for i in range(SETTLE_PASSES):
            wl.run_pass(i)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep) + warm_s
        wl.check()

        lat: list[float] = []
        pass_s: dict[int, float] = {}
        traced: list[int] = []
        start = time.perf_counter()
        ticks0 = cpu_ticks()
        i = SETTLE_PASSES
        while True:
            on = bool(args.trace) and (i - SETTLE_PASSES) % 2 == 1
            tracer.enabled = on
            if on:
                wl.install()
                traced.append(i)
            t0 = time.perf_counter()
            try:
                got = wl.run_pass(i)
            finally:
                tracer.restore()
                tracer.enabled = False
            pass_s[i] = time.perf_counter() - t0
            if not on:
                lat.extend(got)
            i += 1
            # a traced run ends on an untraced pass, so every traced pass
            # has an untraced one on each side
            if time.perf_counter() - start >= args.seconds and (
                    not args.trace or (traced and not on)):
                break

        stolen, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        untraced = [v for k, v in pass_s.items() if k not in traced]
        tail_v, tail_p = tail(lat)
        e2e = {
            "setup_s": setup_s,
            "pass_s": statistics.median(untraced),
            "query_p50_ms": statistics.median(lat) * 1e3 if lat else 0.0,
            "query_tail_ms": tail_v * 1e3,
        }
        rss = peak_rss_mb(jvm_pid)
        detail = {
            "setup": {"session_s": session_s, "prep_s": prep, "warm_s": warm_s},
            "peak_rss_mb": rss,
            "passes": len(pass_s), "pass_s": pass_s, "samples": len(lat),
            "latencies_s": lat,
            "tail_percentile": tail_p,
            "beyond_tail": sum(1 for x in lat if x > tail_v),
            "failed_frac": wl.ledger.failed / max(1, wl.ledger.attempted),
            # share of the VM's CPU time the hypervisor gave to other guests
            # during the timed passes; a contended host inflates every time
            "steal_frac": stolen / max(1, total),
            "errors": wl.ledger.errors[:20],
        }
        if args.trace:
            metrics = layer_metrics(tracer, wl, traced, pass_s, session_s)
            metrics["session.peak_rss_mb"] = rss
            tracer.dump(os.path.join(work, "spans.json"))
            detail["spans"] = len(tracer.spans)
            detail["nesting_ok"] = tracer.nesting_ok()
            detail["coverage"] = coverage(tracer)
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        return {"stamp": info, "detail": detail, "end_to_end": e2e,
                "correct": wl.ledger.failed == 0, "attempted": wl.ledger.attempted,
                "failed": wl.ledger.failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["queries", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, help="scale factor (default: the workload's own)")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be non-negative")

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    set_environment(work)
    sys.path.insert(0, ROOT)
    try:
        import lachesis_spark.registry  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    def on_alarm(_sig, _frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        res = run(args, work)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        for d in ("data", "catalog", "replay", "warm", "local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    d = res["detail"]
    for k, v in res["end_to_end"].items():
        print(f"# {k} = {v:.6g} {END_TO_END[k]}")
    print(f"# query_tail_ms is p{d['tail_percentile']} of {d['samples']} samples "
          f"({d['beyond_tail']} beyond); {d['passes']} passes; "
          f"failed_frac = {d['failed_frac']:.4g} ({res['failed']}/{res['attempted']}); "
          f"host steal {d['steal_frac']:.3f} of CPU time while timed")
    for e in d["errors"]:
        print(f"# failed: {e}")
    print(f"# details: {os.path.relpath(os.path.join(work, 'result.json'), ROOT)}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
