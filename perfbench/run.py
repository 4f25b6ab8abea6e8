"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload recommend --seed 1 --seconds 5 --trace 0

From the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
metrics with ``--trace 1``). A human-readable report goes to standard
error, and the full report (plus the spans of a traced run) to
``.perfbench_out/``. The exit code is 1 when a correctness gate fails and
2 when the engine cannot be imported or started.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import check_metric_name  # noqa: E402
from perfbench.trace import AppCpu, Recorder, SparkProbe, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402

# 15 GB host shared with other jobs: the engine's 48g default is sized for
# a large box; 4g holds every workload here with room to spare
DRIVER_MEM = "4g"
PREPARE_REPEATS = 3
HARD_LIMIT_S = 160  # leaves time to stop the JVM inside a 180 s budget
LAYER_FIELDS = ("calls", "wall_s", "jobs", "task_busy_s", "driver_gap_s", "shuffle_write_bytes")
# every layer span the traced run reports, whichever workload exercises it
LAYERS = (
    "recsys.train_als", "recsys.predict_evaluate", "sources.readers", "operators.stats",
    "catalog.relational", "operators.dedup", "operators.similarity", "operators.textops",
    "streaming.jobs", "sources.snapshot_sink",
    "sources.snapshot_table.merge_upsert", "sources.snapshot_table.delete_where",
    "sources.snapshot_table.update_where", "sources.snapshot_table.compact_table",
    "sources.snapshot_table.read_cdc", "sources.snapshot_table.read_snapshot",
    "sources.materialized_view.refresh.fold", "sources.materialized_view.refresh.noop",
)
# per-layer counters and ratios a workload measures besides its spans;
# a traced run of a workload that does not exercise one reports 0
EXTRA_METRICS = {
    "sources.snapshot_sink.batches": "count",
    "sources.snapshot_sink.trigger_ms": "ms",
    "sources.snapshot_sink.add_batch_ms": "ms",
    "sources.snapshot_sink.wal_commit_ms": "ms",
    "sources.snapshot_table.bytes_written_per_changed_byte": "ratio",
    "sources.snapshot_table.space_amp": "ratio",
    "sources.snapshot_table.versions_per_job": "count",
    "sources.materialized_view.rows_read_per_changed_row": "ratio",
    "operators.similarity.lsh_recall_at_k": "ratio",
}


class HardDeadline(BaseException):
    """The whole run passed its time limit."""


def _on_alarm(_sig, _frame):
    raise HardDeadline(f"run exceeded {HARD_LIMIT_S}s")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def private_dirs(workload: str, seed: int) -> tuple[str, str]:
    """Work and output directories inside the checkout; temp files of the
    engine, Spark and the JVM all land in the work directory."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    return work, out


def start_spark(cores: int):
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    from svdmovie_lens_parallel_apache_spark_spark import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def calibration_kernel(spark) -> float:
    """Pure-JVM CPU kernel (xxhash64 over a range, no I/O, no shuffle):
    moves with the CPU speed the host gives the run, not with its I/O."""
    from pyspark.sql import functions as F

    t = time.time()
    spark.range(0, 60_000_000, 1, 16).select(F.expr("bit_xor(xxhash64(id))")).collect()
    return time.time() - t


def environment(spark, cores: int) -> dict:
    jvm = spark.sparkContext._jvm
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "nproc": cores,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "blas": jvm.dev.ludovic.netlib.blas.BLAS.getInstance().getClass().getName(),
    }


def layer_table(rec: Recorder) -> dict[str, dict]:
    """Per layer: calls, wall, Spark jobs, executor busy time, driver gap,
    shuffle-write bytes and failed calls, summed over its spans, and the
    number of top-level spans (jobs or passes) its calls ran under."""
    table = {name: dict.fromkeys(LAYER_FIELDS + ("failed", "self_s", "roots"), 0)
             for name in LAYERS}
    selfs = self_times(rec.spans)
    by_id = {sp.span_id: sp for sp in rec.spans}
    roots: dict[str, set] = {}
    for sp in rec.spans:
        row = table.get(sp.name)
        if row is None:
            continue
        root = sp
        while root.parent is not None:
            root = by_id[root.parent]
        roots.setdefault(sp.name, set()).add(root.span_id)
        row["calls"] += 1
        row["wall_s"] += sp.end - sp.start
        row["self_s"] += selfs[sp.span_id]
        row["failed"] += int(sp.failed)
        for k in ("jobs", "task_busy_s", "driver_gap_s", "shuffle_write_bytes"):
            row[k] += sp.counts.get(k, 0)
    for name, ids in roots.items():
        table[name]["roots"] = len(ids)
    return table


def per_call(row: dict) -> dict[str, float]:
    """A layer's per-layer metrics: ``calls`` per job (or per analytics
    pass), every other field per call. Neither depends on how many jobs
    fit in the loop, so a faster job does not read as more work."""
    if not row["calls"]:
        return dict.fromkeys(LAYER_FIELDS, 0)
    out = {k: row[k] / row["calls"] for k in LAYER_FIELDS}
    out["calls"] = row["calls"] / row["roots"]
    return out


def layer_shares(spans) -> dict[str, dict[str, float]]:
    """For each top-level span (a job, or the analytics pass), the share
    of its wall time spent in each layer called directly under it."""
    roots = {sp.span_id: sp for sp in spans if sp.parent is None}
    walls: dict[str, float] = {}
    inside: dict[str, dict[str, float]] = {}
    for sp in roots.values():
        walls[sp.name] = walls.get(sp.name, 0.0) + sp.end - sp.start
    for sp in spans:
        if sp.parent in roots:
            by = inside.setdefault(roots[sp.parent].name, {})
            by[sp.name] = by.get(sp.name, 0.0) + sp.end - sp.start
    return {root: dict(sorted(((k, v / walls[root]) for k, v in by.items()),
                              key=lambda kv: -kv[1]))
            for root, by in inside.items() if walls[root] > 0}


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(HARD_LIMIT_S)
    work, out_dir = private_dirs(args.workload, args.seed)
    cores = nproc()
    spark = None
    try:
        t0 = time.time()
        try:
            spark = start_spark(cores)
        except Exception as exc:  # no engine in this directory, or no JVM
            print(f"perfbench: cannot start the engine: {exc!r}", file=sys.stderr)
            return 2
        session_s = time.time() - t0
        return run(args, spark, cores, work, out_dir, session_s)
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run(args, spark, cores: int, work: str, out_dir: str, session_s: float,
        workload=None) -> int:
    """Set up, warm up, run the closed loop, check, report. ``workload``
    replaces the named workload's default instance (tests use it)."""
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"

    def cancel():
        for q in spark.streams.active:
            q.stop()
        spark.sparkContext.cancelAllJobs()

    cpu = AppCpu(os.getpid())
    workload = workload or WORKLOADS[args.workload]()
    setup_rec = Recorder(run_id, cancel=cancel, cpu=cpu)
    rec = Recorder(run_id, probe=SparkProbe(spark) if args.trace else None, cancel=cancel,
                   cpu=cpu)
    ctx = Ctx(spark, setup_rec, args.seed, work, cpu)
    try:
        timing, kernel_s, extras = measure(args, workload, ctx, rec, session_s)
        errors = workload.gate(ctx)
    except Exception as exc:  # a set-up step or a check failed: no figures
        timing, kernel_s, extras = None, [], {}
        errors = [f"{args.workload}: run aborted: {exc!r}"]
    errors = [f"{c.layer}: call failed" for c in setup_rec.calls if not c.ok] + errors
    # every call counts: the loop's, and the untimed ones of set-up, gates and probes
    calls = setup_rec.calls + rec.calls
    attempted = len(calls)
    failed = sum(not c.ok for c in calls)
    if timing is None:
        for e in errors:
            print(f"# GATE FAILED: {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": max(attempted, 1), "failed": failed,
                          "metrics": {}}))
        return 1
    job_walls, job_cpus, loop_s, setup = timing
    setup_s = setup["session_s"] + statistics.median(setup["prepare_s"]) + setup["warmup_s"]

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_id": run_id, "environment": environment(spark, cores),
        "closed_loop_clients": 1, "jobs": len(job_walls), "job_walls": job_walls,
        "job_cpus": job_cpus,
        "loop_s": loop_s,
        "setup": setup,
        "kernel_s": kernel_s,
        "errors": errors,
        "ops_failed_ratio": failed / attempted if attempted else 1.0,
        "named": workload.report(ctx),
        "call_medians": call_medians(rec.calls),
    }
    if args.trace:
        metrics = {}
        table = layer_table(rec)
        for layer, row in table.items():
            for k, v in per_call(row).items():
                unit = "s" if k.endswith("_s") else ("B" if k.endswith("bytes") else "count")
                metrics[f"{layer}.{k}"] = {"value": v, "unit": unit}
        for name, unit in EXTRA_METRICS.items():
            metrics[name] = {"value": extras.get(name, (0, unit))[0], "unit": unit}
        metrics["host.kernel_s"] = {"value": statistics.median(kernel_s), "unit": "s"}
        metrics["trace.overhead_ratio"] = {"value": rec.overhead_s / loop_s, "unit": "ratio"}
        report["layers"] = table
        report["layer_shares"] = layer_shares(rec.spans)
        # every ratio with its base
        report["ratios"] = {k: {"value": v, "unit": u} for k, (v, u) in extras.items()}
        report["trace_overhead"] = tracing_overhead(out_dir, args, job_walls, job_cpus, rec,
                                                    loop_s)
        rec.write_spans(os.path.join(out_dir, f"spans-{run_id}.jsonl"))
    else:
        main_walls, main_cpus = workload.main_step(rec)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "job_cpu_s": {"value": statistics.median(job_cpus), "unit": "s"},
            "main_step_cpu_s": {"value": statistics.median(main_cpus or job_cpus),
                                "unit": "s"},
        }
        # wall times, for the reader: the host's CPU steal makes them too
        # unsteady between runs to bound
        for name, xs in (("job_wall_s", job_walls), ("main_step_wall_s", main_walls or job_walls)):
            report["named"][name] = {"value": statistics.median(xs), "unit": "s", "n": len(xs),
                                     "note": ""}
    for name in metrics:
        check_metric_name(name)
    report["metrics"] = metrics
    with open(os.path.join(out_dir, f"report-{run_id}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True, default=str)
        f.write("\n")
    print_report(report)
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def call_medians(calls) -> dict[str, dict]:
    """Per layer, the median wall and CPU seconds of its successful calls."""
    by: dict[str, list] = {}
    for c in calls:
        if c.ok:
            by.setdefault(c.layer, []).append(c)
    return {layer: {"n": len(cs), "wall_s": statistics.median(c.wall for c in cs),
                    "cpu_s": statistics.median(c.cpu_s for c in cs)}
            for layer, cs in by.items()}


def measure(args, workload, ctx, rec, session_s: float):
    """Set-up (timed apart), then the closed loop: jobs until ``--seconds``
    have passed and at least the workload's ``min_jobs`` have run."""
    prepare_s = []
    for _ in range(PREPARE_REPEATS):
        t = time.time()
        workload.prepare(ctx)
        prepare_s.append(time.time() - t)
    t = time.time()
    workload.warmup(ctx)
    ctx.isolate()
    warmup_s = time.time() - t

    ctx.rec = rec
    if hasattr(workload, "start_loop"):
        workload.start_loop()
    # host-speed samples before and after the loop (traced runs only)
    kernel_s = [ctx.untimed("host.kernel", calibration_kernel, ctx.spark)] if args.trace else []
    job_walls: list[float] = []
    job_cpus: list[float] = []
    loop_t0 = time.time()
    while len(job_walls) < workload.min_jobs or time.time() - loop_t0 < args.seconds:
        ctx.isolate_s = ctx.isolate_cpu_s = 0.0
        t, c = time.time(), ctx.cpu()
        with rec.span(f"{args.workload}.job"):
            workload.job(ctx)
        # session resets between a job's operations are bookkeeping
        job_walls.append(time.time() - t - ctx.isolate_s)
        job_cpus.append(ctx.cpu() - c - ctx.isolate_cpu_s)
        ctx.isolate()
    loop_s = time.time() - loop_t0
    if hasattr(workload, "finish"):
        workload.finish(ctx)
    if args.trace:
        kernel_s.append(ctx.untimed("host.kernel", calibration_kernel, ctx.spark))
    extras = workload.layer_extras(ctx) if args.trace else {}
    setup = {"session_s": session_s, "prepare_s": prepare_s, "warmup_s": warmup_s}
    return (job_walls, job_cpus, loop_s, setup), kernel_s, extras


def tracing_overhead(out_dir, args, job_walls, job_cpus, rec, loop_s) -> dict:
    """Tracer bookkeeping as a share of the loop, and the job wall and CPU
    gaps against the latest untraced run of the same workload and seed."""
    out = {"bookkeeping_s": rec.overhead_s, "bookkeeping_ratio": rec.overhead_s / loop_s}
    prior = []
    for name in os.listdir(out_dir):
        if name.startswith(f"report-{args.workload}-{args.seed}-") and name.endswith(".json"):
            with open(os.path.join(out_dir, name)) as f:
                r = json.load(f)
            if r.get("trace") == 0 and "job_cpu_s" in r.get("metrics", {}):
                prior.append((os.path.getmtime(os.path.join(out_dir, name)), r))
    if prior:
        untraced = max(prior, key=lambda p: p[0])[1]
        for key, traced, before in (
                ("job_wall_s", job_walls, untraced["named"]["job_wall_s"]["value"]),
                ("job_cpu_s", job_cpus, untraced["metrics"]["job_cpu_s"]["value"])):
            out[f"{key}_untraced"] = before
            out[f"{key}_traced"] = statistics.median(traced)
            out[f"{key}_gap_ratio"] = statistics.median(traced) / before - 1.0
    return out


def print_report(report: dict) -> None:
    err = sys.stderr
    print(f"# perfbench {report['workload']} seed={report['seed']} "
          f"jobs={report['jobs']} loop={report['loop_s']:.2f}s "
          f"ops_failed_ratio={report['ops_failed_ratio']:.4f}", file=err)
    print(f"# environment {json.dumps(report['environment'], sort_keys=True)}", file=err)
    for name, m in sorted(report["named"].items()):
        note = f" ({m['note']})" if m.get("note") else ""
        print(f"#   {name} = {m['value']:.6g} {m['unit']}  n={m['n']}{note}", file=err)
    for name, m in sorted(report["metrics"].items()):
        if not report["trace"] or m["value"]:
            print(f"#   {name} = {m['value']:.6g} {m['unit']}", file=err)
    for root, shares in report.get("layer_shares", {}).items():
        print(f"# layer share of {root}: " + ", ".join(
            f"{name} {share:.0%}" for name, share in shares.items()), file=err)
    if report.get("trace_overhead"):
        print(f"# trace overhead {json.dumps(report['trace_overhead'], sort_keys=True)}",
              file=err)
    for e in report["errors"]:
        print(f"# GATE FAILED: {e}", file=err)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except HardDeadline as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        sys.exit(3)
