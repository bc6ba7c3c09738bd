"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 6 --trace 0

From the repository root.  The last line of standard output is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  ``--workload all`` runs every workload in
turn and prints a table of every end-to-end metric.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"
SETUPS = 5  # setup_s is the median of this many set-ups
STEP_TIMEOUT_S = 60.0
DISK_CAP_MB = 4096.0

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    aborted: str | None = None


def run_pass(wl, ctx, watchdog, tally: Tally, tracer=None, step_times=None) -> tuple[float, dict, dict]:
    """Run every step once.  Returns (timed seconds, facts, step spans)
    and appends each step's seconds to ``step_times``; stops at the
    first step that raises or trips the watchdog."""
    from perfbench.guard import StepAborted

    total = 0.0
    facts: dict[str, dict] = {}
    spans = {}
    for step in wl.steps():
        tally.attempted += 1
        try:
            with watchdog.armed(step.name):
                t0 = time.perf_counter()
                if tracer is None:
                    facts[step.name] = step.run(ctx)
                else:
                    with tracer.span(step.name) as span:
                        facts[step.name] = step.run(ctx)
                    spans[step.name] = span
                dt = time.perf_counter() - t0
        except Exception as exc:  # a failing step ends the run, which still reports
            tally.failed += 1
            if watchdog.tripped or isinstance(exc, StepAborted):
                tally.aborted = watchdog.tripped or str(exc)
            else:
                tally.aborted = f"{step.name}: {type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"
                traceback.print_exc(file=sys.stderr)
            tally.problems.append(tally.aborted)
            ctx.spark.sparkContext.cancelAllJobs()
            raise
        total += dt
        if step_times is not None:
            step_times.setdefault(step.name, []).append(dt)
        problems = step.check(ctx, facts[step.name])
        if problems:
            tally.failed += 1
            tally.problems.extend(f"{step.name} (pass {ctx.pass_index}): {p}" for p in problems)
    return total, facts, spans


def median(values) -> float:
    return float(statistics.median(values))


def percentile_note(samples: list[float]) -> str:
    """The median plus the highest percentile with ten samples beyond it."""
    n = len(samples)
    best = None
    for p in (50, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    if best is None:
        return f"median of n={n}; no percentile has 10 samples beyond it, max {max(samples):.4f}"
    q = statistics.quantiles(samples, n=100)[best - 1] if best != 50 else statistics.median(samples)
    return f"median of n={n}; p{best} {q:.4f}"


def run_workload(name: str, seed: int, seconds: float, trace: bool, spark, conf_for):
    """Set up, run the cold pass and the timed passes of one workload.
    Returns (live session, metrics, tally, report lines)."""
    from datafusion_randgen_spark import add_udfs
    from perfbench import hostfit
    from perfbench.guard import Watchdog
    from perfbench.trace import EventLog, Tracer, self_time, step_fields
    from perfbench.workloads import WORKLOADS, Ctx, per_layer_metrics

    run_dir = WORK / f"{name}-{seed}-{os.getpid()}"
    data, out = run_dir / "data", run_dir / "out"
    shutil.rmtree(run_dir, ignore_errors=True)
    data.mkdir(parents=True)
    out.mkdir(parents=True)
    wl = WORKLOADS[name](seed)
    tally = Tally()
    lines: list[str] = []

    setups = []
    for _ in range(SETUPS):
        # stopping the previous session is not set-up: it waits up to
        # 0.5 s for PySpark's accumulator server to poll its shutdown flag
        spark.stop()
        t0 = time.perf_counter()
        spark = hostfit.start_session(conf_for(None))
        add_udfs(spark)
        wl.generate(data)
        for f in data.rglob("*.parquet"):  # page the inputs in
            f.read_bytes()
        setups.append(time.perf_counter() - t0)
    wl.prepare()

    watchdog = Watchdog(WORK, DISK_CAP_MB, STEP_TIMEOUT_S)
    ctx = Ctx(spark, data, out, seed)
    metrics: dict[str, float] = {}
    walls: list[float] = []
    step_times: dict[str, list[float]] = {}
    cold_times: dict[str, list[float]] = {}
    traced_walls: list[float] = []
    harness: list[float] = []  # traced passes' self time: the checks
    per_pass: list[dict[str, float]] = []

    def fresh_session(log_dir=None):
        nonlocal spark
        spark = hostfit.restart_session(spark, conf_for(log_dir))
        add_udfs(spark)
        ctx.spark = spark

    def warm_up():
        for _ in range(wl.warmup_passes):  # untimed, but checked
            ctx.pass_index += 1
            run_pass(wl, ctx, watchdog, tally)

    try:
        cold, _, _ = run_pass(wl, ctx, watchdog, tally, step_times=cold_times)
        if trace:
            # untraced and traced passes both start in a fresh session, so
            # their difference is the tracing overhead alone
            fresh_session()
        warm_up()
        budget = seconds / 2 if trace else seconds
        start = time.perf_counter()
        while not walls or time.perf_counter() - start < budget:  # passes start until the time is spent
            ctx.pass_index += 1
            walls.append(run_pass(wl, ctx, watchdog, tally, step_times=step_times)[0])
        if trace:
            log_dir = run_dir / "eventlog"
            log_dir.mkdir()
            fresh_session(log_dir)
            warm_up()
            tracer = Tracer(f"{name}-{seed}", spark.sparkContext)
            pass_spans = []
            start = time.perf_counter()
            while not traced_walls or time.perf_counter() - start < seconds / 2:
                ctx.pass_index += 1
                with tracer.span("pass"):
                    wall, facts, spans = run_pass(wl, ctx, watchdog, tally, tracer)
                traced_walls.append(wall)
                pass_spans.append((spans, facts))
            harness = [self_time(s, tracer.spans) for s in tracer.spans if s.name == "pass"]
            with tracer.span("traced_counts"):
                counts = wl.traced_counts(ctx, facts)
            persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
            fresh_session()  # stopping the traced session flushes its event log
            tracer.write(WORK / "traces" / f"{name}-{seed}.spans.json")
            log = EventLog.load(log_dir)
            for spans, facts in pass_spans:
                row = {f"{n}.{k}": v for n, s in spans.items() for k, v in step_fields(s, log).items()}
                row.update(wl.log_metrics(spans, log, facts))
                per_pass.append(row)
            layer = {k: 0.0 for k in per_layer_metrics()}
            for k in per_pass[0]:
                layer[k] = median(r[k] for r in per_pass)
            layer.update(counts)
            layer["pinning.persisted_rdds"] = float(persisted)
            layer["trace.overhead_share"] = median(traced_walls) / median(walls) - 1.0
            metrics = layer
    except Exception:
        if tally.aborted is None:
            raise

    if not trace and walls:
        pids = [os.getpid()] + [p for p in [hostfit.jvm_pid(spark)] if p]
        wall = median(walls)
        metrics = {
            "setup_s": median(setups),
            "cold_s": cold,
            "wall_s": wall,
            "rows_per_s": wl.input_rows() / wall,
            "peak_rss_mb": hostfit.peak_rss_mb(pids),
        }
        lines.append(f"{name}: wall_s {percentile_note(walls)}: " + ", ".join(f"{x:.3f}" for x in walls))
        lines.append(f"{name}: setup_s median of " + ", ".join(f"{x:.3f}" for x in setups))
        lines.extend(f"  {step} {median(ts):.3f} s, cold {cold_times[step][0]:.3f} s" for step, ts in step_times.items())
    if trace and harness:
        lines.append(f"{name}: traced passes {percentile_note(traced_walls)}; untraced {percentile_note(walls)}")
        lines.append(f"{name}: pass self time outside the steps (checks) median {median(harness):.3f} s")
    lines.append(f"{name}: peak scratch disk {watchdog.peak_disk_mb:.0f} MB, cap {DISK_CAP_MB:.0f} MB")
    share = tally.failed / max(1, tally.attempted)
    lines.append(f"{name}: correctness {tally.attempted - tally.failed}/{tally.attempted} steps correct, failed_share {share:.4f}")
    lines.extend(f"  FAILED {p}" for p in tally.problems)
    shutil.rmtree(run_dir, ignore_errors=True)
    return spark, metrics, tally, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import datafusion_randgen_spark  # noqa: F401  the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2
    from datafusion_randgen_spark import add_udfs
    from perfbench import hostfit
    from perfbench.workloads import WORKLOADS, per_layer_metrics

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; choose from {', '.join(WORKLOADS)} or all", file=sys.stderr)
        return 2

    hostfit.prepare_environment(ROOT, WORK)
    fit = hostfit.HostFit.detect()
    conf_for = lambda log_dir: hostfit.session_conf(fit, WORK, log_dir)  # noqa: E731
    spark = hostfit.start_session(conf_for(None))
    try:
        # the JVM launch, the first job and the first add_udfs (imports)
        # stay outside every metric
        spark.range(1).collect()
        add_udfs(spark)
        host = {"cores": fit.cores, "heap_mb": fit.heap_mb, "shuffle_partitions": fit.shuffle_partitions, **hostfit.versions(spark)}
        print("host: " + json.dumps(host))
        metrics: dict[str, dict] = {}
        attempted = failed = 0
        for name in names:
            spark, values, tally, lines = run_workload(name, args.seed, args.seconds, bool(args.trace), spark, conf_for)
            for line in lines:
                print(line)
            units = per_layer_metrics() if args.trace else END_TO_END
            prefix = f"{name}." if len(names) > 1 else ""
            for k, v in values.items():
                metrics[prefix + k] = {"value": v, "unit": units[k]}
                if not args.trace:
                    print(f"{name}: {k} = {v:.6g} {units[k]}")
            attempted += tally.attempted
            failed += tally.failed
            record = {"workload": name, "seed": args.seed, "trace": args.trace, "host": host, "metrics": values, "problems": tally.problems}
            (WORK / "results").mkdir(parents=True, exist_ok=True)
            (WORK / "results" / f"{name}-{args.seed}-trace{args.trace}.json").write_text(json.dumps(record, indent=1))
    finally:
        hostfit.shutdown(spark)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
