"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload hpo_short_trials --seed 1 --seconds 15 --trace 0

Run from the repository root. The program under test is the
`maggy_spark` package next to this directory. One process starts one
Spark session on `local[<cores>]`, runs an untimed warm-up unit, then
timed units until `--seconds` would be exceeded, checks every unit's
output and prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics named in
BENCHMARK.json; with `--trace 1` the per-layer metrics. A traced run
enables Spark's event log, instruments every other unit and writes its
spans to `.perfbench_out/`. Everything else a run writes (experiment
log dirs, event log, Spark local dirs, corpus tables) lives under
`.perfbench_tmp/` and is removed at exit. `perfbench/spec.json` records
what each workload and metric means.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "smoke"), default="bench",
                   help="input size; smoke is for the benchmark's own tests")
    return p.parse_args(argv)


def start_session(tmp: Path, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    for sub in ("local", "warehouse", "java", "python", "eventlog"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    # Python workers and the JVM inherit these: nothing lands in /tmp,
    # and an inherited SPARK_LOCAL_DIRS cannot override spark.local.dir
    os.environ["TMPDIR"] = str(tmp / "python")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    import tempfile

    tempfile.tempdir = None
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.adaptive.enabled", "true")
        # AQE's empty-relation rule races query-stage completion: with it
        # pl13 ran 80 or 81 jobs from pass to pass, without it 82 every
        # time, and job counts are the statistics of record
        .config("spark.sql.adaptive.optimizer.excludedRules",
                "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", 10000)
        .config("spark.ui.retainedStages", 20000)
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp / 'java'}")
        .config("spark.local.dir", str(tmp / "local"))
        .config("spark.sql.warehouse.dir", str(tmp / "warehouse"))
    )
    if trace:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", str(tmp / "eventlog"))
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a reading of the machine's load beside the wall-clock metrics."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))


def peak_rss_mb(spark) -> float:
    """Driver JVM VmHWM plus this process's ru_maxrss, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


class UnitRunner:
    """Runs and checks units, counting attempts and failed units."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = 0
        self.failed: set[str] = set()

    def run(self, unit_id: str, instrument=None, warmup: bool = False):
        """The unit, or None when it raised or failed its output check."""
        self.attempted += 1
        try:
            unit = self.workload.run_unit(f"perfbench:{unit_id}", instrument, warmup)
        except Exception:  # noqa: BLE001 - a unit that raises is a failed operation
            print(f"perfbench FAIL {unit_id} raised:\n{traceback.format_exc()}", file=sys.stderr)
            self.failed.add(unit_id)
            return None
        errors = self.workload.check(unit)
        for e in errors:
            print(f"perfbench FAIL {unit_id}: {e}", file=sys.stderr)
        if errors:
            self.failed.add(unit_id)
            return None
        return unit


def measure(runner: UnitRunner, seconds: float, tracer) -> tuple[list, list]:
    """Timed units while the next one is expected to end within
    `seconds`, and at least the workload's `min_units`. A traced run
    instruments every other unit, starting with the first, and runs at
    least two. Units still speed up for a while after the warm-up, so
    instrumenting first errs towards overstating the tracing overhead.
    Returns (plain, instrumented) lists of (unit id, unit) for the units
    that passed their checks."""
    import tracing

    plain, instrumented = [], []
    began = time.time()
    spent: list[float] = []
    min_units = max(runner.workload.min_units, 2 if tracer is not None else 1)
    while len(spent) < min_units or time.time() - began + statistics.median(spent) <= seconds:
        unit_id = f"u{len(spent)}"
        t = time.time()
        if tracer is not None and len(spent) % 2 == 0:
            with tracer.unit(unit_id):
                try:
                    unit = runner.run(unit_id, lambda opt: tracing.instrument_engine(tracer, opt))
                finally:
                    tracer.unwrap_all()
            if unit is not None:
                instrumented.append((unit_id, unit))
        else:
            unit = runner.run(unit_id)
            if unit is not None:
                plain.append((unit_id, unit))
        spent.append(time.time() - t)
    return plain, instrumented


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "maggy_spark" / "__init__.py").is_file():
        print(f"perfbench: no maggy_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import tracing
    import workloads

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec = json.loads((BENCH_DIR / "spec.json").read_text())
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    size = workloads.SIZES[args.size]
    cores = len(os.sched_getaffinity(0))
    tmp = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"
    spark = None
    try:
        spark = start_session(tmp, cores, traced)
        t_session = time.time()
        cls = workloads.WORKLOADS[args.workload]
        kwargs = {"pinned": spec["fingerprints"][args.size]} if cls is workloads.CorpusBuildCold else {}
        wl = cls(spark, str(tmp), args.seed, size, cores, **kwargs)
        wl.prepare()
        t_inputs = time.time()
        runner = UnitRunner(wl)
        runner.run("warmup", warmup=True)
        setup_s = time.time() - PROCESS_START
        setup_parts = (f"session={t_session - PROCESS_START:.1f}s inputs={t_inputs - t_session:.1f}s "
                       f"warmup={PROCESS_START + setup_s - t_inputs:.1f}s")

        tracer = tracing.Tracer() if traced else None
        ticks = cpu_ticks()
        plain, instrumented = measure(runner, args.seconds, tracer)
        steal = steal_pct(ticks, cpu_ticks())
        metrics: dict[str, float] = {}
        if not traced and plain:
            metrics = {
                "setup_s": setup_s,
                "run_s_p50": statistics.median(u.wall for _, u in plain),
                "trial_overhead_ms": statistics.median(wl.trial_overhead_ms(u) for _, u in plain),
                "peak_rss_mb": peak_rss_mb(spark),
            }
        stop_session(spark)  # flushes and closes the event log
        spark = None
        if traced and plain and instrumented:
            jobs = tracing.read_event_log(str(tmp / "eventlog"))
            for unit_id, unit in instrumented:
                for op, (s, e) in unit.info.get("calls", {}).items():
                    tracer.add(f"functions.{op}", s, e, unit_id)
            metrics = tracing.layer_metrics([
                tracing.unit_layer_metrics(args.workload, u, uid, tracer.spans, jobs, size)
                for uid, u in instrumented
            ])
            metrics["trace.overhead_s"] = (statistics.median(u.wall for _, u in instrumented)
                                           - statistics.median(u.wall for _, u in plain))
            tracer.dump(str(ROOT / ".perfbench_out" / f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass  # another run is using it

    wanted = {m["name"]: m["unit"] for m in bench["per_layer" if traced else "end_to_end"]}
    complete = set(metrics) == set(wanted)
    if not complete:
        print(f"perfbench: metrics differ from BENCHMARK.json: {sorted(set(wanted) ^ set(metrics))}",
              file=sys.stderr)
    failed = len(runner.failed)
    print(f"perfbench {args.workload} seed={args.seed} size={args.size} trace={args.trace} "
          f"units={runner.attempted} failed={failed} failed_frac={failed / runner.attempted:.4f} "
          f"setup: {setup_parts} walls: {' '.join(f'{u.wall:.2f}' for _, u in plain + instrumented)} "
          f"steal={steal:.1f}%")
    print(json.dumps({
        "correct": complete and not failed,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": wanted[k]} for k, v in metrics.items() if k in wanted},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
