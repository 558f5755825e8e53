"""Benchmark: time every roster row over the test data in
$SPARK_GRAFT_SF_DIR (default: sf0.1) and print ONE compact JSON line.

    python bench.py                   # full suite, record in BENCH_local.json
    python bench.py --rows a,b,...    # only the entries holding these rows

Each operator is forced end-to-end with the `noop` sink (full JVM-side
execution, no Python row transfer), so timings measure the Spark plan,
not py4j serialization. Compare against BASELINE.md §3 targets.

Every row reports the MEDIAN of $SPARK_GRAFT_BENCH_REPS reps (default
3), and up to $SPARK_GRAFT_BENCH_MAX_REPS (default 5) while the samples
of an entry's first row stay load-noisy: single-shot timings on a
loaded box swing up to 12x run to run (r3 vs r4 measured identical code
at 1.4 s vs 14 s). A JVM System.gc() runs before every t0 (r13), so a
rep pays for its own operator, not the heap debt of the rows before it
in the suite (dd8: 1.05 s solo vs bimodal 1.0/4.5 s in-suite without
it; BASELINE.md §4).

`roster()` is the one list of what runs. An entry is (rows, steps,
policy): step i is timed as row i and its result feeds step i+1 of the
same rep; a step returning a dict adds a sample per key to derived rows.
- "cold": `_rep_reset()` before every rep, so each rep rebuilds its
  session-cached seams; later steps of a chain price their increment on
  the rep's still-warm state (pl13/ann14 warm re-runs, bpe, ann10->11).
- "warm-store": clearCache and an untimed setup, then reps with no reset
  between them: a long-lived store (dd20_refresh) or a driver loop (exp_*).
"""

from __future__ import annotations

import argparse
import functools
import importlib
import json
import os
import statistics
import sys
import tempfile
import time
from collections.abc import Callable
from pathlib import Path
from typing import NamedTuple

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

# the non-registry operator rows, in artifact order; an operator rotated
# out of the registry (r13, r14) takes an extras slot so the row set stays
EXTRAS = """
ann3_ivf_topk pl14_curriculum_order dd18_crossmodal_verify tx1_token_count
pl1_corpus_prep ann13_cluster_quality dd19_containment_screen ev12_lag_quantiles
tx17_tfidf_keywords ann15_cluster_keywords tx18_langid_eval tx5_ngram_stats
mm1_decode_metadata pl18_temperature_mix ev13_type_transitions ev14_session_funnel
pl19_temperature_apply k5_late_shipment_priority s10_jsonl_clean s10_jsonl_report
s11_csv_clean s11_csv_report dd21_lsh_s_curve pl20_pack_efficiency
tx20_tokenizer_fertility ann17_filtered_topk ann18_range_search pl21_fair_interleave
dd22_minhash_calibration dd23_contamination_report pl22_pps_sample a13_regret_curve
a14_param_importance a15_earlystop_savings mm9_multimodal_pack_plan pl23_weighted_sample
g14_pbt_schedule ann19_filtered_ivf ann20_selective_filtered_ivf
ann21_routing_recall_curve pl24_doremi_reweight ann22_incremental_store
""".split()

# derived from exp_random16_noop, so the suite total leaves them out
COMPONENTS = ("exp_per_trial_overhead", "exp_submit_to_first_task", "exp_last_task_to_result")


class Entry(NamedTuple):
    rows: tuple[str, ...]
    steps: tuple[Callable, ...]  # step(spark, sf_dir, prev) -> next prev
    policy: str = "cold"  # or "warm-store"
    setup: Callable | None = None  # warm-store only: setup(spark, sf_dir), untimed


def _tick(spark) -> float:
    spark._jvm.System.gc()  # before the clock: see the module docstring
    return time.time()


def _rep_reset(spark) -> None:
    # leave no session-scoped state of ANY type: the session-cache handles
    # and memoized corpus counts survive clearCache (pinned by tests/
    # test_review_fixes.py::test_rep_boundary_leaves_no_session_state)
    from maggy_spark.plans.fixtures import invalidate_session_cache

    invalidate_session_cache(spark)
    spark.catalog.clearCache()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _op(fn: Callable) -> Callable:
    """Step forcing one `(spark, sf_dir) -> DataFrame` operator."""

    def step(spark, sf_dir, _prev):
        _noop(fn(spark, sf_dir))

    step.op = fn
    return step


def _hpo(num_trials: int, optimizer, **kw):
    from maggy_spark import Searchspace
    from maggy_spark.config import HyperparameterOptConfig

    return HyperparameterOptConfig(num_trials=num_trials, optimizer=optimizer, direction="max",
                                   searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
                                   es_policy="none", **kw)


def _exp_rows() -> list[Entry]:
    """Experiment-level targets (BASELINE.md §3): wall time of 16-trial
    near-noop searches through each driver loop, held to <= 2 s/trial."""
    from maggy_spark import lagom
    from maggy_spark.optimizers import Pbt

    def clock(x):
        import time as _t

        return _t.time()

    def hb_fn(x, budget, reporter):
        val = -((x - 0.3) ** 2)
        for step in range(int(budget)):
            reporter.broadcast(val * (step + 1) / budget, step)
        return val

    def quad(x):
        return -((x - 0.3) ** 2)

    def random16(spark, sf_dir, _prev):
        # clock() returns each trial's start, so with direction=max worst/best
        # are the FIRST/LAST starts. Local mode only: executor clocks meet the
        # driver's t0/t1 (the max(0, .) clamp absorbs residual skew)
        t0 = time.time()
        res = lagom(clock, random_cfg, spark)
        t1 = time.time()
        return {
            "exp_per_trial_overhead": (t1 - t0) / (16 / 4),  # wall / trials per slot
            "exp_submit_to_first_task": max(0.0, res["worst_val"] - t0),
            "exp_last_task_to_result": max(0.0, t1 - res["best_val"]),
        }

    def driver_loop(row, fn, cfg, n):
        def step(spark, sf_dir, _prev):
            if lagom(fn, cfg, spark)["num_trials"] != n:
                raise RuntimeError(f"{row}: expected {n} trials")

        return Entry((row,), (step,), "warm-store")

    random_cfg = _hpo(16, "randomsearch", seed=42, parallelism=4)
    hb = _hpo(3, "randomsearch", seed=42, parallelism=4, pruner="hyperband",  # ladder: 17 trials
              pruner_kwargs={"min_budget": 1, "max_budget": 9, "eta": 3, "n_iterations": 2})
    return [
        Entry(("exp_random16_noop", *COMPONENTS), (random16,), "warm-store",  # warms python workers
              lambda spark, sf_dir: lagom(clock, _hpo(1, "randomsearch", seed=1), spark)),
        driver_loop("exp_hyperband_noop", hb_fn, hb, 17),
        driver_loop("exp_gp_bo_16", quad, _hpo(16, "gp", seed=42, parallelism=4), 16),
        driver_loop("exp_pbt_16", quad, _hpo(16, Pbt(population=4), seed=42, parallelism=4), 16),
    ]


def roster() -> list[Entry]:
    """Every bench row, in run (and artifact) order. Imports fail loudly."""
    from maggy_spark import registry
    from maggy_spark.functions import dedup, similarity, text

    mods = [importlib.import_module(f"maggy_spark.{m}") for m in (
        "functions.similarity", "functions.pipeline", "functions.dedup", "functions.text",
        "functions.multimodal", "operators.events", "operators.warehouse",
        "operators.aggregations", "operators.generators", "sources.csvsrc", "sources.jsonl")]
    found = {n: getattr(m, n) for m in mods for n in EXTRAS if hasattr(m, n)}
    qs = registry.queries()
    pl13, ann14 = _op(qs.pop("pl13_full_corpus_build")), _op(similarity.ann14_recall_eval)
    snapshot = functools.cache(lambda: f"{tempfile.mkdtemp(prefix='dd20_snap_')}/star_map.parquet")

    def dd20_snapshot(spark, sf_dir, _prev):
        # the per-snapshot store pass, INCLUDING the star map's parquet write
        dedup.dd20_store_star_map(spark, sf_dir).write.mode("overwrite").parquet(snapshot())

    def dd20_store(spark, sf_dir):
        # the long-lived signatures store a refresh never re-signs
        if not Path(snapshot()).exists():  # dd20_refresh selected alone
            dd20_snapshot(spark, sf_dir, None)
        _noop(dedup.simhash_band_relation(spark, sf_dir)[0])

    return [
        *(Entry((name,), (_op(fn),)) for name, fn in qs.items()),
        # r14 split: the warm re-run isolates ledger drift from the
        # per-rep seam rebuild that dominates the cold wall
        Entry(("pl13_full_corpus_build", "pl13_ledger_warm_seams"), (pl13, pl13)),
        Entry(("bpe_train_20", "bpe_encode"), (
            lambda spark, sf_dir, _prev: text.bpe_train(spark, sf_dir, n_merges=20),
            lambda spark, sf_dir, merges: _noop(text.bpe_encode(spark, sf_dir, merges)),
        )),
        Entry(("ann10_kmeans", "ann11_semdedup"),
              (_op(similarity.ann10_kmeans_assign), _op(similarity.ann11_semdedup_prune))),
        *(Entry((name,), (_op(found[name]),)) for name in EXTRAS),  # KeyError: one missing
        # r15 split: the warm re-run prices serving without four stack builds
        Entry(("ann14_recall_eval", "ann14_serving_warm"), (ann14, ann14)),
        Entry(("dd20_snapshot_build",), (dd20_snapshot,)),
        Entry(("dd20_refresh",), (
            lambda spark, sf_dir, _prev: _noop(dedup.dd20_refresh(spark, sf_dir, snapshot())),
        ), "warm-store", dd20_store),
        *_exp_rows(),
    ]


def operators() -> dict[str, Callable]:
    """The roster's DataFrame operators, by row name and function name."""
    ops = [(row, s.op) for e in roster() for row, s in zip(e.rows, e.steps) if hasattr(s, "op")]
    return {**{fn.__name__: fn for _, fn in ops}, **dict(ops)}


def select(entries: list[Entry], rows: list[str] | None) -> list[Entry]:
    """The entries holding any of `rows` (all when None), whole."""
    if rows is None:
        return entries
    unknown = set(rows) - {r for e in entries for r in e.rows}
    if unknown:
        raise SystemExit(f"unknown bench rows: {sorted(unknown)}")
    return [e for e in entries if set(rows) & set(e.rows)]


def _noisy(samples: list[float]) -> bool:
    spread = max(samples) - min(samples)
    return spread > 0.5 * statistics.median(samples) and spread > 0.25


def time_entry(spark, sf_dir: str, entry: Entry, reps: int, max_reps: int):
    """Per-row samples of one entry, and the exception that stopped it."""
    samples: dict[str, list[float]] = {row: [] for row in entry.rows}
    first = samples[entry.rows[0]]
    try:
        if entry.policy == "warm-store":
            # drop the blocks the previous entry left, keep the session
            # memo: dd20_refresh's setup reuses the counts its snapshot memoized
            spark.catalog.clearCache()
            if entry.setup is not None:
                spark.sparkContext.setJobGroup(f"bench:{entry.rows[0]}:setup", "untimed setup")
                entry.setup(spark, sf_dir)
        while len(first) < reps or (len(first) < max_reps and _noisy(first)):
            if entry.policy == "cold":
                _rep_reset(spark)
            prev, rep = None, len(first)
            for row, step in zip(entry.rows, entry.steps):
                spark.sparkContext.setJobGroup(f"bench:{row}", f"bench:{row} rep {rep}")
                t0 = _tick(spark)
                prev = step(spark, sf_dir, prev)
                samples[row].append(time.time() - t0)
                if isinstance(prev, dict):
                    for derived, value in prev.items():
                        samples[derived].append(value)
    except Exception as e:  # a failed entry must not hide the rest
        _rep_reset(spark)
        return samples, e
    return samples, None


def run(spark, sf_dir: str, entries: list[Entry], reps: int, max_reps: int):
    """Median, spread and partial-rep count per row. A failed entry keeps
    every row visible: -1.0, or the median of the reps it finished."""
    timings, spreads, partials = {}, {}, {}
    for entry in entries:
        samples, err = time_entry(spark, sf_dir, entry, reps, max_reps)
        for row, s in samples.items():
            timings[row] = round(statistics.median(s), 3) if s else -1.0
            if s:
                spreads[row] = round(max(s) - min(s), 3)
            if s and err is not None:
                partials[row] = len(s)
        if err is not None:
            print(f"BENCH ERROR {','.join(entry.rows)}: {err}", file=sys.stderr)
    return timings, spreads, partials


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--rows", type=lambda s: s.split(","), help="comma-separated row names")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    max_reps = max(reps, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_REPS", "5")))
    entries = select(roster(), args.rows)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("maggy-spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM / codegen / parquet-footer paths, and the Python/Arrow
    # worker pool (~100 ms spin-up per worker), so the first measured
    # rows are not charged for session startup
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.range(1_000).selectExpr("sum(id)").collect()
    _noop(spark.range(256).repartition(int(cpus)).mapInPandas(lambda it: it, "id long"))

    timings, spreads, partials = run(spark, sf_dir, entries, reps, max_reps)
    # BASELINE.md pin (r11): bpe_encode's sf0.1 median is ~2 s; above 3 s
    # is a regression signal, not noise (sf=-1 = unknown scale: no pin)
    if 0 < sf <= 0.11 and timings.get("bpe_encode", 0) > 3.0:
        print(f"BENCH WARN bpe_encode median {timings['bpe_encode']:.2f}s "
              "exceeds the 3s BASELINE.md pin", file=sys.stderr)
    # the headline total counts only fully measured rows: a partial or
    # errored row must shrink coverage, not fold a suspect sample in
    total = sum(v for k, v in timings.items() if v >= 0 and k not in partials and k not in COMPONENTS)
    payload = {"metric": "operator_suite_total", "value": round(total, 3), "unit": "sec",
               "queries": timings, "rep_spread": spreads, "partial": partials,
               "n_partial": len(partials), "reps": reps, "sf": sf,
               "n_queries": len(timings), "cpus": int(cpus)}
    if args.rows is None:  # a subset run never replaces the record
        (REPO / "BENCH_local.json").write_text(json.dumps(payload) + "\n")
    # stdout keeps only the medians, compact, as the LAST line: consumers
    # read the stdout tail, and the full dict truncated there (r5-r8,
    # r13); spreads and partials live in BENCH_local.json
    print(json.dumps({k: v for k, v in payload.items() if k not in ("rep_spread", "partial")},
                     separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
