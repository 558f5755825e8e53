"""The benchmark's three workloads: their inputs, one timed unit each,
and the checks on every unit's output.

A unit is one `lagom()` experiment (the two HPO workloads) or one
corpus pass (`corpus_build_cold`). Each workload object offers
`prepare()` (inputs, untimed), `run_unit()` (the timed call plus the
untimed reads its checks need) and `check()` (a list of failures,
empty when the output is right).
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from dataclasses import dataclass, field

# Per-size parameters. `bench` is the size the benchmark measures;
# `smoke` is the small size the benchmark's own tests run.
SIZES = {
    "bench": {
        "short_trials": 16,
        "async_trials": 8,
        "async_steps": 10,
        "async_step_loops": 300000,
        "docs": 500,
        "vecs": 500,
    },
    "smoke": {
        "short_trials": 8,
        "async_trials": 8,
        "async_steps": 10,
        "async_step_loops": 20000,
        "docs": 200,
        "vecs": 200,
    },
}

CORPUS_SEED = 42  # the corpus input is fixed: --seed does not apply to it
# The async workload's GP seed is fixed as well. Median stopping only
# stops a trial that trails the trials finished before it, so whether an
# 8-trial run stops any depends on the optimizer's path; with this seed
# every run stops three or four, whatever the scheduling jitter.
ASYNC_GP_SEED = 28
CORPUS_OPS = ("pl13", "ann14", "dd8")
SHORT_STEPS = 8


# -- trial bodies ------------------------------------------------------
#
# These run inside Spark's Python workers. lagom pickles them by value
# together with this module, so they may use the module's functions
# but nothing that holds a session.


def objective(x: float, y: float) -> float:
    """The value every trial reports, from a few pure-Python steps: a
    bowl centred on x=0.3, y=0.6 with a ripple on top, so that the
    search has more than one hill and some trials trail the others."""
    acc = 0.0
    for k in range(1, SHORT_STEPS + 1):
        acc += ((x - 0.3) ** 2 + (y - 0.6) ** 2) / k
    return -acc - 0.25 * (math.sin(9.0 * x) * math.cos(7.0 * y) + 1.0)


def short_trial(x, y):
    print(f"perfbench enter {time.time():.6f}")
    value = objective(x, y)
    print(f"perfbench exit {time.time():.6f}")
    return value


def make_async_trial(steps: int, loops: int):
    """A trial that burns `loops` pure-Python iterations per step and
    reports a metric that rises to `objective(x, y)` at its last step.
    It times its own `reporter.broadcast` calls and logs them."""

    def async_trial(x, y, reporter):
        print(f"perfbench enter {time.time():.6f}")
        final = objective(x, y)
        calls = 0
        spent = 0.0
        try:
            for step in range(steps):
                burn = 0  # pure-Python work: no BLAS threads compete for the cores
                for i in range(loops):
                    burn += i * i % 7
                metric = final - 0.05 * (steps - 1 - step) / steps
                t0 = time.perf_counter()
                calls += 1
                try:
                    reporter.broadcast(metric, step)
                finally:
                    spent += time.perf_counter() - t0
            return final
        finally:
            print(f"perfbench broadcast {calls} {spent:.9f}")
            print(f"perfbench exit {time.time():.6f}")

    return async_trial


def read_trial_logs(exp_dir: str) -> dict[str, dict]:
    """The entry/exit timestamps and broadcast timings each trial body
    wrote to its trial log, keyed by trial id."""
    out = {}
    log_dir = os.path.join(exp_dir, "trial_logs")
    for name in os.listdir(log_dir):
        rec = {"broadcasts": 0, "broadcast_s": 0.0}
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                parts = line.split()
                if len(parts) < 3 or parts[0] != "perfbench":
                    continue
                if parts[1] == "broadcast":
                    rec["broadcasts"] = int(parts[2])
                    rec["broadcast_s"] = float(parts[3])
                else:
                    rec[parts[1]] = float(parts[2])
        out[name[: -len(".log")]] = rec
    return out


# -- units -------------------------------------------------------------


@dataclass
class Unit:
    """One timed unit: the window it ran in (epoch seconds), its timed
    wall, and whatever the checks and per-layer metrics need after."""

    start: float
    end: float
    result: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    wall: float | None = None

    def __post_init__(self):
        if self.wall is None:
            self.wall = self.end - self.start


def _gc_then_start(spark) -> float:
    # collect before t0, as bench.py does: each unit pays for its own
    # garbage, not for what earlier units left behind
    spark._jvm.System.gc()
    return time.time()


class _Hpo:
    """Shared code of the HPO workloads."""

    name = ""
    # timed units per run, at the least: one experiment is one sample of
    # a few parquet appends whose times vary by 20 % from unit to unit
    min_units = 2

    def __init__(self, spark, tmp: str, seed: int, size: dict, parallelism: int):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.size = size
        self.parallelism = parallelism
        self._runs = 0

    def prepare(self) -> None:
        pass

    def optimizer(self):
        raise NotImplementedError

    def config(self, log_dir: str, optimizer, n_trials: int):
        raise NotImplementedError

    def trial_fn(self):
        raise NotImplementedError

    def run_unit(self, group: str, instrument=None, warmup: bool = False) -> Unit:
        """One experiment; the warm-up runs a single wave of trials.
        `instrument(optimizer)`, when given, runs just before the clock
        starts."""
        from maggy_spark import lagom
        from maggy_spark.sources.sinks import read_experiment

        self._runs += 1
        log_dir = os.path.join(self.tmp, f"logs_{self._runs}")
        optimizer = self.optimizer()
        n_trials = self.parallelism if warmup else self.n_trials
        cfg = self.config(log_dir, optimizer, n_trials)
        fn = self.trial_fn()
        if instrument is not None:
            instrument(optimizer)
        self.spark.sparkContext.setJobGroup(group, group)
        start = _gc_then_start(self.spark)
        result = lagom(fn, cfg, self.spark)
        end = time.time()
        rows = [r.asDict() for r in read_experiment(self.spark, result["log_dir"]).collect()]
        unit = Unit(start, end, result, {"trials": rows, "n_trials": n_trials, "warmup": warmup})
        unit.info["logs"] = read_trial_logs(result["log_dir"])
        return unit

    def trial_overhead_ms(self, unit: Unit) -> float:
        """Slot time each trial costs beyond its own function:
        (wall x parallelism - sum of trial durations) / trials."""
        busy = sum((r["duration_ms"] or 0) for r in unit.info["trials"]) / 1000.0
        return (unit.wall * self.parallelism - busy) / len(unit.info["trials"]) * 1000.0

    def _common_checks(self, unit: Unit) -> list[str]:
        res = unit.result
        n_trials = unit.info["n_trials"]
        errs = []
        if res.get("num_trials") != n_trials:
            errs.append(f"num_trials {res.get('num_trials')} != {n_trials}")
        if res.get("errors", 0) != 0:
            errs.append(f"{res.get('errors')} trials ended in ERROR")
        if len(unit.info["trials"]) != n_trials:
            errs.append(f"persisted trials relation has {len(unit.info['trials'])} rows, not {n_trials}")
        return errs


class HpoShortTrials(_Hpo):
    """Random search, wave scheduling, trials far shorter than the
    engine's per-wave cost."""

    name = "hpo_short_trials"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_trials = self.size["short_trials"]
        self._best_vals: list[float] = []

    def optimizer(self):
        from maggy_spark.optimizers import RandomSearch

        return RandomSearch()

    def config(self, log_dir: str, optimizer, n_trials: int):
        from maggy_spark import Searchspace
        from maggy_spark.config import HyperparameterOptConfig

        return HyperparameterOptConfig(
            name="short", num_trials=n_trials, optimizer=optimizer,
            searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0]), y=("DOUBLE", [0.0, 1.0])),
            direction="max", es_policy="none", seed=self.seed,
            parallelism=self.parallelism, scheduling="wave", log_dir=log_dir,
        )

    def trial_fn(self):
        return short_trial

    def check(self, unit: Unit) -> list[str]:
        errs = self._common_checks(unit)
        recomputed = max(
            objective(float(r["params"]["x"]), float(r["params"]["y"])) for r in unit.info["trials"]
        )
        best = unit.result.get("best_val")
        if best != recomputed:
            errs.append(f"best_val {best!r} != objective recomputed from the trials relation {recomputed!r}")
        if unit.info["warmup"]:
            return errs
        self._best_vals.append(best)
        if any(b != self._best_vals[0] for b in self._best_vals):
            errs.append(f"best_val differs between units of one seed: {self._best_vals}")
        return errs


class HpoAsyncEarlyStop(_Hpo):
    """GP optimizer, async scheduling, median early stopping and a live
    experiment store: trials that burn real CPU between reports."""

    name = "hpo_async_earlystop"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_trials = self.size["async_trials"]

    def optimizer(self):
        from maggy_spark.bayes import GP

        return GP(num_warmup_trials=4)

    def config(self, log_dir: str, optimizer, n_trials: int):
        from maggy_spark import Searchspace
        from maggy_spark.config import HyperparameterOptConfig

        return HyperparameterOptConfig(
            name="async", num_trials=n_trials, optimizer=optimizer,
            searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0]), y=("DOUBLE", [0.0, 1.0])),
            direction="max", es_policy="median", es_min=4, seed=ASYNC_GP_SEED,
            parallelism=self.parallelism, scheduling="async", log_dir=log_dir,
            stream_artifacts=True,
        )

    def trial_fn(self):
        return make_async_trial(self.size["async_steps"], self.size["async_step_loops"])

    def run_unit(self, group: str, instrument=None, warmup: bool = False) -> Unit:
        from maggy_spark.store import ExperimentStore

        unit = super().run_unit(group, instrument, warmup)
        live = os.path.join(unit.result["log_dir"], "live")
        unit.info["store_summary"] = ExperimentStore(self.spark, live, direction="max").result_summary()
        unit.info["store_bytes"] = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(live) for f in fs
        )
        return unit

    def check(self, unit: Unit) -> list[str]:
        res = unit.result
        errs = self._common_checks(unit)
        # a single-wave warm-up finishes before es_min trials can stop one
        if not unit.info["warmup"] and res.get("early_stopped", 0) < 1:
            errs.append("no trial was stopped early")
        for r in unit.info["trials"]:
            if r["early_stop"]:
                continue
            want = objective(float(r["params"]["x"]), float(r["params"]["y"]))
            if r["final_metric"] != want:
                errs.append(f"trial {r['trial_id']} final_metric {r['final_metric']!r} != objective {want!r}")
        summary = unit.info["store_summary"]
        for key in ("best_id", "best_val", "worst_id", "worst_val", "num_trials", "early_stopped"):
            if summary.get(key) != res.get(key):
                errs.append(f"live store {key} {summary.get(key)!r} != result {res.get(key)!r}")
        # the mean is summed in another order over the store's files,
        # so it may differ from the result's in the last bits only
        if not math.isclose(summary.get("avg", math.nan), res.get("avg", math.nan), rel_tol=1e-12):
            errs.append(f"live store avg {summary.get('avg')!r} != result avg {res.get('avg')!r}")
        return errs


# -- corpus ------------------------------------------------------------

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def write_corpus(out_dir: str, n_docs: int, n_vecs: int) -> str:
    """Write the `documents` and `embeddings` tables the corpus
    operators read, in the shape of the repository's synthetic test
    tables: word soup over a 31-token vocabulary with a few exact
    duplicates, and unit-norm 64-dim vectors with labels 0..9."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=n)]) for n in rng.integers(10, 101, size=n_docs)]
    for t, s in zip(rng.integers(0, n_docs, size=max(1, n_docs * 3 // 1000 + 2)),
                    rng.integers(0, n_docs, size=max(1, n_docs * 3 // 1000 + 2))):
        if t != s:
            texts[t] = texts[s]
    pq.write_table(
        pa.table({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, size=n_vecs).astype(np.int32),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return out_dir


def fingerprint(rows) -> dict:
    """Row count and an order-independent hash of a result: the sum,
    modulo 2**64, of each row's sha256 over its values' reprs."""
    total = 0
    n = 0
    for row in rows:
        digest = hashlib.sha256(repr(tuple(row)).encode()).digest()
        total = (total + int.from_bytes(digest[:8], "big")) % (1 << 64)
        n += 1
    return {"rows": n, "hash": f"{total:016x}"}


def fingerprint_errors(observed: dict, pinned: dict) -> list[str]:
    """Every operator whose fingerprint differs from the pinned one."""
    return [
        f"{op} fingerprint {observed.get(op)} != pinned {pinned.get(op)}"
        for op in sorted(set(observed) | set(pinned))
        if observed.get(op) != pinned.get(op)
    ]


class CorpusBuildCold:
    """pl13, ann14 and dd8 over a fixed corpus, each call from cold
    session caches."""

    name = "corpus_build_cold"
    min_units = 1  # a second pass does not fit the benchmark's time budget

    def __init__(self, spark, tmp: str, seed: int, size: dict, parallelism: int, pinned: dict):
        self.spark = spark
        self.tmp = tmp
        self.size = size
        self.parallelism = parallelism
        self.pinned = pinned
        self.data_dir = os.path.join(tmp, "corpus")

    def prepare(self) -> None:
        write_corpus(self.data_dir, self.size["docs"], self.size["vecs"])
        # the warm-up runs the operators concurrently, each over its own
        # copy of the tables, so that no two calls share a session-cache
        # entry (the cache is keyed by table path)
        for op in CORPUS_OPS:
            shutil.copytree(self.data_dir, f"{self.data_dir}_{op}")

    def operators(self):
        from maggy_spark.functions.dedup import dd8_lsh_verified_jaccard
        from maggy_spark.functions.pipeline import pl13_full_corpus_build
        from maggy_spark.functions.similarity import ann14_recall_eval

        return {"pl13": pl13_full_corpus_build, "ann14": ann14_recall_eval, "dd8": dd8_lsh_verified_jaccard}

    def run_unit(self, group: str, instrument=None, warmup: bool = False) -> Unit:
        from maggy_spark.plans.fixtures import invalidate_session_cache

        if warmup:
            return self._warmup(group)
        if instrument is not None:
            instrument(None)
        # Each pass reads its own copy of the tables: state keyed by the
        # table path survives invalidate_session_cache and clearCache
        # (ann14 runs 72 jobs on its first call over a path and 64 on
        # later ones), and a cold build is the first call over a corpus.
        data_dir = f"{self.data_dir}_{group.rsplit(':', 1)[-1]}"
        shutil.copytree(self.data_dir, data_dir)
        sc = self.spark.sparkContext
        calls = {}
        fps = {}
        for op, fn in self.operators().items():
            invalidate_session_cache(self.spark)
            self.spark.catalog.clearCache()
            sc.setJobGroup(f"{group}:{op}", f"{group}:{op}")
            t0 = _gc_then_start(self.spark)
            rows = fn(self.spark, data_dir).collect()
            calls[op] = (t0, time.time())
            fps[op] = fingerprint(rows)
        # a pass is the sum of its calls: the resets and GCs between
        # calls are not the operators' work
        unit = Unit(calls[CORPUS_OPS[0]][0], calls[CORPUS_OPS[-1]][1], {"fingerprints": fps},
                    {"calls": calls}, wall=sum(e - s for s, e in calls.values()))
        unit.info["task_run_s"] = _task_run_seconds(self.spark, [f"{group}:{op}" for op in calls])
        return unit

    def _warmup(self, group: str) -> Unit:
        """One untimed pass with the three operators in parallel threads:
        the same code is warmed as by a sequential pass, in the time of
        the slowest call rather than the sum of all three."""
        from concurrent.futures import ThreadPoolExecutor

        def call(op, fn):
            self.spark.sparkContext.setJobGroup(f"{group}:{op}", f"{group}:{op}")
            return op, fingerprint(fn(self.spark, f"{self.data_dir}_{op}").collect())

        start = time.time()
        with ThreadPoolExecutor(len(CORPUS_OPS)) as pool:
            futures = [pool.submit(call, op, fn) for op, fn in self.operators().items()]
            fps = dict(f.result() for f in futures)
        return Unit(start, time.time(), {"fingerprints": fps})

    def trial_overhead_ms(self, unit: Unit) -> float:
        """Slot time each operator call costs beyond its executor task
        run time: (pass wall x slots - sum of task run time) / calls."""
        return (unit.wall * self.parallelism - unit.info["task_run_s"]) / len(CORPUS_OPS) * 1000.0

    def check(self, unit: Unit) -> list[str]:
        return fingerprint_errors(unit.result["fingerprints"], self.pinned)


def _task_run_seconds(spark, groups: list[str]) -> float:
    """Sum of executor run time over the tasks of every job in `groups`,
    read from Spark's in-memory status store (no extra job)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    empty = sc._gateway.new_array(jvm.double, 0)
    stages = set()
    for g in groups:
        for job_id in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stages.update(info.stageIds)
    total_ms = 0
    for sid in stages:
        try:
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, empty)
        except Py4JJavaError:  # a skipped stage never ran and has no data
            continue
        for i in range(attempts.size()):
            total_ms += attempts.apply(i).executorRunTime()
    return total_ms / 1000.0


WORKLOADS = {c.name: c for c in (HpoShortTrials, HpoAsyncEarlyStop, CorpusBuildCold)}
