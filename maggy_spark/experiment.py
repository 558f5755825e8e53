"""`lagom(train_fn, config)` — the experiment entry point.

Reference lifecycle (SURVEY.md §3.1, `maggy/experiment/experiment.py:
21-45`, `experiment_pyspark.py:43-146`): dispatch on config type,
drive trials to completion, return the result dict. The rebuild's
driver is one refill loop (`_refill`): the controller emits pending
trials, each batch runs as one Spark job of pandas UDF tasks
(executor.py), settled trials feed back into the controller and free
their slot for the next batch, and the final result is a Spark
aggregation over the trials DataFrame (operator A1) — no RPC server,
no reservation registry, no digestion threads.

Scheduling (SURVEY.md §7.3b): the reference assigns a new trial the
instant one finishes. `scheduling="async"` does the same with
single-trial batches; `scheduling="wave"` runs batches of
`parallelism` trials, one at a time, so ASHA promotions are checked
between waves.
"""

from __future__ import annotations

import base64
import json
import operator
import os
import tempfile
import time
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from maggy_spark.config import (
    AblationConfig,
    BaseConfig,
    HyperparameterOptConfig,
    TfDistributedConfig,
    TorchDistributedConfig,
)
from maggy_spark.executor import run_trial_wave
from maggy_spark.optimizers import get_controller
from maggy_spark.trial import Trial

DEC = "decimal(18,4)"

# the `trials` table row shape (FIXTURES.md F2); Trial.to_row produces
# it, and the live store derives its Arrow schema from it
TRIALS_SCHEMA = (
    "trial_id string, seq bigint, params map<string,string>, budget int, "
    "sample_type string, status string, direction string, final_metric double, "
    "early_stop boolean, duration_ms bigint"
)


def lagom(
    train_fn: Callable,
    config: BaseConfig | None = None,
    spark: SparkSession | None = None,
    **base_kwargs,
) -> dict:
    """Run an experiment; returns the result dict (best/worst/avg...).

    Public API preserved from the reference (`experiment.lagom`):
    `config` is optional exactly like the reference entry point
    (`experiment/experiment.py:21-41`), defaulting to a single
    no-hparam run under the default BaseConfig — the README
    quick-start shape `experiment.lagom(train_fn=fn)` runs unchanged.
    Extra keyword args (name/description/hb_interval/...) feed that
    default config, so the reference README's
    `lagom(train_fn=fn, name='MNIST')` also runs verbatim (the
    reference code itself rejects that stale doc shape; accepting it
    is a strict superset). Passing both `config` and extras is a
    user error and raises.
    """
    if config is None:
        defaults = {"name": "maggy_experiment", "description": "experiment without config object"}
        config = BaseConfig(**{**defaults, **base_kwargs})
    elif base_kwargs:
        # validate BEFORE building a SparkSession: a bad call must not
        # pay (and leak) JVM startup just to raise
        raise TypeError(
            f"lagom() got config= AND extra kwargs {sorted(base_kwargs)}; "
            "put them on the config object instead"
        )
    spark = spark or SparkSession.builder.getOrCreate()
    if isinstance(config, HyperparameterOptConfig):
        return _run_hpo(train_fn, config, spark)
    if isinstance(config, AblationConfig):
        from maggy_spark.ablation import run_ablation

        return run_ablation(train_fn, config, spark)
    if isinstance(config, (TorchDistributedConfig, TfDistributedConfig)):
        from maggy_spark.distributed import run_distributed_training

        return run_distributed_training(train_fn, config, spark)
    if isinstance(config, BaseConfig):
        return _run_base(train_fn, config, spark)
    raise TypeError(f"unsupported config type: {type(config).__name__}")


def _run_base(train_fn: Callable, config: BaseConfig, spark: SparkSession) -> dict:
    """BaseConfig: run the function once, locally (reference
    base_executor.py:21-42 identity wrapper)."""
    from maggy_spark.executor import build_kwargs, normalize_return
    from maggy_spark.reporter import Reporter

    reporter = Reporter()
    kwargs = build_kwargs(train_fn, {}, reporter)
    ret = train_fn(**kwargs)
    metric = normalize_return(ret, config.metric_key or "metric") if ret is not None else None
    return {"test result": metric, "logs": reporter.logs}


def _es_custom_rule(config):
    """The user's `earlystop_check` for a custom rule (a class or
    instance implementing the reference's AbstractEarlyStop contract,
    `abstractearlystop.py:20-40`), or None for built-in policies."""
    policy = config.es_policy
    if policy is None or isinstance(policy, str):
        return None
    if getattr(policy, "POLICY", None) in ("median", "none"):
        return None  # facade built-ins select by name
    fn = getattr(policy, "earlystop_check", None)
    return fn if callable(fn) else None


def _es_enabled(config) -> bool:
    """Early stopping runs for the median policy or a custom
    reference-contract rule; None or "none" disable it. Anything else
    is rejected up front rather than being silently treated as
    median."""
    if _es_custom_rule(config) is not None:
        return True
    policy = config.es_policy
    # facade rule classes/instances (maggy.earlystop) carry a POLICY
    # string; strings pass through unchanged
    policy = getattr(policy, "POLICY", policy)
    if policy is None or (isinstance(policy, str) and policy.lower() == "none"):
        return False
    if isinstance(policy, str) and policy.lower() == "median":
        return True
    raise ValueError(
        f"unsupported es_policy {policy!r}: expected 'median', 'none', None, "
        "or a rule implementing earlystop_check"
    )


import logging

_LOG = logging.getLogger("maggy_spark")


def _log_progress(controller, settled: int) -> None:
    """A11: progress line after each settle (reference util.progress_bar,
    printed on the driver; INFO level so notebooks opt in)."""
    from maggy_spark.util import progress_bar

    total = max(controller.num_trials, settled)
    _LOG.info("maggy experiment %s", progress_bar(settled, total))


def _bar_payload(controller, config) -> dict:
    """Current early-stop state: histories appear only once es_min
    trials have finalized (medianrule.py min-completed gate). A custom
    rule also gets finalized-trial snapshots for its Trial-shaped
    arguments."""
    finals = controller.final_store if len(controller.final_store) >= config.es_min else []
    payload = {
        "direction": config.direction,
        "es_interval": config.es_interval,
        "prefix_histories": [t.metric_history for t in finals if t.metric_history],
    }
    if _es_custom_rule(config) is not None:
        payload["finalized"] = [
            {"trial_id": t.trial_id, "metric_history": list(t.metric_history), "final_metric": t.final_metric}
            for t in finals
        ]
    return payload


def _stop_source(controller, config, rule_b64: str | None, refresh_path: str | None) -> str | None:
    """The early-stop state shipped with one batch. A custom rule's
    check function travels as `rule_b64`: cloudpickled by value (user
    rules live in un-importable notebook modules), once per
    experiment."""
    if not _es_enabled(config):
        return None
    payload = _bar_payload(controller, config)
    if refresh_path is not None:
        # async scheduling: the trial-local check re-reads the bar file
        # as it tightens, so even a trial submitted BEFORE es_min
        # finishers gets a stop source (empty bar now, live bar later)
        payload["refresh_path"] = refresh_path
    elif not payload["prefix_histories"] and not payload.get("finalized"):
        return None
    if rule_b64 is not None:
        payload["custom_rule"] = rule_b64
    return json.dumps(payload)


def _publish_bar(controller, config, refresh_path: str) -> None:
    """Atomically publish the tightened bar for in-flight trials
    (write + os.replace: readers see the old or the new file, never a
    torn one)."""
    payload = _bar_payload(controller, config)
    tmp = f"{refresh_path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, refresh_path)


def _settle_trial(trial: Trial, r: dict, seq: int) -> None:
    """Write one `run_trial_wave` result row onto its Trial: status,
    metric, histories, duration, logs, error and seq. Controller-free,
    so HPO and ablation settle through the same step."""
    trial.metric_history = list(r["metric_history"] or [])
    trial.step_history = [int(s) for s in (r["step_history"] or [])]
    trial.early_stop = bool(r["early_stop"])
    trial.duration = (r["duration_ms"] or 0) / 1000.0
    if r.get("logs"):
        trial.info_dict["logs"] = list(r["logs"])
    if r["error"]:
        trial.status = Trial.ERROR
        trial.info_dict["error"] = r["error"]
    else:
        trial.status = Trial.FINALIZED
        trial.final_metric = r["final_metric"]
    trial.info_dict["seq"] = seq


def _is_count(n) -> bool:
    """An integer >= 1; numpy integers count, bools do not."""
    if isinstance(n, bool):
        return False
    try:
        return operator.index(n) >= 1
    except TypeError:
        return False


def _run_hpo(train_fn: Callable, config: HyperparameterOptConfig, spark: SparkSession) -> dict:
    controller = get_controller(config.optimizer)
    if getattr(config, "pruner", None) is not None and controller._pruner_spec is None:
        # config-level pruner attaches to whatever optimizer was chosen
        # (reference passes pruner via the optimizer constructor;
        # config-level is the ergonomic equivalent)
        controller._pruner_spec = config.pruner
        controller._pruner_kwargs = dict(config.pruner_kwargs or {})
    if config.searchspace is None:
        raise ValueError("HyperparameterOptConfig.searchspace is required")
    if config.direction not in ("min", "max"):
        raise ValueError(f"direction must be 'min' or 'max', got {config.direction!r}")
    if config.scheduling not in ("wave", "async"):
        raise ValueError(f"scheduling must be 'wave' or 'async', got {config.scheduling!r}")
    if config.parallelism is not None and not _is_count(config.parallelism):
        raise ValueError(f"parallelism must be None or an integer >= 1, got {config.parallelism!r}")
    _es_enabled(config)  # reject unsupported policies before any work
    controller.initialize(
        searchspace=config.searchspace,
        num_trials=config.num_trials,
        direction=config.direction,
        seed=config.seed,
    )
    controller.spark = spark  # controllers may fan work out (e.g. GP distributed scoring)
    parallelism = int(config.parallelism or spark.sparkContext.defaultParallelism)

    store = None
    exp_dir = None
    if config.log_dir:
        # the experiment dir is resolved eagerly (not at persist time)
        # so trial tasks can stream their FULL print captures to
        # <exp_dir>/trial_logs/ while result rows carry a bounded tail
        from maggy_spark.util import next_run_id, register_environment

        run_id = next_run_id(config.log_dir, config.name)
        exp_dir = register_environment(config.name, run_id, config.log_dir)
        if getattr(config, "stream_artifacts", False):
            from maggy_spark.store import ExperimentStore

            store = ExperimentStore(spark, exp_dir + "/live", direction=config.direction)

    t_start = time.time()
    all_trials, waves = _drive(train_fn, config, spark, controller, parallelism, store, exp_dir)

    result = _aggregate_result(spark, all_trials, config.direction)
    result["duration_sec"] = round(time.time() - t_start, 3)
    result["num_waves"] = waves
    result["errors"] = sum(t.status == Trial.ERROR for t in all_trials)
    best = next((t for t in all_trials if t.trial_id == result.get("best_id")), None)
    if best is not None:
        result["best_config"] = {k: v for k, v in best.params.items() if not callable(v)}
    worst = next((t for t in all_trials if t.trial_id == result.get("worst_id")), None)
    if worst is not None:
        result["worst_config"] = {k: v for k, v in worst.params.items() if not callable(v)}
    if config.log_dir:
        result["log_dir"] = _persist_experiment(spark, config, all_trials, result, exp_dir)
    return result


def _persist_experiment(spark, config, trials: list[Trial], result: dict, exp_dir: str | None = None) -> str:
    """S5/S6 finalize: experiment dir + result.json + trials relation
    (reference optimization_driver.py:235-253,294-342). Reuses the
    live store's run dir when streaming was on."""
    from maggy_spark.sources.sinks import write_experiment_result, write_trial_artifacts
    from maggy_spark.util import next_run_id, register_environment

    if exp_dir is None:
        run_id = next_run_id(config.log_dir, config.name)
        exp_dir = register_environment(config.name, run_id, config.log_dir)
    write_experiment_result(result, exp_dir)
    if trials:
        write_trial_artifacts(trials_to_df(spark, trials, config.direction), exp_dir)
    return exp_dir


def _tb_base(config) -> str:
    """Per-experiment base dir for trial TensorBoard registration
    (reference tensorboard.py:28-37): under log_dir when configured,
    else a temp location so in-function `tensorboard.logdir()` always
    resolves."""
    base = config.log_dir or os.path.join(tempfile.gettempdir(), "maggy_tb")
    return os.path.join(base, f"{config.name}_tb")


def _refill(spark, controller, slots: int, size: int, start, on_settle=None) -> tuple[list[Trial], int]:
    """The trial loop: a driver thread pool keeps up to `slots`
    batches of up to `size` trials in flight and refills a slot the
    moment its batch settles — the reference's asynchrony
    (`optimization_driver.py:519-541`) without its socket plane.

    `start(batch)` runs in the driver thread and returns the job that
    a pool thread runs: a callable returning one `run_trial_wave`-shaped
    result row per trial. Each settled trial goes through
    `_settle_trial` (seq in settle order), then to the controller;
    `on_settle(settled, n_done)` follows each settle. Jobs run under
    the caller's job group and local properties, and in the 'maggy'
    FAIR scheduler pool unless the caller set a pool (SURVEY.md §7.3b).
    Returns the settled trials and the number of batches."""
    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

    from pyspark import inheritable_thread_target

    def in_pool(job):
        sc = spark.sparkContext
        if sc.getLocalProperty("spark.scheduler.pool") is None:
            sc.setLocalProperty("spark.scheduler.pool", "maggy")
        return job()

    # wrapped here, in the driver thread: the pool threads inherit the
    # caller's job group and local properties
    run = inheritable_thread_target(spark)(in_pool)
    all_trials: list[Trial] = []
    batches = 0
    in_flight: dict = {}  # future -> its batch
    with ThreadPoolExecutor(max_workers=slots) as pool:
        while True:
            while len(in_flight) < slots and not controller.done():
                batch = controller.next_batch(size)
                if not batch:
                    break
                in_flight[pool.submit(run, start(batch))] = batch
                batches += 1
            if not in_flight:
                # nothing runnable and nothing in flight: ask done()
                # once more — it is the hook that fires a reference
                # optimizer's finalize_experiment, which must run on
                # EVERY exit, not only the done()-gated one
                controller.done()
                break
            if batches > 100_000:
                raise RuntimeError("experiment did not converge (batch limit)")
            finished, _ = wait(in_flight, return_when=FIRST_COMPLETED)
            settled = []
            for f in finished:
                by_id = {t.trial_id: t for t in in_flight.pop(f)}
                for r in f.result():
                    t = by_id[r["trial_id"]]
                    _settle_trial(t, r, len(all_trials) + 1)
                    if t.status == Trial.ERROR:
                        controller.report_error(t)  # rung ledgers / busy sets / done() accounting
                    else:
                        controller.finalize_trial(t)
                    all_trials.append(t)
                    settled.append(t)
            if on_settle is not None:
                on_settle(settled, len(all_trials))
    return all_trials, batches


def _drive(train_fn, config, spark, controller, parallelism, store=None, exp_dir=None) -> tuple[list[Trial], int]:
    """HPO over `_refill`: each batch is one `run_trial_wave` Spark
    job. `config.scheduling` decides only the batch shape: "async"
    keeps `parallelism` single-trial batches in flight; "wave" runs
    one batch of up to `parallelism` trials once the previous one
    settles."""
    from maggy_spark.executor import _dumps_by_value

    is_async = config.scheduling == "async"
    # the train_fn and a custom early-stop rule are static within one
    # experiment: pickle each once here, not per batch
    fn_bytes = _dumps_by_value(train_fn)
    rule_fn = _es_custom_rule(config)
    rule_b64 = None if rule_fn is None else base64.b64encode(_dumps_by_value(rule_fn)).decode("ascii")
    tb_base = _tb_base(config)
    # continuous early-stop bar (reference re-evaluates the rule at
    # every METRIC heartbeat, optimization_driver.py:456-471): the
    # driver republishes the bar file as trials settle and in-flight
    # trials re-read it at their next broadcast. Async only: a wave's
    # trials settle together, so none is left in flight to read it.
    # Under log_dir the file is on the experiment's (shared) storage;
    # tmpdir in local mode.
    bar_path = None
    if is_async and _es_enabled(config):
        base = config.log_dir or tempfile.gettempdir()
        os.makedirs(base, exist_ok=True)
        bar_path = os.path.join(base, f".maggy_bar_{config.name}_{os.getpid()}_{id(controller):x}.json")

    def start(batch: list[Trial]):
        pending = [
            {"trial_id": t.trial_id, "params": t.params, "budget": int(t.info_dict.get("budget", 0))}
            for t in batch
        ]
        stop_src = _stop_source(controller, config, rule_b64, bar_path)
        return lambda: run_trial_wave(
            spark, pending, train_fn,
            optimization_key=config.optimization_key,
            stop_check_source=stop_src,
            tb_base_dir=tb_base,
            fn_bytes=fn_bytes,
            log_dir=exp_dir,
        )

    def on_settle(settled: list[Trial], n_done: int) -> None:
        if bar_path is not None:
            _publish_bar(controller, config, bar_path)
        if store is not None:
            store.append_trials(settled)
            store.append_metrics(settled)
        _log_progress(controller, n_done)

    slots, size = (parallelism, 1) if is_async else (1, parallelism)
    try:
        return _refill(spark, controller, slots, size, start, on_settle)
    finally:
        if bar_path is not None:
            try:
                os.remove(bar_path)
            except OSError:
                pass


def trials_to_df(spark: SparkSession, trials: list[Trial], direction: str = "max"):
    """Materialize driver-side trials as the `trials` DataFrame
    (FIXTURES.md F2 schema)."""
    rows = [t.to_row(seq=t.info_dict.get("seq", i), direction=direction, budget=int(t.info_dict.get("budget", 0)))
            for i, t in enumerate(trials)]
    return spark.createDataFrame(rows, TRIALS_SCHEMA)


def summarize_finalized(finalized_df, direction: str) -> dict:
    """The A1 summary over a FINALIZED-trials relation — shared by the
    experiment finalize path and the live ExperimentStore.

    Null metrics are excluded from best/worst/avg (a null struct field
    would sort below every real metric under min and win `worst`);
    num_trials still counts every finalized row. Plain double avg:
    user metrics have arbitrary scale (a loss of 4e-5 would round to
    0 under the oracle kernel's decimal(18,4) accumulator, which
    exists for cross-engine parity on the fixtures, not results).
    """
    sign = -1.0 if direction == "min" else 1.0
    key = F.col("final_metric") * sign
    agg = finalized_df.agg(
        F.max(
            F.when(
                F.col("final_metric").isNotNull(),
                F.struct(key.alias("m"), (-F.col("seq")).alias("ns"), F.col("trial_id"), F.col("final_metric")),
            )
        ).alias("b"),
        F.min(
            F.when(
                F.col("final_metric").isNotNull(),
                F.struct(key.alias("m"), F.col("seq"), F.col("trial_id"), F.col("final_metric")),
            )
        ).alias("w"),
        F.avg("final_metric").alias("avg"),
        F.count("*").alias("num_trials"),
        F.sum(F.when(F.col("early_stop"), 1).otherwise(0)).cast("bigint").alias("early_stopped"),
    ).collect()[0]
    if agg.num_trials == 0 or agg.b is None:
        return {"num_trials": int(agg.num_trials or 0), "early_stopped": int(agg.early_stopped or 0)}
    return {
        "best_id": agg.b.trial_id,
        "best_val": agg.b.final_metric,
        "worst_id": agg.w.trial_id,
        "worst_val": agg.w.final_metric,
        "avg": agg.avg,
        "num_trials": agg.num_trials,
        "early_stopped": agg.early_stopped,
    }


def _aggregate_result(spark: SparkSession, trials: list[Trial], direction: str) -> dict:
    """The A1 result aggregation over the experiment's own trials DF
    (reference optimization_driver.py:344-406 + prep_results)."""
    if not trials:
        return {"num_trials": 0, "early_stopped": 0}
    if not any(t.status == Trial.FINALIZED for t in trials):
        errs = sum(t.status == Trial.ERROR for t in trials)
        return {"num_trials": len(trials), "errors": errs, "early_stopped": 0}
    df = trials_to_df(spark, trials, direction).where(F.col("status") == "FINALIZED")
    return summarize_finalized(df, direction)
