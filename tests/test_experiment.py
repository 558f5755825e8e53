"""End-to-end lagom runs — the shape of the reference's own e2e test
(`maggy/tests/test_randomsearch.py:66-100`: 5-trial random search,
reporter broadcasts, result is a dict with best/worst/avg)."""

import pytest

from maggy_spark import Searchspace, lagom
from maggy_spark.config import BaseConfig, HyperparameterOptConfig
from maggy_spark.optimizers import Asha, GridSearch, RandomSearch


def quadratic_train_fn(x, y, reporter):
    # deterministic "training": maximize -(x-0.3)^2 - (y-5)^2/100
    val = -((x - 0.3) ** 2) - ((y - 5) ** 2) / 100.0
    for step in range(3):
        reporter.broadcast(val * (step + 1) / 3.0, step)
    return val


SP = {"x": ("DOUBLE", [0.0, 1.0]), "y": ("INTEGER", [0, 10])}


def test_random_search_e2e(spark):
    config = HyperparameterOptConfig(
        num_trials=5,
        optimizer="randomsearch",
        searchspace=Searchspace(**SP),
        direction="max",
        es_policy="none",
        seed=42,
    )
    res = lagom(quadratic_train_fn, config, spark)
    assert res["num_trials"] == 5
    assert res["best_val"] >= res["avg"] >= res["worst_val"]
    assert set(res["best_config"]) == {"x", "y"}
    assert res["best_val"] == pytest.approx(
        -((res["best_config"]["x"] - 0.3) ** 2) - ((res["best_config"]["y"] - 5) ** 2) / 100.0
    )


def test_random_search_deterministic_under_seed(spark):
    def run():
        config = HyperparameterOptConfig(
            num_trials=4, optimizer="randomsearch",
            searchspace=Searchspace(**SP), direction="max", es_policy="none", seed=7,
        )
        return lagom(quadratic_train_fn, config, spark)

    r1, r2 = run(), run()
    assert r1["best_id"] == r2["best_id"]
    assert r1["best_val"] == r2["best_val"]


def test_grid_search_e2e(spark):
    def fn(a, b):
        return float(len(a)) * b

    config = HyperparameterOptConfig(
        optimizer="gridsearch",
        searchspace=Searchspace(a=("CATEGORICAL", ["s", "ss", "sss"]), b=("DISCRETE", [1, 2])),
        direction="max",
        es_policy="none",
    )
    res = lagom(fn, config, spark)
    assert res["num_trials"] == 6  # full product
    assert res["best_val"] == 6.0  # 'sss' * 2
    assert res["worst_val"] == 1.0


def test_min_direction(spark):
    def fn(x):
        return (x - 0.5) ** 2

    config = HyperparameterOptConfig(
        num_trials=6, optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="min", es_policy="none", seed=3,
    )
    res = lagom(fn, config, spark)
    assert res["best_val"] <= res["avg"] <= res["worst_val"]


def test_asha_promotes(spark):
    def fn(x, budget=1):
        # better x and more budget -> better metric
        return x * budget

    config = HyperparameterOptConfig(
        num_trials=8,
        optimizer=Asha(reduction_factor=2, resource_min=1, resource_max=4),
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max", es_policy="none", seed=11, parallelism=4,
    )
    res = lagom(fn, config, spark)
    assert res["num_trials"] >= 8  # rung-0 plus promotions
    # the winner must be a promoted high-budget trial
    assert res["best_val"] > 1.0


def test_error_trial_does_not_kill_experiment(spark):
    calls = {"n": 0}

    def fn(x):
        if x < 0.5:
            raise RuntimeError("boom")
        return x

    config = HyperparameterOptConfig(
        num_trials=6, optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max", es_policy="none", seed=5,
    )
    res = lagom(fn, config, spark)
    # errored trials excluded from aggregates but experiment completes
    assert res["num_trials"] >= 1
    assert res["best_val"] >= 0.5


def test_early_stop_median_rule(spark):
    # 10 good trials establish the bar; then bad trials get stopped at
    # their first broadcast past es_interval
    def fn(x, reporter):
        base = 100.0 if x >= 0.5 else -100.0
        for step in range(5):
            reporter.broadcast(base + step, step)
        return base + 4

    sp = Searchspace(x=("DOUBLE", [0.0, 1.0]))
    config = HyperparameterOptConfig(
        num_trials=24, optimizer="randomsearch", searchspace=sp,
        direction="max", es_policy="median", es_interval=1, es_min=8,
        seed=13, parallelism=8,
    )
    res = lagom(fn, config, spark)
    assert res["num_trials"] + res["early_stopped"] >= 24 or res["early_stopped"] > 0


def test_base_config_single_run(spark):
    def fn():
        return 42.0

    res = lagom(fn, BaseConfig(), spark)
    assert res["test result"] == 42.0


def test_invalid_optimizer_rejected(spark):
    with pytest.raises(ValueError):
        lagom(
            quadratic_train_fn,
            HyperparameterOptConfig(optimizer="bogus", searchspace=Searchspace(**SP)),
            spark,
        )


def test_gridsearch_rejects_continuous():
    g = GridSearch()
    with pytest.raises(ValueError):
        g.initialize(Searchspace(x=("DOUBLE", [0, 1])), 5, "max", None)


def test_randomsearch_requires_continuous():
    r = RandomSearch()
    with pytest.raises(ValueError):
        r.initialize(Searchspace(c=("CATEGORICAL", ["a", "b"])), 5, "max", None)


def test_by_value_modules_reaches_closures_and_containers():
    """User callables hidden inside closures, defaults, and dicts must
    register their modules for by-value pickling — otherwise a
    library wrapper ships the user function by reference and executors
    die with ModuleNotFoundError."""
    import sys
    import types

    from maggy_spark.executor import _by_value_modules

    usermod = types.ModuleType("fake_user_script_xyz")
    exec("def user_fn():\n    return 42\n", usermod.__dict__)
    sys.modules["fake_user_script_xyz"] = usermod
    try:
        user_fn = usermod.user_fn

        def wrapper():
            return user_fn()

        assert usermod in _by_value_modules(user_fn)
        assert usermod in _by_value_modules(wrapper)          # closure cell
        assert usermod in _by_value_modules({"module": user_fn})  # config dict

        def with_default(f=user_fn):
            return f()

        assert usermod in _by_value_modules(with_default)     # default arg
    finally:
        del sys.modules["fake_user_script_xyz"]


# -- bounded trial-log transport (round-6 verdict item 4) ---------------


def test_chatty_trial_logs_bounded_and_full_log_sunk(spark, tmp_path):
    """A train_fn printing ~10 MB must yield a BOUNDED result row
    (tail + truncation marker) while the full capture lands under
    <log_dir>/trial_logs/<trial_id>.log."""
    from maggy_spark.executor import MAX_RESULT_LOG_LINES, run_trial_wave

    n_lines = 250_000  # ~10 MB at ~42 chars/line

    def chatty(x):
        for i in range(250_000):
            print(f"step {i}: loss=0.123456789 acc=0.98765 x={x}")
        return 1.0

    res = run_trial_wave(
        spark, [{"trial_id": "t_chatty", "params": {"x": 1}}], chatty, log_dir=str(tmp_path)
    )
    row = res[0]
    assert len(row["logs"]) == MAX_RESULT_LOG_LINES + 1  # tail + marker
    assert "truncated" in row["logs"][0] and "trial_logs" in row["logs"][0]
    assert row["logs"][-1].startswith(f"step {n_lines - 1}:")
    full = (tmp_path / "trial_logs" / "t_chatty.log").read_text().rstrip("\n").split("\n")
    assert len(full) == n_lines
    assert full[-1] == row["logs"][-1]
    assert full[0].startswith("step 0:")


def test_quiet_trial_logs_pass_through_unchanged(spark, tmp_path):
    from maggy_spark.executor import run_trial_wave

    def quiet(x):
        print("hello")
        return float(x)

    res = run_trial_wave(
        spark, [{"trial_id": "t_q", "params": {"x": 2}}], quiet, log_dir=str(tmp_path)
    )
    assert res[0]["logs"] == ["hello"]
    assert (tmp_path / "trial_logs" / "t_q.log").read_text() == "hello\n"


def test_lagom_full_logs_under_experiment_dir(spark, tmp_path):
    """e2e: with log_dir configured, every trial's full print capture
    lands under the EXPERIMENT dir (not the log_dir root), and the
    persisted trials relation carries only bounded log arrays."""
    from maggy_spark.executor import MAX_RESULT_LOG_LINES

    def noisy(x, reporter):
        for i in range(MAX_RESULT_LOG_LINES + 50):
            print(f"line {i}")
        reporter.broadcast(float(x), 0)
        return float(x)

    config = HyperparameterOptConfig(
        num_trials=3,
        optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max",
        es_policy="none",
        seed=3,
        name="exp_logs",
        log_dir=str(tmp_path),
    )
    res = lagom(noisy, config, spark)
    import os

    ldir = os.path.join(res["log_dir"], "trial_logs")
    log_files = os.listdir(ldir)
    assert len(log_files) == 3
    for f in log_files:
        lines = open(os.path.join(ldir, f)).read().rstrip("\n").split("\n")
        assert len(lines) == MAX_RESULT_LOG_LINES + 50  # nothing truncated in the sink


def test_async_scheduling_also_sinks_full_logs(spark, tmp_path):
    """The async (per-trial FAIR-pool) dispatch path passes the
    experiment dir to the executor exactly like the wave path."""
    def chatty(x, reporter):
        for i in range(250):
            print(f"l{i}")
        reporter.broadcast(float(x), 0)
        return float(x)

    config = HyperparameterOptConfig(
        num_trials=3,
        optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max",
        es_policy="none",
        seed=9,
        name="exp_async_logs",
        log_dir=str(tmp_path),
        scheduling="async",
        parallelism=2,
    )
    res = lagom(chatty, config, spark)
    import os

    ldir = os.path.join(res["log_dir"], "trial_logs")
    assert len(os.listdir(ldir)) == 3
    for f in os.listdir(ldir):
        assert open(os.path.join(ldir, f)).read().count("\n") == 250


def test_aggregate_all_error_trials_runs_no_job(spark, job_group):
    from maggy_spark.experiment import _aggregate_result
    from maggy_spark.trial import Trial

    trials = []
    for i in range(3):
        t = Trial({"x": i})
        t.status = Trial.ERROR
        t.info_dict["seq"] = i + 1
        trials.append(t)
    res = _aggregate_result(spark, trials, "max")
    assert res == {"num_trials": 3, "errors": 3, "early_stopped": 0}
    assert job_group() == []


@pytest.mark.parametrize("scheduling, batches", [("async", 8), ("wave", 2)])
def test_async_trial_jobs_inherit_job_group(spark, job_group, scheduling, batches):
    config = HyperparameterOptConfig(
        num_trials=8, optimizer="randomsearch", searchspace=Searchspace(**SP),
        direction="max", es_policy="none", seed=3, parallelism=4, scheduling=scheduling,
    )
    res = lagom(lambda x, y: x + y, config, spark)
    assert res["num_waves"] == batches
    # one job per batch in the pool threads, plus the driver's aggregate
    assert len(job_group()) >= batches + 1


@pytest.mark.parametrize("pool", [None, "mine"])
def test_trial_jobs_scheduler_pool(spark, pool):
    """Trial jobs run in the 'maggy' scheduler pool unless the caller
    set a pool of its own, which then wins."""
    want = pool or "maggy"

    def train(x, y):
        from pyspark import TaskContext

        return 1.0 if TaskContext.get().getLocalProperty("spark.scheduler.pool") == want else 0.0

    sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        res = lagom(train, HyperparameterOptConfig(
            num_trials=4, optimizer="randomsearch", searchspace=Searchspace(**SP),
            direction="max", es_policy="none", seed=3, parallelism=2,
        ), spark)
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)
    assert res["num_trials"] == 4
    assert res["worst_val"] == 1.0
