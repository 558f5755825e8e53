"""ExperimentStore: live relational analytics over a running
experiment's trials/metrics tables."""

import os

import pytest

from maggy_spark.experiment import trials_to_df
from maggy_spark.store import METRICS_SCHEMA, ExperimentStore
from maggy_spark.trial import Trial


def _trial(seq, metric, budget=0, steps=(1.0, 2.0, 3.0)):
    t = Trial({"x": seq})
    for i, v in enumerate(steps):
        t.append_metric(v * metric, i)
    t.finalize(metric)
    t.info_dict["seq"] = seq
    t.info_dict["budget"] = budget
    return t


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("store")
    s = ExperimentStore(spark, str(tmp_path / "exp"), direction="max")
    wave1 = [_trial(1, 10.0, budget=1), _trial(2, 30.0, budget=1)]
    s.append_trials(wave1)
    s.append_metrics(wave1)
    wave2 = [_trial(3, 20.0, budget=2), _trial(4, 40.0, budget=2)]
    s.append_trials(wave2)
    s.append_metrics(wave2)
    return s


def test_incremental_appends_visible(store):
    assert store.trials().count() == 4
    assert store.metrics().count() == 12


def test_result_summary_matches_kernel_shape(store):
    res = store.result_summary()
    assert res["best_val"] == 40.0 and res["worst_val"] == 10.0
    assert res["num_trials"] == 4
    assert res["avg"] == pytest.approx(25.0)


def test_budget_stats_direction_aware(store):
    rows = {r.budget: r for r in store.budget_stats().collect()}
    # direction='max': ybest is the BEST (largest) metric
    assert rows[1].ybest == 30.0 and rows[1].yworst == 10.0
    assert rows[2].ybest == 40.0 and rows[2].yworst == 20.0
    assert rows[2].n_trials == 2


def test_result_summary_ignores_null_metrics(spark, tmp_path):
    s = ExperimentStore(spark, str(tmp_path / "nullm"), direction="max")
    good = [_trial(1, 10.0), _trial(2, 5.0)]
    broken = Trial({"x": 99})
    broken.finalize(None)  # finalized without a metric
    broken.info_dict["seq"] = 3
    s.append_trials(good + [broken])
    res = s.result_summary()
    assert res["worst_val"] == 5.0  # not the null-metric trial
    assert res["best_val"] == 10.0
    assert res["num_trials"] == 3  # still counted


def test_append_without_seq_stays_unique(spark, tmp_path):
    s = ExperimentStore(spark, str(tmp_path / "seqless"), direction="max")

    def bare(metric):
        t = Trial({"m": metric})
        t.finalize(metric)
        return t

    s.append_trials([bare(1.0), bare(2.0)])
    s.append_trials([bare(3.0), bare(4.0)])
    seqs = [r.seq for r in s.trials().collect()]
    assert len(seqs) == len(set(seqs)) == 4  # unique across waves


def test_promotable_top_half(store):
    promo = {r.rung: r.trial_id for r in store.promotable(eta=2).collect()}
    # per rung: top floor(2/2)=1 by metric desc
    t = {r.seq: r.trial_id for r in store.trials().collect()}
    assert promo[1] == t[2]  # metric 30 beats 10
    assert promo[2] == t[4]  # metric 40 beats 20


def test_median_bar(store):
    # prefix means over first 3 steps: 2*metric for each trial ->
    # [20, 60, 40, 80]; median = 50
    assert store.median_bar(step_limit=3) == pytest.approx(50.0)


def test_empty_store_summary(spark, tmp_path):
    s = ExperimentStore(spark, str(tmp_path / "empty"))
    s.append_trials([])
    with pytest.raises(Exception):
        s.trials().count()  # nothing written yet -> no parquet path


def test_lagom_streams_to_store(spark, tmp_path):
    from maggy_spark import Searchspace, lagom
    from maggy_spark.config import HyperparameterOptConfig

    def fn(x, reporter):
        reporter.broadcast(x, 0)
        reporter.broadcast(x * 2, 1)
        return x

    cfg = HyperparameterOptConfig(
        name="live_exp", num_trials=6, optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0, 1])),
        direction="max", es_policy="none", seed=4, parallelism=3,
        log_dir=str(tmp_path), stream_artifacts=True,
    )
    res = lagom(fn, cfg, spark)
    live = ExperimentStore(spark, f"{tmp_path}/live_exp_0/live", direction="max")
    assert live.trials().count() == 6
    assert live.metrics().count() == 12  # 2 broadcasts per trial
    summary = live.result_summary()
    assert summary["best_val"] == res["best_val"]
    assert summary["num_trials"] == 6


def test_streaming_run_keeps_single_dir(spark, tmp_path):
    from maggy_spark import Searchspace, lagom
    from maggy_spark.config import HyperparameterOptConfig
    import os

    cfg = HyperparameterOptConfig(
        name="single_dir", num_trials=2, optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0, 1])),
        direction="max", es_policy="none", seed=9,
        log_dir=str(tmp_path), stream_artifacts=True,
    )
    res = lagom(lambda x: x, cfg, spark)
    # live store and final artifacts share one run dir
    assert res["log_dir"].endswith("single_dir_0")
    assert os.path.isdir(f"{res['log_dir']}/live")
    assert os.path.exists(f"{res['log_dir']}/result.json")
    assert not os.path.isdir(f"{tmp_path}/single_dir_1")


def test_promotable_min_direction_ignores_null_metrics(spark, tmp_path):
    s = ExperimentStore(spark, str(tmp_path / "minp"), direction="min")
    broken = Trial({"x": 99})
    broken.finalize(None)  # finalized, no metric: must never win a rung
    broken.info_dict["seq"] = 3
    s.append_trials([_trial(1, 10.0, budget=1), _trial(2, 5.0, budget=1), broken])
    promo = s.promotable(eta=2).collect()
    assert [r.trial_id for r in promo] != []
    # min direction, rung budget=1, floor(2/2)=1 slot: metric 5.0
    # wins and the null-metric trial is excluded everywhere
    t = {r.seq: r.trial_id for r in s.trials().collect()}
    assert [r.trial_id for r in promo if r.rung == 1] == [t[2]]
    assert all(r.final_metric is not None for r in promo)


def test_append_rebases_preset_seq_across_handles(spark, tmp_path):
    path = str(tmp_path / "tworuns")
    s1 = ExperimentStore(spark, path, direction="max")
    s1.append_trials([_trial(1, 1.0), _trial(2, 2.0)])
    # a SECOND run (fresh handle) appends its own 1-based seqs
    s2 = ExperimentStore(spark, path, direction="max")
    s2.append_trials([_trial(1, 3.0), _trial(2, 4.0)])
    seqs = sorted(r.seq for r in s2.trials().collect())
    assert seqs == [1, 2, 3, 4]  # unique and monotone, not 1,1,2,2


def test_live_schemas_match_the_declared_ones(spark, store):
    from pyspark.sql.types import StructType

    assert store.trials().schema == trials_to_df(spark, [_trial(1, 1.0)], "max").schema
    assert store.metrics().schema == StructType.fromDDL(METRICS_SCHEMA)


def test_spark_written_part_and_arrow_appends_read_as_one(spark, tmp_path):
    """A store written by Spark's parquet writer (as earlier live stores
    were) keeps working: Arrow appends land beside its part."""
    path = str(tmp_path / "mixed")
    old = [_trial(1, 10.0, budget=1), _trial(2, 30.0, budget=1)]
    trials_to_df(spark, old, "max").coalesce(1).write.parquet(os.path.join(path, "trials"))
    s = ExperimentStore(spark, path, direction="max")
    s.append_trials([_trial(1, 20.0, budget=2)])
    s.append_trials([_trial(1, 40.0, budget=2)])
    seqs = {r.seq: r.final_metric for r in s.trials().collect()}
    assert seqs == {1: 10.0, 2: 30.0, 3: 20.0, 4: 40.0}
    res = s.result_summary()
    assert (res["best_val"], res["worst_val"], res["num_trials"]) == (40.0, 10.0, 4)
    assert res["avg"] == pytest.approx(25.0)


def test_append_runs_no_spark_job(spark, tmp_path, job_group):
    s = ExperimentStore(spark, str(tmp_path / "nojob"), direction="max")
    wave = [_trial(1, 1.0), _trial(2, 2.0)]
    s.append_trials(wave)
    s.append_metrics(wave)
    assert job_group() == []


def test_append_leaves_no_temp_file(store):
    for table in ("trials", "metrics"):
        names = os.listdir(os.path.join(store.path, table))
        assert names and all(n.startswith("part-") and n.endswith(".parquet") for n in names)


def test_unreadable_reused_store_fails_loudly(spark, tmp_path):
    """A reused store whose trials table cannot be read must raise, not
    restart seq at 0 and write duplicate tie-break keys."""
    path = tmp_path / "broken"
    (path / "trials").mkdir(parents=True)
    (path / "trials" / "part-x.parquet").write_text("not parquet")
    s = ExperimentStore(spark, str(path), direction="max")
    with pytest.raises(Exception):
        s.append_trials([_trial(1, 1.0)])
    assert os.listdir(path / "trials") == ["part-x.parquet"]
