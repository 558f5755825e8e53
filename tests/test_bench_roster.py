"""bench.py's roster: one entry per measured row, in artifact order, and
one timing function whose reset/tick sequence is pinned here with stub
steps (no Spark session) plus one small in-process smoke run."""

import json
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

import bench

REPO = Path(__file__).resolve().parent.parent


def test_every_row_comes_from_exactly_one_entry_in_record_order():
    rows = [row for entry in bench.roster() for row in entry.rows]
    assert len(rows) == len(set(rows)) == 108
    record = json.loads((REPO / "BENCH_r15.json").read_text())["parsed"]["queries"]
    assert rows == list(record)


@pytest.fixture
def trace(monkeypatch):
    """Record resets, clearCaches, ticks, job groups and step calls in order."""
    calls = []
    clock = iter(range(1000))
    monkeypatch.setattr(bench, "_rep_reset", lambda spark: calls.append("reset"))

    def tick(spark):
        calls.append("tick")
        return next(clock)

    monkeypatch.setattr(bench, "_tick", tick)
    monkeypatch.setattr(bench.time, "time", lambda: next(clock))
    sc = SimpleNamespace(setJobGroup=lambda group, desc: calls.append(group))
    catalog = SimpleNamespace(clearCache=lambda: calls.append("clearCache"))
    return calls, SimpleNamespace(sparkContext=sc, catalog=catalog)


def _step(calls, name, fail_on=None):
    def step(spark, sf_dir, prev):
        calls.append(f"{name}({prev})")
        if fail_on is not None and sum(c.startswith(f"{name}(") for c in calls) == fail_on:
            raise RuntimeError("boom")
        return name

    return step


def test_cold_pair_resets_before_every_rep_and_reruns_warm(trace):
    calls, spark = trace
    e = bench.Entry(("cold", "warm"), (_step(calls, "q"), _step(calls, "q")))
    timings, _spreads, partials = bench.run(spark, "sf", [e], reps=2, max_reps=2)
    rep = ["reset", "bench:cold", "tick", "q(None)", "bench:warm", "tick", "q(q)"]
    assert calls == rep * 2
    assert set(timings) == {"cold", "warm"} and partials == {}


def test_chain_feeds_each_step_the_previous_result(trace):
    calls, spark = trace
    e = bench.Entry(("train", "encode"), (_step(calls, "train"), _step(calls, "encode")))
    bench.run(spark, "sf", [e], reps=1, max_reps=1)
    assert calls == ["reset", "bench:train", "tick", "train(None)",
                     "bench:encode", "tick", "encode(train)"]


def test_warm_store_sets_up_once_and_never_resets_between_reps(trace):
    calls, spark = trace

    def setup(spark, sf_dir):
        calls.append("setup")

    def derived(spark, sf_dir, prev):
        calls.append("run")
        return {"split": 0.5}

    e = bench.Entry(("wall", "split"), (derived,), "warm-store", setup)
    timings, spreads, _partials = bench.run(spark, "sf", [e], reps=3, max_reps=3)
    assert calls == ["clearCache", "bench:wall:setup", "setup"] + ["bench:wall", "tick", "run"] * 3
    assert timings["split"] == 0.5 and spreads["split"] == 0.0


def test_failure_on_rep_two_keeps_every_row_visible(trace, capsys):
    calls, spark = trace
    e = bench.Entry(("a", "b"), (_step(calls, "a"), _step(calls, "b", fail_on=2)))
    timings, _spreads, partials = bench.run(spark, "sf", [e], reps=3, max_reps=3)
    assert calls == ["reset", "bench:a", "tick", "a(None)", "bench:b", "tick", "b(a)",
                     "reset", "bench:a", "tick", "a(None)", "bench:b", "tick", "b(a)",
                     "reset"]
    assert partials == {"a": 2, "b": 1}
    assert timings["a"] >= 0 and timings["b"] >= 0
    assert "BENCH ERROR a,b" in capsys.readouterr().err


def test_failure_on_rep_one_records_minus_one_for_every_row(trace):
    calls, spark = trace

    def setup(spark, sf_dir):
        raise RuntimeError("boom")

    e = bench.Entry(("x", "y", "z"), (_step(calls, "x"),), "warm-store", setup)
    timings, _spreads, partials = bench.run(spark, "sf", [e], reps=3, max_reps=3)
    assert timings == {"x": -1.0, "y": -1.0, "z": -1.0} and partials == {}


def test_noisy_first_row_buys_reps_up_to_the_cap(trace, monkeypatch):
    calls, spark = trace
    clock = iter([0, 1, 10, 30, 40, 41, 50, 90, 100, 101])  # (t0, t1) per rep
    monkeypatch.setattr(bench, "_tick", lambda spark: next(clock))
    monkeypatch.setattr(bench.time, "time", lambda: next(clock))
    e = bench.Entry(("q",), (_step(calls, "q"),))
    timings, spreads, _ = bench.run(spark, "sf", [e], reps=2, max_reps=5)
    assert sum(c.startswith("q(") for c in calls) == 5
    assert timings["q"] == 1 and spreads["q"] == 39


def test_rows_selects_whole_entries_and_rejects_unknown_names():
    entries = bench.roster()
    picked = bench.select(entries, ["a1_result_summary", "ann11_semdedup"])
    assert [e.rows for e in picked] == [("a1_result_summary",), ("ann10_kmeans", "ann11_semdedup")]
    with pytest.raises(SystemExit):
        bench.select(entries, ["no_such_row"])


def test_operator_map_covers_registry_extras_and_chain_operators():
    from maggy_spark import registry

    ops = bench.operators()
    assert set(registry.queries()) <= set(ops)
    assert {*bench.EXTRAS, "ann11_semdedup_prune", "ann14_recall_eval"} <= set(ops)


def test_rows_subset_runs_in_process(spark, sf_dir):
    entries = bench.select(bench.roster(), ["a1_result_summary", "ann11_semdedup"])
    timings, _spreads, partials = bench.run(spark, sf_dir, entries, reps=1, max_reps=1)
    assert set(timings) == {"a1_result_summary", "ann10_kmeans", "ann11_semdedup"}
    assert all(v >= 0 for v in timings.values()) and partials == {}


def test_registry_import_failure_raises(monkeypatch):
    """A broken operator-module import must fail queries(), not shrink it."""
    import maggy_spark.functions as functions
    from maggy_spark import registry

    monkeypatch.setitem(sys.modules, "maggy_spark.functions.dedup", None)
    monkeypatch.delattr(functions, "dedup")
    with pytest.raises(ImportError):
        registry.queries()
