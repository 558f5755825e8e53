"""Distributed trial execution: the user train_fn as a grouped pandas UDF.

Replaces the reference's long-held `foreachPartition` workers + TCP
control plane (`maggy/core/executors/trial_executor.py:35-213`,
`maggy/core/rpc.py`) with short-lived Spark jobs: each wave of
pending trials becomes a DataFrame with exactly one trial per
partition (`parallelize` slicing), `mapInPandas` fans the user
function out one task per trial, and results come back as rows.
Spark task retries replace the reference's lost-trial blacklist
(C10); no sockets.

Kwarg injection mirrors `trial_executor.py:166-179` (signature
inspection); return normalization mirrors `util.handle_return_val`
(`maggy/util.py:159-199`); early stop surfaces as an exception at
`reporter.broadcast`, exactly the reference's cooperative contract
(`reporter.py:100-101`).

Scale: one trial = one group = one task; a 10k-trial wave is a 10k-
task stage. Params travel as JSON strings (bytes per trial), datasets
are read by the train_fn from shared storage — identical data
movement profile to the reference (§4.2) minus the socket chatter.
"""

from __future__ import annotations

import inspect
import json
import time
from pathlib import Path
from typing import Any, Callable

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from maggy_spark.reporter import EarlyStopException, Reporter

# Result rows are control-plane: per-trial logs above this line count
# ride the S7 file sink (run_trial_wave log_dir), not the collect()
MAX_RESULT_LOG_LINES = 200

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("trial_id", T.StringType()),
        T.StructField("final_metric", T.DoubleType()),
        T.StructField("metric_history", T.ArrayType(T.DoubleType())),
        T.StructField("step_history", T.ArrayType(T.LongType())),
        T.StructField("early_stop", T.BooleanType()),
        T.StructField("error", T.StringType()),
        T.StructField("logs", T.ArrayType(T.StringType())),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def build_kwargs(train_fn: Callable, hparams: dict, reporter: Reporter, extras: dict | None = None) -> dict:
    """Signature-driven injection (reference trial_executor.py:166-179):
    parameter names matching hparams get the value; `reporter`,
    `hparams`/`params`, and extras (model/dataset/budget) by name;
    **kwargs functions receive everything."""
    extras = extras or {}
    sig = inspect.signature(train_fn)
    has_var_kw = any(p.kind == inspect.Parameter.VAR_KEYWORD for p in sig.parameters.values())
    kwargs: dict[str, Any] = {}
    for name, p in sig.parameters.items():
        if p.kind in (inspect.Parameter.VAR_POSITIONAL, inspect.Parameter.VAR_KEYWORD):
            continue
        if name == "reporter":
            kwargs[name] = reporter
        elif name in ("hparams", "params"):
            kwargs[name] = dict(hparams)
        elif name in hparams:
            kwargs[name] = hparams[name]
        elif name in extras:
            kwargs[name] = extras[name]
        elif p.default is inspect.Parameter.empty:
            raise TypeError(
                f"train_fn parameter {name!r} matches no hyperparameter, "
                f"no injected extra {sorted(extras)}, and has no default"
            )
    if has_var_kw:
        for k, v in hparams.items():
            kwargs.setdefault(k, v)
        kwargs.setdefault("reporter", reporter)
    return kwargs


def normalize_return(value: Any, optimization_key: str) -> float:
    """Scalar-or-dict return contract (reference util.py:159-199)."""
    import numbers

    if isinstance(value, dict):
        if optimization_key not in value:
            raise ValueError(
                f"train_fn returned a dict without optimization key {optimization_key!r}: "
                f"keys={sorted(value)}"
            )
        value = value[optimization_key]
    if value is None or not isinstance(value, numbers.Number):
        raise ValueError(f"train_fn must return a number or dict with a numeric "
                         f"{optimization_key!r}; got {type(value).__name__}")
    return float(value)


def run_trial_wave(
    spark: SparkSession,
    pending: list[dict],
    train_fn: Callable,
    optimization_key: str = "metric",
    stop_check_source: str | None = None,
    tb_base_dir: str | None = None,
    fn_bytes: bytes | None = None,
    log_dir: str | None = None,
) -> list[dict]:
    """Execute one wave of pending trials as a grouped pandas UDF.

    `pending`: [{"trial_id": ..., "params": {...}, "budget": int}].
    `stop_check_source` is an optional serialized early-stop state
    (JSON) evaluated trial-locally at each broadcast — cooperative
    cancellation, SURVEY.md §7.3a.

    Results are the CONTROL PLANE (one row per trial), so the `logs`
    column is capped at MAX_RESULT_LOG_LINES tail lines per trial — a
    chatty train_fn printing MBs across 10k trials must not become
    driver memory. With `log_dir` set, each task writes its trial's
    FULL print capture to <log_dir>/trial_logs/<trial_id>.log before
    truncating (S7 log sink; like any Spark file sink this expects a
    driver-visible shared filesystem on a real cluster).
    """
    if not pending:
        return []
    rows = [
        (p["trial_id"], json.dumps({k: v for k, v in p["params"].items() if not callable(v)}),
         int(p.get("budget", 0)))
        for p in pending
    ]
    # Exactly one trial per task: parallelize with numSlices=len(rows)
    # puts exactly one row in each partition with no shuffle. Neither
    # groupBy().applyInPandas (re-shuffles to
    # spark.sql.shuffle.partitions, then AQE coalesces the tiny wave)
    # nor repartition(n) (round-robin starts at a RANDOM offset per
    # input partition, so partitions collide — measured [2,2,1,1,1,1,
    # 0,0] for 8 rows) guarantees that; both serialize trials.
    rdd = spark.sparkContext.parallelize(rows, numSlices=len(rows))
    df = spark.createDataFrame(rdd, "trial_id string, params_json string, budget int")

    # Serialize the train_fn BY VALUE: user functions typically live in
    # modules (notebooks, test files, scripts) that executor Python
    # workers cannot re-import; plain closure capture would pickle them
    # by reference and fail with ModuleNotFoundError on the worker.
    # The experiment driver passes pre-serialized bytes so the closure
    # walk + registry dance runs once per experiment, not per batch.
    if fn_bytes is None:
        fn_bytes = _dumps_by_value(train_fn)
    opt_key = optimization_key
    stop_src = stop_check_source
    tb_base = tb_base_dir
    log_base = log_dir

    # Captured as a plain string so the UDF closure below carries NO
    # references to maggy_spark module globals: python workers do not
    # inherit the driver's sys.path, so the closure must be able to
    # unpickle with stdlib alone, then bootstrap the package path and
    # import what it needs at call time.
    pkg_path = str(Path(__file__).resolve().parent.parent)

    def run_group(pdf):
        import json as _json
        import sys as _sys
        import time as _time

        import pandas as _pd
        from pyspark import cloudpickle as _cp

        if pkg_path not in _sys.path:
            _sys.path.insert(0, pkg_path)
        from maggy_spark.executor import _make_stop_check, build_kwargs, normalize_return
        from maggy_spark.reporter import EarlyStopException, Reporter

        fn = _cp.loads(fn_bytes)
        trial_id = pdf["trial_id"].iloc[0]
        hparams = _json.loads(pdf["params_json"].iloc[0])
        budget = int(pdf["budget"].iloc[0])
        if tb_base:
            # reference registers the trial's TensorBoard dir before the
            # user function runs (tensorboard.py:28-31), so in-function
            # `from maggy import tensorboard; tensorboard.logdir()` works
            import os as _os

            from maggy import tensorboard as _tb

            _tb._register(_os.path.join(tb_base, str(trial_id)))
        stop_check = _make_stop_check(stop_src)
        reporter = Reporter(stop_check=stop_check)
        t0 = _time.time()
        final = None
        early = False
        error = None
        # E4: tee user print() output into the trial logs (reference
        # monkey-patches builtins.print, trial_executor.py:93-103).
        # The capture is flushed in finally so prints from FAILING and
        # early-stopped trials survive — that's exactly the output
        # needed to debug an ERROR row.
        import contextlib
        import io

        buf = io.StringIO()
        try:
            kwargs = build_kwargs(fn, hparams, reporter, {"budget": budget} if budget else None)
            with contextlib.redirect_stdout(buf):
                ret = fn(**kwargs)
            final = normalize_return(ret, opt_key)
        except EarlyStopException as e:  # salvage last metric (trial_executor.py:194-196)
            final = e.metric
            early = True
        except Exception as e:  # noqa: BLE001 - errors become ERROR rows, not task failures
            error = f"{type(e).__name__}: {e}"
        finally:
            if buf.getvalue():
                reporter.logs.extend(buf.getvalue().rstrip("\n").split("\n"))
        logs = reporter.logs
        if log_base and logs:
            # full print capture -> per-trial artifact; the result row
            # only carries the bounded tail below
            import os as _os

            ldir = _os.path.join(log_base, "trial_logs")
            _os.makedirs(ldir, exist_ok=True)
            full_path = _os.path.join(ldir, f"{trial_id}.log")
            with open(full_path, "w") as fh:
                fh.write("\n".join(logs) + "\n")
        else:
            full_path = None
        if len(logs) > MAX_RESULT_LOG_LINES:
            dropped = len(logs) - MAX_RESULT_LOG_LINES
            marker = f"... [{dropped} earlier lines truncated" + (
                f"; full log: {full_path}]" if full_path else "]"
            )
            logs = [marker] + logs[-MAX_RESULT_LOG_LINES:]
        return _pd.DataFrame(
            [
                {
                    "trial_id": trial_id,
                    "final_metric": final,
                    "metric_history": reporter.metric_history,
                    "step_history": reporter.step_history,
                    "early_stop": early,
                    "error": error,
                    "logs": logs,
                    "duration_ms": int((_time.time() - t0) * 1000),
                }
            ]
        )

    def run_partition(batches):
        # normally exactly one trial per partition (parallelize
        # slicing above); the row loop still executes every trial
        # correctly if a partition ever carries more
        for pdf in batches:
            for i in range(len(pdf)):
                yield run_group(pdf.iloc[i : i + 1])

    out = df.mapInPandas(run_partition, RESULT_SCHEMA)
    return [r.asDict() for r in out.collect()]


_PICKLE_LOCK = __import__("threading").Lock()


def _by_value_modules(obj, depth: int = 0, seen: set | None = None) -> set:
    """Modules that must pickle by value for `obj` to unpickle on an
    executor without the user's script on sys.path: the object's own
    defining module plus — recursively, to a small depth — those of
    callables reachable through closure cells, defaults, and plain
    containers. Without the recursion, a library-defined wrapper
    closing over a user function (LOCO.get_model_generator, the
    ablation wave closures, distributed config extras) registers only
    the LIBRARY module and the user function silently pickles by
    reference — the exact ModuleNotFoundError this machinery exists
    to prevent."""
    out: set = set()
    if obj is None or depth > 3:
        return out
    if seen is None:
        seen = set()
    if id(obj) in seen:
        return out
    seen.add(id(obj))
    if callable(obj) or inspect.isclass(obj):
        mod = inspect.getmodule(obj)
        if (
            mod is not None
            and mod.__name__ not in ("__main__", "builtins")
            and not mod.__name__.startswith(("maggy_spark", "maggy", "pyspark", "numpy", "pandas"))
        ):
            out.add(mod)
    if inspect.isfunction(obj):
        for cell in obj.__closure__ or ():
            try:
                out |= _by_value_modules(cell.cell_contents, depth + 1, seen)
            except ValueError:  # empty cell
                pass
        for d in obj.__defaults__ or ():
            out |= _by_value_modules(d, depth + 1, seen)
    elif isinstance(obj, dict):
        for v in obj.values():
            out |= _by_value_modules(v, depth + 1, seen)
    elif isinstance(obj, (list, tuple, set, frozenset)):
        for v in obj:
            out |= _by_value_modules(v, depth + 1, seen)
    return out


def _dumps_by_value(fn) -> bytes:
    """cloudpickle the object with every reachable user module
    registered for by-value pickling (see `_by_value_modules`), then
    restore the registry.

    Serialized under a lock: the register/unregister pair mutates
    cloudpickle's GLOBAL registry, and experiments may run from
    several driver threads at once — an interleaved unregister would
    silently flip a concurrent dumps back to by-reference pickling.
    """
    from pyspark import cloudpickle as cp

    mods = _by_value_modules(fn)
    with _PICKLE_LOCK:
        registered = []
        for mod in mods:
            try:
                cp.register_pickle_by_value(mod)
                registered.append(mod)
            except Exception:  # noqa: BLE001 - fall back to by-reference
                pass
        try:
            return cp.dumps(fn)
        finally:
            for mod in registered:
                try:
                    cp.unregister_pickle_by_value(mod)
                except Exception:  # noqa: BLE001
                    pass


def _make_stop_check(stop_src: str | None):
    """Rebuild the early-stop predicate from its serialized state.

    State: {"direction": "max"|"min", "es_interval": int,
    "prefix_histories": [[v1, v2, ...], ...], "refresh_path": str?} —
    finished trials' metric histories. At step s the bar is the median
    of each finished history's mean-of-first-s; stop if the checked
    trial's best (direction=max: max; min: min) is on the wrong side
    (reference medianrule.py:27-60).

    With `refresh_path` set (async scheduling), the check re-reads the
    driver-maintained bar file (mtime-gated, so an unchanged bar costs
    one stat per interval) before every evaluation: a long-running
    trial sees the bar TIGHTEN as later trials finish, matching the
    reference's per-heartbeat re-evaluation
    (`optimization_driver.py:456-471`) without its socket plane. The
    file lives under log_dir (shared storage on a real cluster) or the
    local tmpdir in local mode.
    """
    if not stop_src:
        return None
    state = json.loads(stop_src)
    direction = state.get("direction", "max")
    # clamp to >= 1: a 0 would turn every reporter.broadcast into a
    # ZeroDivisionError -> ERROR row ("check every step" is 1)
    es_interval = max(1, int(state.get("es_interval", 1)))
    refresh_path = state.get("refresh_path")
    holder = {
        "histories": state.get("prefix_histories", []),
        "finalized": state.get("finalized", []),
        "mtime": None,
    }
    if not holder["histories"] and not holder["finalized"] and not refresh_path:
        return None

    def _maybe_refresh() -> None:
        if not refresh_path:
            return
        import os

        try:
            mt = os.stat(refresh_path).st_mtime_ns
        except OSError:
            return  # bar not published yet
        if mt == holder["mtime"]:
            return
        try:
            with open(refresh_path) as f:
                fresh = json.load(f)
            holder["histories"] = fresh.get("prefix_histories", holder["histories"])
            holder["finalized"] = fresh.get("finalized", holder["finalized"])
            holder["mtime"] = mt
        except (OSError, json.JSONDecodeError, ValueError):
            pass  # concurrent replace: keep the previous bar, retry next check

    rule_b64 = state.get("custom_rule")
    if rule_b64:
        # custom reference-contract rule (`abstractearlystop.py:20-40`):
        # rebuild the user's earlystop_check and feed it Trial-shaped
        # views of the checked trial + finalized snapshots; any
        # non-None return means stop (the reference driver treats the
        # returned trial_id as the stop set, optimization_driver.py:456-471)
        import base64
        import types

        from pyspark import cloudpickle as _cp

        rule_fn = _cp.loads(base64.b64decode(rule_b64))

        def custom_check(step_history: list[int], metric_history: list[float]) -> bool:
            s = len(metric_history)
            if s == 0 or s % es_interval != 0:
                return False
            _maybe_refresh()
            fins = holder.get("finalized") or []
            if not fins:
                return False
            to_check = types.SimpleNamespace(
                trial_id="__checked__",
                metric_history=list(metric_history),
                step_history=list(step_history),
                metric_dict=dict(zip(step_history, metric_history)),
            )
            finalized = [
                types.SimpleNamespace(
                    trial_id=f.get("trial_id"),
                    metric_history=list(f.get("metric_history", [])),
                    final_metric=f.get("final_metric"),
                )
                for f in fins
            ]
            try:
                return rule_fn(to_check, finalized, direction) is not None
            except Exception:
                # reference logs rule exceptions and keeps running
                # (optimization_driver.py:466-469)
                return False

        return custom_check

    def check(step_history: list[int], metric_history: list[float]) -> bool:
        s = len(metric_history)
        if s == 0 or s % es_interval != 0:
            return False
        _maybe_refresh()
        means = [sum(h[:s]) / min(s, len(h)) for h in holder["histories"] if h]
        if not means:
            return False
        means.sort()
        n = len(means)
        median = means[n // 2] if n % 2 == 1 else (means[n // 2 - 1] + means[n // 2]) / 2.0
        if direction == "max":
            return max(metric_history) < median
        return min(metric_history) > median

    return check
