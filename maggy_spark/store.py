"""ExperimentStore: trials and metrics as live parquet tables.

SURVEY.md §3.1's rebuild lifecycle: "controller emits pending trials
-> execute batch -> APPEND TO trials/metrics TABLES -> early-stop +
result aggregation SQL". This store is those tables — appended per
wave, queried with the same relational kernel shapes the oracle gate
checks (A1 summary, A4 budget stats, G5 promotions, A8 median bar) —
so dashboards/other sessions can watch a running experiment with
plain Spark SQL instead of asking the driver process.

Append-only parquet with one part file per append, written by pyarrow
on the driver: an append runs no Spark job, so it never queues behind
running trial tasks. The part is written under a dot-prefixed name and
renamed into place; Spark's file index skips dot- and
underscore-prefixed names, so a concurrent reader sees the old set of
parts or the new one, never a torn file. The store path must be
visible to the driver's filesystem (as `os.makedirs` already
assumes). No compaction is needed at experiment scale (thousands of
trials, not billions of rows). Reads and queries are Spark SQL; the
metric stream reuses the same expressions as operators/earlystop.py.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from maggy_spark.experiment import TRIALS_SCHEMA
from maggy_spark.trial import Trial

# the trials row shape is experiment.TRIALS_SCHEMA (FIXTURES.md F2),
# shared with trials_to_df; both tables' Arrow schemas derive from the
# DDL strings, so there is no second schema copy here
METRICS_SCHEMA = "trial_id string, step bigint, value double"


class ExperimentStore:
    def __init__(self, spark: SparkSession, path: str, direction: str = "max"):
        self.spark = spark
        self.path = path
        self.direction = direction
        self._trials_path = os.path.join(path, "trials")
        self._metrics_path = os.path.join(path, "metrics")
        self._seq_counter: int | None = None
        self._trials_schema = to_arrow_schema(StructType.fromDDL(TRIALS_SCHEMA))
        self._metrics_schema = to_arrow_schema(StructType.fromDDL(METRICS_SCHEMA))
        os.makedirs(path, exist_ok=True)

    # -- appends -------------------------------------------------------

    def _next_seq(self) -> int:
        """Monotone seq across appends AND across store handles: the
        tie-break key in summaries/promotions must stay unique. A
        reused store whose trials table cannot be read raises rather
        than restarting at 0 and duplicating tie-break keys."""
        if self._seq_counter is None:
            exists = os.path.isdir(self._trials_path)
            self._seq_counter = self.trials().count() if exists else 0
        return self._seq_counter

    @staticmethod
    def _write_part(table_path: str, rows: list, schema: pa.Schema) -> None:
        """One parquet part per append, renamed into place whole."""
        os.makedirs(table_path, exist_ok=True)
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(table_path, f".{name}.tmp")
        try:
            pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
            os.replace(tmp, os.path.join(table_path, name))
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def append_trials(self, trials: list[Trial]) -> None:
        if not trials:
            return
        base = self._next_seq()
        # REBASE onto the store's counter rather than setdefault: every
        # real caller presets a 1-based per-run seq, so keeping it
        # verbatim would collide when a second run appends into an
        # existing store. Caller seq only decides ORDER within the
        # batch; the stored value is base+1..base+n — identical to the
        # caller's numbering on a fresh store, unique on a reused one.
        # NB: the rebase mutates the caller's Trial objects' seq in
        # place (deliberate — the driver's Trial list and the store
        # must agree on numbering for read-back joins).
        # Seq-less trials sort AFTER all preset ones in batch order:
        # the old `.get("seq", i)` fallback mixed 1-based presets with
        # 0-based indices, interleaving a mixed batch unpredictably.
        def _order_key(i: int):
            s = trials[i].info_dict.get("seq")
            return (s is None, 0 if s is None else s, i)

        order = sorted(range(len(trials)), key=_order_key)
        for pos, i in enumerate(order):
            trials[i].info_dict["seq"] = base + pos + 1
        self._seq_counter = base + len(trials)
        rows = [
            t.to_row(seq=t.info_dict["seq"], direction=self.direction, budget=int(t.info_dict.get("budget", 0)))
            for t in trials
        ]
        self._write_part(self._trials_path, rows, self._trials_schema)

    def append_metrics(self, trials: list[Trial]) -> None:
        rows = [
            {"trial_id": t.trial_id, "step": int(s), "value": float(v)}
            for t in trials
            for s, v in zip(t.step_history, t.metric_history, strict=True)
        ]
        if not rows:
            return
        self._write_part(self._metrics_path, rows, self._metrics_schema)

    # -- live relations ------------------------------------------------

    def trials(self) -> DataFrame:
        return self.spark.read.parquet(self._trials_path)

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self._metrics_path)

    # -- kernel queries over the live store ----------------------------

    def result_summary(self) -> dict:
        """A1 over the live store — the same aggregation the finalize
        path uses (single source in experiment.summarize_finalized)."""
        from maggy_spark.experiment import summarize_finalized

        t = self.trials().where(F.col("status") == "FINALIZED")
        return summarize_finalized(t, self.direction)

    def budget_stats(self) -> DataFrame:
        """A4 per-budget ybest/yworst/ymean over the live store —
        direction-aware: ybest is the BEST metric for this
        experiment's direction (the reference equates ybest with min
        only after sign-normalizing max-direction metrics)."""
        t = self.trials().where(
            (F.col("status") == "FINALIZED") & F.col("final_metric").isNotNull()
        )
        best = F.max("final_metric") if self.direction == "max" else F.min("final_metric")
        worst = F.min("final_metric") if self.direction == "max" else F.max("final_metric")
        return t.groupBy("budget").agg(
            best.alias("ybest"),
            worst.alias("yworst"),
            F.avg("final_metric").alias("ymean"),
            F.count("*").alias("n_trials"),
        )

    def promotable(self, eta: int = 2) -> DataFrame:
        """G5: top floor(n/eta) per budget-rung, direction-aware.

        Metric-less finalized trials are excluded up front: under
        direction='min' a null would sort FIRST (asc is nulls-first)
        and a broken trial would win the rung."""
        from pyspark.sql.window import Window

        t = self.trials().where(
            (F.col("status") == "FINALIZED") & F.col("final_metric").isNotNull()
        )
        order = F.col("final_metric").desc() if self.direction == "max" else F.col("final_metric").asc()
        w = Window.partitionBy("budget").orderBy(order, F.col("seq"))
        ranked = t.select(
            F.col("budget").alias("rung"), "trial_id", "final_metric",
            F.row_number().over(w).alias("rank"),
            F.count("*").over(Window.partitionBy("budget")).alias("n"),
        )
        return ranked.where(F.col("rank") <= F.floor(F.col("n") / eta)).drop("n")

    def median_bar(self, step_limit: int = 3) -> float | None:
        """A8: the early-stop bar from the live metric stream."""
        fin = self.trials().where(F.col("status") == "FINALIZED").select("trial_id")
        pavg = (
            self.metrics().where(F.col("step") <= step_limit)
            .join(fin, "trial_id")
            .groupBy("trial_id")
            .agg(F.avg("value").alias("pavg"))
        )
        row = pavg.agg(F.percentile("pavg", F.lit(0.5)).alias("bar")).collect()[0]
        return None if row.bar is None else float(row.bar)
