"""Central query registry: name -> (spark_fn, oracle_sql | None).

Collected from every operator module; `__spark_entry__.py` re-exports
this as the driver contract (queries() / oracle_sql()).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _collect() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    from maggy_spark.operators import (
        aggregations,
        earlystop,
        events,
        generators,
        transforms,
        warehouse,
    )

    from maggy_spark.functions import dedup, multimodal, pipeline, similarity, text
    from maggy_spark.streaming import ingest_stream

    # no ImportError guard: a broken import must fail the caller, not
    # silently drop every functions/ingest operator from the registry
    modules = [aggregations, generators, earlystop, transforms, events, warehouse]
    modules += [text, dedup, similarity, multimodal, pipeline, ingest_stream]

    reg: dict[str, tuple[Callable, str | None]] = {}
    for mod in modules:
        for name, fn, sql in mod.OPERATORS:
            if name in reg:
                raise ValueError(f"duplicate operator name: {name}")
            reg[name] = (fn, sql)
    return reg


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _collect().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _collect().items() if sql is not None}
