"""SparkSession factory tuned for the target execution profile, and the
one owner of persisted state.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM; the configs
below are the ones that also matter on a real multi-executor cluster
(AQE, shuffle-partition sizing, Arrow for the pandas-UDF boundary).

Every product persist goes through :func:`keep`. A command or batch that
runs against a shared session wraps its work in :func:`owned`, which
unpersists what was kept inside it when the block exits.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

#: the DataFrames kept inside the innermost open :func:`owned` scope;
#: ``None`` outside every scope
_OWNED: ContextVar[list[DataFrame] | None] = ContextVar("owned", default=None)


def get_spark(app_name: str = "af3spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``spark.sql.shuffle.partitions`` is pinned to the core count: the
    default 200 over-parallelises local/small data, and AQE coalescing
    handles the rest. Session timezone is UTC so timestamp semantics
    match the DuckDB oracle.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # UI off by default (test noise); bench.py turns it on to read
        # stage-level shuffle totals from the REST API for the scale probe
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def keep(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered with the innermost open :func:`owned`
    scope, which unpersists it on exit. Outside every scope the persist
    has no owner and stays until the session's cache is cleared."""
    df = df.persist()
    scope = _OWNED.get()
    if scope is not None:
        scope.append(df)
    return df


@contextmanager
def owned() -> Iterator[None]:
    """Release every :func:`keep` made inside the block when it exits,
    also when it raises. Scopes nest: a nested scope releases what was
    kept inside it, the outer scope the rest."""
    scope: list[DataFrame] = []
    token = _OWNED.set(scope)
    try:
        yield
    finally:
        _OWNED.reset(token)
        for df in scope:
            df.unpersist()
