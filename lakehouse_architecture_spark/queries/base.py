"""Query registry plumbing for the driver contract (__spark_entry__.py).

Every engine capability is declared as a :class:`QuerySpec`: a Spark builder
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) an exactly
equivalent DuckDB oracle SQL string. The driver runs both sides at sf0.01
and hash-compares values — so builders follow the determinism rules:

* double aggregates go through DECIMAL(38,6) (functions/aggregates.py);
* no raw timestamps in outputs (cast to date or formatted string);
* every ranking/limit has a total-order tiebreak;
* computed columns aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from lakehouse_architecture_spark.catalog import load_tables
from lakehouse_architecture_spark.materialize import cache_once
from lakehouse_architecture_spark.session import ensure_package_on_executors


@dataclass(frozen=True)
class QuerySpec:
    name: str
    doc: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None


_TABLE_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load + register the testdata tables as temp views for this query.

    Pins the two session confs the determinism rules depend on — the driver
    may call builders on a session this engine did not construct — and ships
    the package to the executors before any builder's first Arrow UDF stage
    (see ``session.ensure_package_on_executors``). Loads are
    cached per (application, sf_dir): re-reading ten parquet footers per
    query added ~0.3s to every build. Keyed by applicationId (not object
    identity) so a stopped-and-recreated session can never alias a stale
    entry.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    ensure_package_on_executors(spark)
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _TABLE_CACHE.get(key)
    if cached is None:
        cached = _TABLE_CACHE[key] = load_tables(spark, sf_dir)
    return cached


def warm_cached_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Decode every table once into a partitioned in-memory cache and swap
    it into this session's shared table dict + temp views — the warm-table
    environment bench.py times against (and tools/measure.py must
    reproduce EXACTLY, hence one shared implementation).

    Rationale: the fixture parquet is single-row-group, and Spark's scan
    parallelism is row-group aligned — cold queries would serialize on one
    decode task, a fixture artifact (production tables have thousands of
    row groups). ~25k rows per partition, capped at core count: big facts
    decode and scan in parallel, tiny dims stay single-partition (32
    near-empty partitions cost more in task launches than they save).
    """
    tbls = tables(spark, sf_dir)
    max_parts = spark.sparkContext.defaultParallelism
    for name, df in tbls.items():
        rows = df.count()
        n = max(1, min(max_parts, rows // 25_000))
        cached = cache_once(df.repartition(n) if n > 1 else df)
        cached.count()  # materialize
        cached.createOrReplaceTempView(name)
        tbls[name] = cached  # builders resolve via this shared dict or views
    return tbls
