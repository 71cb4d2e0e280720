"""Streaming data-quality: per-batch expectation audits and drift watch.

Continuous versions of pipeline/expectations.py and
operators/profiling.ks_drift: every micro-batch is audited/screened and the
verdicts land in queryable parquet tables, so quality history is itself
data. All per-epoch writes use the epoch-dir overwrite protocol from
streaming/corpus_ingest.py — a checkpoint replay overwrites the same
``epoch=N`` directory instead of double-appending, keeping the sinks
exactly-once without a transactional format.

At 100 TB/day the audit costs one projection per rule fused into the batch
write (quarantine_split shares the predicate evaluation), and the drift
check is one 100-bin histogram aggregate per batch against a broadcast
reference — no state store, no extra full scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from lakehouse_architecture_spark.pipeline.expectations import (
    Expectation,
    quarantine_split,
    violation_aggs,
)
from lakehouse_architecture_spark.streaming.sinks import start_micro_batches


def foreach_batch_dq_ingest(
    stream: DataFrame,
    clean_path: str,
    quarantine_path: str,
    metrics_path: str,
    expectations: list[Expectation],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Run the stream with each micro-batch split by the expectation suite:
    clean rows to ``clean_path``, violators (with their violated-rule list)
    to ``quarantine_path``, and one audit row per (epoch, rule) to
    ``metrics_path``.

    The batch is cached for the three writes (clean / quarantine / metrics
    share one evaluation instead of three source re-reads); caching a
    micro-batch is bounded by trigger size, not table size.
    """

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.cache()
        try:
            clean, bad = quarantine_split(batch, expectations)
            clean.write.mode("overwrite").parquet(f"{clean_path}/epoch={epoch_id}")
            bad.withColumn(
                "_violations", F.array_join("_violations", ",")
            ).write.mode("overwrite").parquet(
                f"{quarantine_path}/epoch={epoch_id}"
            )
            # suite-sized audit: one aggregate over the cached batch,
            # sharing the exact counter semantics of pipeline/expectations
            agg = batch.agg(
                *violation_aggs(expectations), F.count(F.lit(1)).alias("__rows")
            ).collect()[0]
            spark = batch.sparkSession
            rows = [
                (e.name, e.action, int(agg["__rows"]), int(agg[e.name] or 0))
                for e in expectations
            ]
            spark.createDataFrame(
                rows,
                "expectation string, action string, n_rows long, n_violations long",
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{metrics_path}/epoch={epoch_id}"
            )
        finally:
            batch.unpersist()

    return start_micro_batches(stream, apply_batch, checkpoint_dir)


def reference_histogram(
    df: DataFrame, value_col: str, nbins: int = 100
) -> DataFrame:
    """Binned CDF of a reference (training-time) distribution:
    ``(bin, cum_frac, lo, hi)`` with ``nbins`` rows — the frozen yardstick
    :func:`foreach_batch_drift_monitor` compares each batch against.

    Computed once from the reference data (one aggregate + one tiny dense
    grid); persist/cache the result — the monitor joins it every batch.
    """
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("v")
    )
    scal = vals.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = (
        vals.crossJoin(F.broadcast(scal))
        .select(
            _bin_expr(F.col("v"), F.col("lo"), F.col("hi"), nbins).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    spark = df.sparkSession
    grid = spark.range(nbins).select(F.col("id").cast("int").alias("bin"))
    dense = grid.join(binned, "bin", "left").select(
        "bin", F.coalesce("c", F.lit(0)).alias("c")
    )
    from pyspark.sql import Window

    total = dense.agg(F.sum("c").alias("n"))
    return (
        dense.withColumn("cum", F.sum("c").over(Window.orderBy("bin")))
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(scal))
        .select(
            "bin",
            (F.col("cum").cast("double") / F.col("n")).alias("cum_frac"),
            "lo",
            "hi",
        )
    )


def _bin_expr(v, lo, hi, nbins: int):
    """Shared binning: clamp into [0, nbins-1] with the REFERENCE edges —
    batch values outside the reference range land in the edge bins (where
    they correctly register as drift mass). DELIBERATELY different from
    operators/profiling.ks_drift's binning: that one bins within its own
    data's [lo, hi] (greatest(..,0) would be a no-op), this one clamps
    FOREIGN data onto frozen edges, so below-range values need the floor
    at bin 0."""
    raw = F.floor((v - lo) / (hi - lo) * nbins).cast("int")
    return F.when(hi == lo, F.lit(0)).otherwise(
        F.greatest(F.least(raw, F.lit(nbins - 1)), F.lit(0))
    )


def foreach_batch_drift_monitor(
    stream: DataFrame,
    reference: DataFrame,
    value_col: str,
    metrics_path: str,
    checkpoint_dir: str,
    nbins: int = 100,
) -> StreamingQuery:
    """Run the stream writing one drift row per micro-batch to
    ``metrics_path``: ``(n_values, ks_stat)`` — the binned-KS distance of
    the batch's ``value_col`` distribution from the frozen ``reference``
    histogram (:func:`reference_histogram` output, pre-cached by the
    caller). Alerting/thresholding stays with the consumer; this just
    makes drift a table you can query like anything else.
    """

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        vals = batch.filter(F.col(value_col).isNotNull()).select(
            F.col(value_col).alias("v")
        )
        binned = (
            vals.crossJoin(
                F.broadcast(reference.select("lo", "hi").limit(1))
            )
            .select(
                _bin_expr(F.col("v"), F.col("lo"), F.col("hi"), nbins).alias(
                    "bin"
                )
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        grid = spark.range(nbins).select(F.col("id").cast("int").alias("bin"))
        dense = grid.join(binned, "bin", "left").select(
            "bin", F.coalesce("c", F.lit(0)).alias("c")
        )
        from pyspark.sql import Window

        total = dense.agg(F.sum("c").alias("n"))
        stat = (
            dense.withColumn("cum", F.sum("c").over(Window.orderBy("bin")))
            .crossJoin(F.broadcast(total))
            .join(F.broadcast(reference.select("bin", "cum_frac")), "bin")
            .agg(
                F.max("n").alias("n_values"),
                F.round(
                    F.max(
                        F.abs(
                            F.col("cum").cast("double") / F.col("n")
                            - F.col("cum_frac")
                        )
                    ),
                    6,
                ).alias("ks_stat"),
            )
        )
        stat.coalesce(1).write.mode("overwrite").parquet(
            f"{metrics_path}/epoch={epoch_id}"
        )

    return start_micro_batches(stream, apply_batch, checkpoint_dir)
