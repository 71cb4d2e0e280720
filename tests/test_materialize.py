"""materialize.py — the cluster-safe materialization policy (round 7).

Covers: materialize_small's persist (recoverable lineage, InMemoryRelation
in the consumer plan) and truncate_lineage's reliable-checkpoint upgrade
when a checkpoint dir is configured."""

import os

import pytest
from pyspark.sql import functions as F

from lakehouse_architecture_spark.materialize import (
    materialize_small,
    truncate_lineage,
)


def _small_agg(spark):
    return (
        spark.range(1000)
        .select((F.col("id") % 7).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def test_materialize_small_default_persists_with_lineage(spark):
    df = materialize_small(_small_agg(spark))
    try:
        joined = df.alias("a").join(df.alias("b"), "k")
        assert joined.count() == 7
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # both references read the cache; lineage retained (recoverable)
        assert "InMemoryTableScan" in plan
        assert df.storageLevel.useDisk and df.storageLevel.useMemory
    finally:
        df.unpersist()


def test_materialize_small_idempotent_on_already_persisted(spark):
    # composed operators re-materialize an inner operator's intermediate;
    # re-persisting would log CacheManager already-cached warnings per
    # call (bench-tail noise) — the second call must return the SAME
    # already-persisted frame untouched
    df = materialize_small(_small_agg(spark))
    try:
        again = materialize_small(df)
        assert again is df
        assert again.storageLevel.useDisk and again.storageLevel.useMemory
    finally:
        df.unpersist()


def test_truncate_lineage_local_mode_without_checkpoint_dir(spark):
    sc = spark.sparkContext
    if sc.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir unexpectedly set")
    df = truncate_lineage(_small_agg(spark))
    assert df.count() == 7
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan


def test_session_factory_checkpoint_dir_knob(spark, tmp_path):
    """SessionFactory(checkpoint_dir=...) wires sc.setCheckpointDir so a
    cluster deployment flips every truncate_lineage site to reliable
    checkpoints from one conf site. (getOrCreate reuses the active
    session, so the knob applies to the running context — reset after.)"""
    from lakehouse_architecture_spark.session import SessionFactory

    sc = spark.sparkContext
    if sc.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir unexpectedly set")
    ckpt = str(tmp_path / "sf_ckpt")
    try:
        s2 = SessionFactory(
            app_name="ckpt_knob", checkpoint_dir=ckpt
        ).get_or_create()
        got = s2.sparkContext.getCheckpointDir()
        # Spark appends a per-context UUID subdirectory under the dir
        assert got is not None and os.path.basename(ckpt) in got
    finally:
        jsc = sc._jsc.sc()
        getattr(jsc, "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
        assert sc.getCheckpointDir() is None


def test_truncate_lineage_uses_reliable_checkpoint_with_dir(spark, tmp_path):
    sc = spark.sparkContext
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        df = truncate_lineage(_small_agg(spark), eager=True)
        assert df.count() == 7
        # a reliable checkpoint wrote RDD blocks under the configured dir
        written = [
            os.path.join(r, f)
            for r, _, fs in os.walk(ckpt)
            for f in fs
        ]
        assert written, "no checkpoint files written to the checkpoint dir"
    finally:
        # reset to "no checkpoint dir" so later tests keep local semantics
        jsc = sc._jsc.sc()
        getattr(jsc, "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
        assert sc.getCheckpointDir() is None


def test_cache_once_skips_plan_equivalent_cache(spark):
    from lakehouse_architecture_spark.materialize import cache_once

    a = cache_once(_small_agg(spark))
    try:
        a.count()
        # a DIFFERENT DataFrame object with the SAME canonicalized plan:
        # storageLevel consults the CacheManager by plan (is_cached does
        # not), so cache_once must return it untouched instead of
        # re-registering (the 'already cached' warning source)
        b = _small_agg(spark)
        assert not b.is_cached
        out = cache_once(b)
        assert out is b
        assert out.storageLevel.useMemory
    finally:
        a.unpersist()


def test_cache_once_caches_fresh_plan(spark):
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.materialize import cache_once

    df = spark.range(500).select((F.col("id") % 11).alias("k"))
    out = cache_once(df)
    try:
        assert out.is_cached
    finally:
        out.unpersist()


def test_release_small_pins_lifecycle(spark):
    """Round 15 (VERDICT r14 #2): materialize_small pins register in a
    per-application ledger and release_small_pins unpersists ALL of them
    — so harnesses can scope pin lifetime to one query instead of the
    whole session. Double-release is a no-op."""
    from pyspark.storagelevel import StorageLevel

    from lakehouse_architecture_spark.materialize import (
        materialize_small,
        release_small_pins,
    )

    release_small_pins(spark)  # clean slate for the counter assertions
    a = materialize_small(spark.range(50).selectExpr("id", "id * 3 as y"))
    b = materialize_small(spark.range(20).selectExpr("id as k"))
    a.count(), b.count()
    assert a.storageLevel != StorageLevel.NONE
    assert b.storageLevel != StorageLevel.NONE
    assert release_small_pins(spark) == 2
    assert a.storageLevel == StorageLevel.NONE
    assert b.storageLevel == StorageLevel.NONE
    assert release_small_pins(spark) == 0  # idempotent
    # re-pinning after a release works (the bench rebuilds plans per run)
    c = materialize_small(spark.range(50).selectExpr("id", "id * 3 as y"))
    c.count()
    assert c.storageLevel != StorageLevel.NONE
    assert release_small_pins(spark) == 1
