"""Compaction, clustered layout data-skipping, and mergeSchema evolution."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from lakehouse_architecture_spark.pipeline.maintenance import (
    clustered_write,
    compact_table,
)


def _parquet_files(path):
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def test_compact_table(spark, tmp_path):
    path = str(tmp_path / "smallfiles")
    # simulate the reference's one-file-per-batch accumulation
    for i in range(12):
        spark.createDataFrame([(i, f"v{i}")], "id int, v string").coalesce(1).write.mode(
            "append"
        ).parquet(path)
    assert len(_parquet_files(path)) >= 12

    compact_table(spark, path, target_file_mb=128)
    assert len(_parquet_files(path)) == 1  # tiny table -> single file
    back = spark.read.parquet(path)
    assert back.count() == 12
    assert {r["id"] for r in back.collect()} == set(range(12))


def test_compact_table_failed_swap_keeps_table(spark, tmp_path, monkeypatch):
    """A failure at the first directory rename of compact_table's swap
    must leave the table readable with every row. Deleting the table
    before renaming the staged copy in would lose it here."""
    path = str(tmp_path / "smallfiles")
    for i in range(6):
        spark.createDataFrame([(i, f"v{i}")], "id int, v string").coalesce(1).write.mode(
            "append"
        ).parquet(path)
    real_rename = os.rename

    def rename(src, dst):
        # per-file moves (binned_rewrite) pass; directory renames fail
        if os.path.isdir(src):
            raise OSError("injected directory rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="injected"):
        compact_table(spark, path, target_file_mb=128)
    monkeypatch.undo()
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == list(range(6))
    assert not glob.glob(path + "__compacting*")


@pytest.mark.parametrize("mode", ["full", "partition"])
def test_compact_table_ignores_stale_staging_dir(spark, tmp_path, mode):
    """A killed compaction leaves its staging directory behind. The next
    run stages in its own directory, so the leftover's rows never reach
    the compacted table."""
    path = str(tmp_path / "t")
    for p in (1, 2):
        for i in range(4):
            spark.range(5).selectExpr(f"id + {20 * p + 5 * i} AS id").withColumn(
                "p", F.lit(p)
            ).coalesce(1).write.mode("append").partitionBy("p").parquet(path)
    stale = spark.range(1000, 1010).coalesce(1)
    if mode == "full":
        stale.withColumn("p", F.lit(1)).write.parquet(path + "__compacting")
        kwargs = {}
    else:
        stale.write.parquet(os.path.join(path + "__compacting", "p=1"))
        kwargs = {"partition_col": "p", "partitions": [1]}
    compact_table(spark, path, target_file_mb=128, **kwargs)
    ids = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert ids == list(range(20, 60))


@pytest.mark.parametrize("rollback_fails", [False, True], ids=["rollback", "crash"])
def test_compact_partition_subset_failed_swap_adds_no_partition(
    spark, tmp_path, monkeypatch, rollback_fails
):
    """Partition-subset compaction parks the old partition directory
    inside the table while it swaps. If the second rename fails, the old
    copy is moved back and every row reads. If moving it back fails too,
    as after a crash between the renames, the old copy stays on disk. In
    both cases a read must show no extra partition value and no
    duplicated row, and the int partition column must stay int."""
    path = str(tmp_path / "hive_int")
    for p in (1, 2):
        for i in range(3):
            spark.createDataFrame(
                [(10 * p + i, p)], "id int, p int"
            ).coalesce(1).write.mode("append").partitionBy("p").parquet(path)
    real_rename = os.rename
    dir_renames = []

    def rename(src, dst):
        # per-file moves (binned_rewrite) pass; the first directory
        # rename (old partition aside) passes, later ones fail
        if os.path.isdir(src):
            dir_renames.append(src)
            if len(dir_renames) == 2 or (rollback_fails and len(dir_renames) > 2):
                raise OSError("injected directory rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="injected"):
        compact_table(
            spark, path, target_file_mb=128, partition_col="p", partitions=[1]
        )
    monkeypatch.undo()
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["p"] == "int"
    rows = sorted((r["id"], r["p"]) for r in back.collect())
    assert len(rows) == len(set(rows))
    if rollback_fails:
        assert rows == [(20, 2), (21, 2), (22, 2)]
        parked = glob.glob(os.path.join(path, ".p=1__old-*"))
        assert len(parked) == 1 and len(_parquet_files(parked[0])) == 3
    else:
        assert rows == [(10, 1), (11, 1), (12, 1), (20, 2), (21, 2), (22, 2)]


def test_compact_partition_subset_preserves_other_partitions(spark, tmp_path):
    """Partition-subset compaction must only touch the selected partitions —
    a subset rewrite that drops the rest of the table is data loss."""
    path = str(tmp_path / "hive_table")
    for day in ("2024-01-01", "2024-01-02", "2024-01-03"):
        for batch in range(4):
            spark.createDataFrame(
                [(batch, day, f"{day}#{batch}")], "id int, dt string, v string"
            ).coalesce(1).write.mode("append").partitionBy("dt").parquet(path)

    def files_in(day):
        return _parquet_files(os.path.join(path, f"dt={day}"))

    untouched_before = sorted(files_in("2024-01-03"))
    assert len(files_in("2024-01-01")) >= 4

    n = compact_table(
        spark, path, target_file_mb=128,
        partition_col="dt", partitions=["2024-01-01", "2024-01-02"],
    )
    assert n == 2  # one compacted file per selected partition
    # selected partitions compacted to one file each
    assert len(files_in("2024-01-01")) == 1
    assert len(files_in("2024-01-02")) == 1
    # non-selected partition byte-identical (same files, untouched)
    assert sorted(files_in("2024-01-03")) == untouched_before

    back = spark.read.parquet(path)
    assert back.count() == 12
    assert back.filter(F.col("dt") == "2024-01-03").count() == 4
    # partition-type inference reads dt back as date — normalize to string
    got = {
        (r["dt"], r["id"], r["v"])
        for r in back.withColumn("dt", F.col("dt").cast("string")).collect()
    }
    assert ("2024-01-03", 2, "2024-01-03#2") in got

    # absent partition values are a no-op, not an error
    assert compact_table(
        spark, path, target_file_mb=128, partition_col="dt", partitions=["2099-01-01"]
    ) == 0

    # values Hive would escape in dir names are refused, not silently skipped
    import pytest

    with pytest.raises(ValueError, match="escaping"):
        compact_table(
            spark, path, target_file_mb=128, partition_col="dt", partitions=["a:b"]
        )


def test_clustered_write_skips_files(spark, tmp_path):
    path = str(tmp_path / "clustered")
    df = spark.range(0, 100_000).withColumn("k", F.col("id") % 1000)
    clustered_write(df, path, ["id"], n_files=8)
    files = _parquet_files(path)
    assert len(files) == 8

    # a narrow id predicate must touch a small fraction of row groups:
    # check via parquet footer min/max that only 1 of 8 files can match
    import pyarrow.parquet as pq

    hits = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        maxs = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        if mins <= 12_345 <= maxs:
            hits += 1
    assert hits == 1  # range clustering made file stats disjoint

    got = spark.read.parquet(path).filter(F.col("id") == 12_345).collect()
    assert len(got) == 1 and got[0]["k"] == 12_345 % 1000


def test_merge_schema_evolution(spark, tmp_path):
    """SURVEY §1.3: schema drift handled by explicit evolution, not the
    reference's AnalysisException-on-missing-column failure mode."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id int, v string").write.mode("append").parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id int, v string, score double"
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", True).parquet(path)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5  # old rows get NULL, not errors


def test_materialized_aggregate_incremental_equals_recompute(spark, tmp_path):
    from lakehouse_architecture_spark.pipeline.materialized import (
        MaterializedAggregate,
    )
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"), keys=["id"])
    view = MaterializedAggregate(
        src, str(tmp_path / "view"), group_cols=["g"], sum_cols=["x"]
    )

    def snapshot():
        return {
            (r["g"], r["n"], r["sum_x"]) for r in view.read().collect()
        }

    src.write(spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5), (3, "b", 7)], ["id", "g", "x"]
    ))
    assert view.refresh() == 0
    assert snapshot() == {("a", 2, 15), ("b", 1, 7)}
    assert view.refresh() is None  # already current: no-op

    # v1: update id=2 (a -> 20), delete id=3 (group b empties), add id=4 (c)
    src.merge(
        spark.createDataFrame(
            [(2, "a", 20, False), (3, "b", 0, True), (4, "c", 9, False)],
            ["id", "g", "x", "del"],
        ),
        delete_condition="del",
    )
    assert view.refresh() == 1
    # group b reached count zero and must disappear
    assert snapshot() == {("a", 2, 30), ("c", 1, 9)}
    # incremental result == full recompute from the latest snapshot
    full = {
        (r["g"], r["n"], r["sum_x"])
        for r in src.read()
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("x").alias("sum_x"))
        .collect()
    }
    assert snapshot() == full
    assert view.refreshed_through() == 1


def test_materialized_refresh_uses_change_feed(spark, tmp_path):
    from lakehouse_architecture_spark.pipeline.materialized import (
        MaterializedAggregate,
    )
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"), keys=["id"])
    view = MaterializedAggregate(
        src, str(tmp_path / "view"), group_cols=["g"], sum_cols=["x"]
    )
    src.write(spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5), (3, "b", 7)], ["id", "g", "x"]
    ))
    view.refresh()

    # two feed-logged merges pending at once: folding must telescope
    src.merge(
        spark.createDataFrame([(2, "a", 20), (4, "c", 9)], ["id", "g", "x"]),
        log_changes=True,
    )
    src.merge(
        spark.createDataFrame(
            [(2, "a", 0, True), (5, "b", 3, False)], ["id", "g", "x", "del"]
        ),
        delete_condition="del",
        log_changes=True,
    )
    assert src.change_feed(1) is not None and src.change_feed(2) is not None
    assert view.refresh() is not None
    got = {(r["g"], r["n"], r["sum_x"]) for r in view.read().collect()}
    full = {
        (r["g"], r["n"], r["sum_x"])
        for r in src.read()
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("x").alias("sum_x"))
        .collect()
    }
    assert got == full == {("a", 1, 10), ("b", 2, 10), ("c", 1, 9)}


def test_materialized_refresh_survives_vacuumed_fallback(spark, tmp_path):
    """A no-feed commit after the refreshed-through version was VACUUMED
    must degrade to a full rebuild, not raise on every refresh forever."""
    from lakehouse_architecture_spark.pipeline.materialized import (
        MaterializedAggregate,
    )
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"), keys=["id"])
    view = MaterializedAggregate(
        src, str(tmp_path / "view"), group_cols=["g"], sum_cols=["x"]
    )
    src.write(spark.createDataFrame([(1, "a", 10)], ["id", "g", "x"]))
    assert view.refresh() == 0

    # v1 WITHOUT a change feed, then drop v0 (the refreshed-through base)
    src.merge(
        spark.createDataFrame([(2, "b", 5)], ["id", "g", "x"]),
        log_changes=False,
    )
    src.vacuum(keep_last=1, tmp_min_age_s=0.0)
    assert view.refresh() == 1  # full rebuild, no error
    got = {(r["g"], r["n"], r["sum_x"]) for r in view.read().collect()}
    assert got == {("a", 1, 10), ("b", 1, 5)}


def test_materialized_broadcast_fold_path_parity(spark, tmp_path):
    """The big-view broadcast touched-groups fold (forced via a zero
    threshold) must produce exactly the same view as the shuffled fold:
    updates, deletes emptying a group, and brand-new groups."""
    from lakehouse_architecture_spark.pipeline.materialized import (
        MaterializedAggregate,
    )
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"), keys=["id"])
    view = MaterializedAggregate(
        src, str(tmp_path / "view"), group_cols=["g"], sum_cols=["x"]
    )
    view.BIG_VIEW_BYTES = 0  # force the broadcast fold on a tiny view

    src.write(spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5), (3, "b", 7)], ["id", "g", "x"]
    ))
    view.refresh()
    src.merge(
        spark.createDataFrame(
            [(2, "a", 20, False), (3, "b", 0, True), (4, "c", 9, False)],
            ["id", "g", "x", "del"],
        ),
        delete_condition="del",
        log_changes=True,
    )
    assert view.refresh() == 1
    got = {(r["g"], r["n"], r["sum_x"]) for r in view.read().collect()}
    # a updated (5->20), b emptied and disappears, c is a NEW group
    assert got == {("a", 2, 30), ("c", 1, 9)}


def test_change_feed_schema_cache_roundtrip(spark, tmp_path):
    """change_feed must return the stored schemas (no footer inference) and
    survive a missing/corrupt _schemas.json by falling back to inference."""
    import os

    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"), keys=["id"])
    src.write(spark.createDataFrame([(1, "a", 10)], ["id", "g", "x"]))
    src.merge(
        spark.createDataFrame([(1, "a", 11), (2, "b", 3)], ["id", "g", "x"]),
        log_changes=True,
    )
    pre, post = src.change_feed(1)
    assert {f.name for f in pre.schema.fields} == {"id", "g", "x"}
    assert {r["id"] for r in post.select("id").collect()} == {1, 2}

    # corrupt the schema stash: reader must fall back to inference
    sp = os.path.join(src._vdir(1), "_changes", "_schemas.json")
    with open(sp, "w") as f:
        f.write("{not json")
    pre2, post2 = src.change_feed(1)
    assert {r["id"] for r in post2.select("id").collect()} == {1, 2}


def test_optimize_executes_compaction_plan(spark, tmp_path):
    """VERDICT r12 #3 e2e: a fragmented VersionedTable optimized via the
    compaction plan — output file count equals the plan's bin count, each
    bin is exactly one file, contents are fingerprint-identical, key order
    is preserved (per-file ranges disjoint on the order column), and time
    travel to the fragmented version still works."""
    import glob
    import os

    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.integrity import (
        dataset_fingerprint,
    )
    from lakehouse_architecture_spark.operators.partitioning import (
        compaction_plan,
    )
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t"), keys=["id"])
    df = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 3).alias("x")
    )
    # fragment: 16 small files
    t.write(df.repartition(16))
    v0 = t.latest_version()
    frag_files = glob.glob(os.path.join(t._vdir(v0), "*.parquet"))
    assert len(frag_files) == 16
    before = dataset_fingerprint(t.read(v0)).collect()[0]

    # pick a target that yields a multi-bin, multi-file-per-bin plan
    sizes = sorted(os.path.getsize(p) for p in frag_files)
    target = sizes[0] * 5
    v1, n_bins = t.optimize(target_bytes=target, order_col="id")
    assert 1 < n_bins < 16

    # the written layout IS the plan: bin count == file count
    out_files = sorted(glob.glob(os.path.join(t._vdir(v1), "*.parquet")))
    assert len(out_files) == n_bins

    # and it matches compaction_plan run on the SAME manifest the method
    # builds (per-file min(id) order)
    firsts = {
        r["f"]: r["k"]
        for r in t.read(v0)
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("f"),
            F.col("id").alias("k"),
        )
        .groupBy("f")
        .agg(F.min("k").alias("k"))
        .collect()
    }
    manifest = spark.createDataFrame(
        [
            (os.path.basename(p), os.path.getsize(p), firsts[os.path.basename(p)])
            for p in frag_files
        ],
        ["file", "size_bytes", "k"],
    )
    plan = compaction_plan(manifest, "size_bytes", "k", target).collect()
    assert len(plan) == n_bins

    # contents identical, time travel intact
    after = dataset_fingerprint(t.read(v1)).collect()[0]
    assert (before["n_rows"], before["fingerprint"]) == (
        after["n_rows"],
        after["fingerprint"],
    )
    assert t.read(v0).count() == 2000
    assert t.latest_version() == v1 == v0 + 1

    # key order preserved: rows inside each output file are sorted on id
    per_file = (
        t.read(v1)
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("f"), "id"
        )
        .groupBy("f")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .collect()
    )
    assert len(per_file) == n_bins


def test_optimize_single_bin_and_empty_table(spark, tmp_path):
    """Degenerate shapes: a huge target collapses everything into one bin
    (one file); optimize on an empty table raises."""
    import glob
    import os

    import pytest

    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t1"), keys=["id"])
    with pytest.raises(FileNotFoundError):
        t.optimize()
    t.write(spark.range(0, 100).repartition(4))
    v, n_bins = t.optimize(target_bytes=1 << 40, order_col="id")
    assert n_bins == 1
    assert len(glob.glob(os.path.join(t._vdir(v), "*.parquet"))) == 1
    assert t.read(v).count() == 100


def test_optimize_then_vacuum_and_constraints_survive(spark, tmp_path):
    """optimize() interacts correctly with the rest of the table's
    lifecycle: vacuum() after optimize drops the fragmented snapshot but
    keeps the optimized one readable; CHECK constraints persist across
    the optimize version (they live at table level, and the rewrite's
    rows already passed them); a subsequent write still enforces them."""
    import glob
    import os

    import pytest

    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.pipeline.expectations import (
        ExpectationsViolated,
    )
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t2"), keys=["id"])
    t.set_check_constraints({"pos": "v >= 0"})
    t.write(
        spark.range(0, 500)
        .select(F.col("id"), (F.col("id") % 97).alias("v"))
        .repartition(8)
    )
    v1, n_bins = t.optimize(target_bytes=1 << 40, order_col="id")
    assert n_bins == 1
    # constraints persisted across the optimize commit
    assert t.check_constraints() == {"pos": "v >= 0"}
    # vacuum keeps only the optimized version; it still reads
    removed = t.vacuum(keep_last=1, tmp_min_age_s=0)
    assert 0 in removed and t.read().count() == 500
    assert len(glob.glob(os.path.join(t._vdir(v1), "*.parquet"))) == 1
    # and enforcement still fires on the next write
    with pytest.raises(ExpectationsViolated):
        t.write(spark.createDataFrame([(1, -5)], ["id", "v"]))


def test_optimize_plan_tree_bounded_on_wide_manifest(spark, tmp_path):
    """VERDICT r13 #2: the bin-assignment path must not grow the plan
    tree with the manifest. The old form embedded a create_map literal
    (two plan arguments per file) — at a 2k-file manifest that's 4k
    expression-tree nodes before Catalyst even starts; 100k files is
    plan poison. Now the assignments ride a broadcast join: the tagged
    plan string must contain NO create_map/keys literal blob and must
    stay essentially the same size at 16 vs ~2k manifest entries."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.pipeline.table_format import (
        VersionedTable,
        plan_tagged_bins,
    )

    t = VersionedTable(spark, str(tmp_path / "wide"), keys=["id"])
    t.write(
        spark.range(0, 512).select(F.col("id"), (F.col("id") % 5).alias("g"))
        .repartition(16)
    )
    snapshot = t.read(t.latest_version())

    def plan_len(n_files: int) -> int:
        # synthetic manifest: only the plan SHAPE is under test here
        sizes = {f"part-{i:05d}.parquet": 1024 * (i % 7 + 1) for i in range(n_files)}
        tagged, _ = plan_tagged_bins(spark, snapshot, sizes, "id", 4096)
        plan = tagged._jdf.queryExecution().optimizedPlan().toString()
        assert "create_map" not in plan
        return len(plan)

    small, wide = plan_len(16), plan_len(2048)
    assert wide < small * 2 + 4096, (
        f"plan grew with the manifest: {small} -> {wide} chars"
    )


def test_optimize_wide_real_manifest_roundtrip(spark, tmp_path):
    """The broadcast-join path on a REAL (if modest) many-file table:
    64 fragments -> optimize -> fingerprint-identical, bins exact."""
    import glob
    import os

    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.integrity import (
        dataset_fingerprint,
    )
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "w2"), keys=["id"])
    df = spark.range(0, 4096).select(F.col("id"), (F.col("id") * 2).alias("x"))
    t.write(df.repartition(64))
    v0 = t.latest_version()
    assert len(glob.glob(os.path.join(t._vdir(v0), "*.parquet"))) == 64
    before = dataset_fingerprint(t.read(v0)).collect()[0]
    sizes = sorted(
        os.path.getsize(p) for p in glob.glob(os.path.join(t._vdir(v0), "*.parquet"))
    )
    v1, n_bins = t.optimize(target_bytes=sizes[0] * 9, order_col="id")
    files = glob.glob(os.path.join(t._vdir(v1), "*.parquet"))
    assert len(files) == n_bins and 1 < n_bins < 64
    assert dataset_fingerprint(t.read(v1)).collect()[0] == before


def test_compact_table_plan_driven_lifecycle(spark, tmp_path):
    """VERDICT r13 #3: compact_table now executes the SAME compaction
    plan as VersionedTable.optimize on a plain parquet table — bin-exact
    file count, fingerprint-identical contents, and (with order_col)
    per-file key ranges that stay disjoint (range-clusterable)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.integrity import (
        dataset_fingerprint,
    )
    from lakehouse_architecture_spark.operators.partitioning import (
        compaction_plan,
    )

    path = str(tmp_path / "plain")
    df = spark.range(0, 3000).select(
        F.col("id"), (F.col("id") % 11).alias("g"), (F.col("id") * 2).alias("x")
    )
    df.repartition(16).write.parquet(path)
    frag = glob.glob(os.path.join(path, "*.parquet"))
    assert len(frag) == 16
    before = dataset_fingerprint(spark.read.parquet(path)).collect()[0]

    # expected bin count from the planner itself, in the SAME order the
    # executor uses (per-file MIN of the order column)
    rows = [
        (
            os.path.basename(p),
            os.path.getsize(p),
            spark.read.parquet(p).agg(F.min("id")).collect()[0][0],
        )
        for p in frag
    ]
    files_df = spark.createDataFrame(rows, ["file", "size_bytes", "k"])
    target_mb = max(1, (5 * min(r[1] for r in rows)) // (1024 * 1024))
    expected_bins = compaction_plan(
        files_df, "size_bytes", "k", target_mb * 1024 * 1024
    ).count()
    n = compact_table(spark, path, target_file_mb=target_mb, order_col="id")
    assert n == expected_bins
    out = glob.glob(os.path.join(path, "*.parquet"))
    assert len(out) == n and 1 <= n < 16
    assert dataset_fingerprint(spark.read.parquet(path)).collect()[0] == before

    # with order_col: per-file id ranges disjoint -> range-clusterable
    if n > 1:
        ranges = []
        for p in sorted(out):
            r = spark.read.parquet(p).agg(
                F.min("id").alias("lo"), F.max("id").alias("hi")
            ).collect()[0]
            ranges.append((r.lo, r.hi))
        ranges.sort()
        for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
            assert hi1 < lo2, f"overlapping key ranges: {ranges}"


def test_compact_table_partition_subset_plan_driven(spark, tmp_path):
    """Partition-subset compaction through the plan executor: only the
    selected partitions rewritten, their contents identical."""
    import glob
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "part")
    df = spark.range(0, 400).select(
        (F.col("id") % 2).cast("string").alias("dt"), F.col("id")
    )
    df.repartition(8).write.partitionBy("dt").parquet(path)
    before0 = set(glob.glob(os.path.join(path, "dt=0", "*.parquet")))
    n = compact_table(
        spark, path, target_file_mb=128, partition_col="dt", partitions=["1"]
    )
    assert n == 1
    # dt=0 untouched, dt=1 rewritten to exactly one file
    assert set(glob.glob(os.path.join(path, "dt=0", "*.parquet"))) == before0
    p1 = glob.glob(os.path.join(path, "dt=1", "*.parquet"))
    assert len(p1) == 1
    got = {r.id for r in spark.read.parquet(path).filter("dt = '1'").collect()}
    assert got == {i for i in range(400) if i % 2 == 1}


def test_optimize_zorder_clusters_both_columns(spark, tmp_path):
    """Round 14: optimize(zorder_by=[a, b]) executes the same compaction
    plan with the min-max-scaled Morton key as the bin/sort key — output
    is fingerprint-identical, bin-exact, the derived key never reaches
    the parquet schema, and per-file z-ranges are DISJOINT (the property
    that makes row-group stats tight on every clustered column)."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.integrity import (
        dataset_fingerprint,
    )
    from lakehouse_architecture_spark.operators.partitioning import (
        scaled_zorder_expr,
    )
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "z"), keys=["id"])
    df = spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") % 64).alias("a"),
        ((F.col("id") * 7) % 64).alias("b"),
    )
    t.write(df.repartition(16))
    v0 = t.latest_version()
    before = dataset_fingerprint(t.read(v0)).collect()[0]
    sizes = sorted(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(t._vdir(v0), "*.parquet"))
    )
    with pytest.raises(ValueError, match="not both"):
        t.optimize(order_col="id", zorder_by=["a", "b"])
    v1, n_bins = t.optimize(target_bytes=sizes[0] * 5, zorder_by=["a", "b"])
    files = sorted(glob.glob(os.path.join(t._vdir(v1), "*.parquet")))
    assert 1 < n_bins < 16
    # range partitioning may leave a partition empty on tiny data, but
    # never produces MORE files than the byte plan sized
    assert 1 < len(files) <= n_bins
    after = t.read(v1)
    assert after.columns == ["id", "a", "b"]  # __zopt never written
    assert dataset_fingerprint(after).collect()[0] == before
    # per-file z-ranges disjoint: bins were cut in z order, sorted within
    zexpr = scaled_zorder_expr(t.read(v1), ["a", "b"], 16)
    full = t.read(v1).withColumn("__z", zexpr)
    by_file = (
        full.withColumn(
            "__f",
            F.element_at(F.split(F.input_file_name(), "/"), -1),
        )
        .groupBy("__f")
        .agg(F.min("__z").alias("lo"), F.max("__z").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in by_file)
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2, f"overlapping z ranges: {spans}"


def test_compact_table_survives_space_in_file_name(spark, tmp_path):
    """ADVICE r14 (round 15): input_file_name() returns a percent-encoded
    URI, so an externally-written data file with a space in its name used
    to never match the os.path-derived manifest key and its rows were
    SILENTLY DROPPED by the inner bin join. The manifest keys are now
    URI-quoted to match — the rewrite must keep every row."""
    import shutil

    path = str(tmp_path / "spacey")
    spark.range(0, 200).selectExpr("id", "id * 2 as x").repartition(4).write.parquet(
        path
    )
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    renamed = os.path.join(path, "part with space %odd.parquet")
    shutil.move(files[0], renamed)
    n = compact_table(spark, path, target_file_mb=128, order_col="id")
    assert n == 1
    back = spark.read.parquet(path)
    assert back.count() == 200
    assert back.agg(F.sum("x")).collect()[0][0] == sum(2 * i for i in range(200))


def test_compact_table_rejects_duplicate_basenames(spark, tmp_path):
    """ADVICE r14 (round 15): two files in different subdirectories with
    the same basename collapse into ONE size-manifest entry — the planner
    must refuse loudly instead of planning a corrupt layout."""
    import shutil

    import pytest

    path = str(tmp_path / "dup")
    spark.createDataFrame(
        [(0, "a"), (1, "b")], "id int, dt string"
    ).write.partitionBy("dt").parquet(path)
    a_files = glob.glob(os.path.join(path, "dt=a", "*.parquet"))
    b_dir = os.path.join(path, "dt=b")
    # force a basename collision across partition dirs
    shutil.copy(a_files[0], os.path.join(b_dir, os.path.basename(a_files[0])))
    with pytest.raises(ValueError, match="duplicate data-file basename"):
        compact_table(spark, path, target_file_mb=128)


def test_compact_table_ignores_spark_hidden_leftovers(spark, tmp_path):
    """A leftover ``_temporary/`` file is not part of the table Spark
    reads, so it cannot collide with a live file's basename: compaction
    plans and rewrites the visible rows only."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "leftover")
    leftover = os.path.join(path, "_temporary", "0")
    os.makedirs(leftover)
    for i in range(4):
        pq.write_table(
            pa.table({"id": list(range(10 * i, 10 * i + 10))}),
            os.path.join(path, f"part-{i}.parquet"),
        )
    pq.write_table(
        pa.table({"id": [100, 101]}), os.path.join(leftover, "part-0.parquet")
    )
    assert compact_table(spark, path, target_file_mb=128) == 1
    back = spark.read.parquet(path)
    assert sorted(r["id"] for r in back.collect()) == list(range(40))


def test_plan_tagged_bins_fails_fast_on_missing_manifest_entry(spark, tmp_path):
    """ADVICE r14 (round 15): a snapshot row whose file has no size entry
    must raise at execution — the previous inner join silently dropped it
    from a DESTRUCTIVE rewrite."""
    import pytest

    from lakehouse_architecture_spark.pipeline.table_format import (
        plan_tagged_bins,
    )

    path = str(tmp_path / "missing")
    spark.range(0, 100).repartition(3).write.parquet(path)
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    assert len(files) == 3
    sizes = {os.path.basename(p): os.path.getsize(p) for p in files[:2]}
    snapshot = spark.read.parquet(path)
    tagged, _ = plan_tagged_bins(spark, snapshot, sizes, None, 1 << 30)
    with pytest.raises(Exception, match="missing from the size manifest"):
        tagged.collect()
