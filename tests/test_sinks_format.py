"""foreachBatch upsert sink + format-agnostic ManagedTable MERGE."""

import datetime as dt
import os

import pytest
from pyspark.sql import types as T

from lakehouse_architecture_spark.pipeline.table_format import (
    ManagedTable,
    VersionedTable,
    publish_once,
    resolve_format,
)
from lakehouse_architecture_spark.streaming.sinks import foreach_batch_upsert

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.StringType()),
    ]
)


def test_resolve_format_falls_back():
    # delta jars are not in this environment -> parquet fallback
    assert resolve_format("auto") == "parquet"
    assert resolve_format("parquet") == "parquet"


def test_publish_once_discards_staged_copy(tmp_path, monkeypatch):
    """publish_once leaves no staged directory behind: not when the target
    already exists (the winner's copy stays), and not when the rename
    itself fails with the target still absent."""
    staged, target = tmp_path / "staged", tmp_path / "target"
    staged.mkdir()
    (staged / "a").write_text("new")
    assert publish_once(str(staged), str(target))
    assert (target / "a").read_text() == "new" and not staged.exists()

    staged.mkdir()
    (staged / "a").write_text("late")
    assert not publish_once(str(staged), str(target))
    assert (target / "a").read_text() == "new" and not staged.exists()

    staged.mkdir()

    def rename(src, dst):
        raise OSError("injected rename failure")

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="injected"):
        publish_once(str(staged), str(tmp_path / "absent"))
    assert not staged.exists()


def test_managed_table_merge(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    tbl = ManagedTable(spark, str(tmp_path / "tbl"), keys=["id"])
    tbl.merge(spark.createDataFrame([(1, t0, "a"), (2, t0, "b")], SCHEMA))
    tbl.merge(spark.createDataFrame([(2, t0, "B"), (3, t0, "c")], SCHEMA))
    got = {(r["id"], r["v"]) for r in tbl.read().collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_managed_table_merge_delete_and_evolve(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    tbl = ManagedTable(spark, str(tmp_path / "tbl"), keys=["id"])
    tbl.merge(spark.createDataFrame([(1, t0, "a"), (2, t0, "b"), (3, t0, "c")], SCHEMA))

    # WHEN MATCHED AND deleted THEN DELETE: id=2 evicted, not re-inserted;
    # id=9 is delete-marked but unmatched -> no-op; id=3 plain update
    # fresh StructType: .add() would mutate the shared SCHEMA in place
    upd = spark.createDataFrame(
        [(2, t0, "B", True), (9, t0, "x", True), (3, t0, "C", False)],
        T.StructType(list(SCHEMA.fields) + [T.StructField("deleted", T.BooleanType())]),
    )
    tbl.merge(upd, delete_condition="deleted", evolve_schema=True)
    rows = {r["id"]: (r["v"], r["deleted"]) for r in tbl.read().collect()}
    # schema evolved: pre-existing rows read NULL for the new column
    assert rows == {1: ("a", None), 3: ("C", False)}


def test_versioned_table_compact_reduces_files(spark, tmp_path):
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "vt"), keys=["k"])
    t.write(spark.createDataFrame([(i, str(i)) for i in range(40)], ["k", "val"]).repartition(8))
    assert t.history()[0]["n_files"] == 8
    v1 = t.compact(target_files=1)
    assert v1 == 1 and t.history()[1]["n_files"] == 1
    # same rows, old fragmented snapshot still readable
    assert t.read(1).count() == 40 and t.read(0).count() == 40


def test_versioned_table_restore_and_changes(spark, tmp_path):
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "vt"), keys=["k"])
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "val"]))       # v0
    t.merge(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "val"]))       # v1

    # CDC v0 -> v1: 2 changed, 3 added, 1 untouched (filtered out)
    changes = {r["k"]: r["status"] for r in t.read_changes(0, 1).collect()}
    assert changes == {2: "changed", 3: "added"}

    # RESTORE v0 becomes v2; latest content == v0, history intact
    v2 = t.restore(0)
    assert v2 == 2 and t.versions() == [0, 1, 2]
    assert {(r["k"], r["val"]) for r in t.read().collect()} == {(1, "a"), (2, "b")}
    # CDC across the restore sees k=3 removed again
    assert {r["k"]: r["status"] for r in t.read_changes(1).collect()} == {
        2: "changed",
        3: "removed",
    }


def test_versioned_table_merge_delete_keeps_history(spark, tmp_path):
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "vt"), keys=["k"])
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "val"]))
    t.merge(
        spark.createDataFrame([(1, "a", True), (3, "c", False)], ["k", "val", "del"]),
        delete_condition="del",
        evolve_schema=True,
    )
    assert {r["k"] for r in t.read().collect()} == {2, 3}
    # time travel: the pre-delete snapshot still has k=1 and its old schema
    v0 = t.read(0)
    assert {r["k"] for r in v0.collect()} == {1, 2}
    assert "del" not in v0.columns


@pytest.mark.parametrize("scheme", ["path", "uri"])
def test_foreach_batch_upsert_exactly_once(spark, tmp_path, scheme):
    # a "file://" target must merge like a plain path: every epoch after
    # the first updates the table instead of overwriting it with its batch
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    if scheme == "uri":
        target = "file://" + target
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1)

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = foreach_batch_upsert(stream, target, keys=["id"], checkpoint_dir=ckpt)
        q.awaitTermination(120)

    spark.createDataFrame([(1, t0, "a"), (2, t0, "b")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    assert {(r["id"], r["v"]) for r in spark.read.parquet(target).collect()} == {
        (1, "a"),
        (2, "b"),
    }

    # second file updates id=2 and adds id=3; restart applies it once
    spark.createDataFrame([(2, t0, "B"), (3, t0, "c")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    got = {(r["id"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}

    # replay with no new data: checkpoint prevents reprocessing, state stable
    run()
    got2 = {(r["id"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert got2 == got


def test_foreach_batch_versioned_one_version_per_batch(spark, tmp_path):
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable
    from lakehouse_architecture_spark.streaming.sinks import foreach_batch_versioned

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1)
    table = VersionedTable(spark, str(tmp_path / "vt"), keys=["id"])

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = foreach_batch_versioned(stream, table, checkpoint_dir=ckpt)
        q.awaitTermination(120)

    spark.createDataFrame([(1, t0, "a"), (2, t0, "b")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    assert table.versions() == [0]

    spark.createDataFrame([(2, t0, "B"), (3, t0, "c")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    assert table.versions() == [0, 1]
    got = {(r["id"], r["v"]) for r in table.read().collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # time travel still sees the first batch alone
    assert {(r["id"], r["v"]) for r in table.read(0).collect()} == {(1, "a"), (2, "b")}

    # crash-replay simulation: wipe the checkpoint so Structured Streaming
    # re-delivers BOTH files as epoch 0; the epoch marker of v0 dedupes the
    # replay of epoch 0 but the re-batched data commits once more at most —
    # replaying with intact checkpoint must be a clean no-op
    run()
    assert table.versions() == [0, 1]


def test_versioned_table_time_travel_and_vacuum(spark, tmp_path):
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "vt"), keys=["k"])
    assert t.versions() == [] and t.latest_version() is None

    v0 = t.write(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "val"]))
    v1 = t.merge(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "val"]))
    assert (v0, v1) == (0, 1)

    # time travel: v0 unchanged, v1 merged
    assert sorted((r.k, r.val) for r in t.read(0).collect()) == [(1, "a"), (2, "b")]
    assert sorted((r.k, r.val) for r in t.read(1).collect()) == [
        (1, "a"), (2, "B"), (3, "c"),
    ]
    assert sorted((r.k, r.val) for r in t.read().collect()) == [
        (1, "a"), (2, "B"), (3, "c"),
    ]

    # full-history view comes free from the v= partition layout
    hist_df = spark.read.parquet(str(tmp_path / "vt"))
    assert hist_df.count() == 5 and "v" in hist_df.columns

    hist = t.history()
    assert [h["version"] for h in hist] == [0, 1]
    assert all(h["n_files"] >= 1 and h["bytes"] > 0 for h in hist)

    # crashed-writer leftovers are invisible and vacuumed — but only once
    # OLD (the age gate protects an in-flight writer's staging dir)
    import os
    os.makedirs(str(tmp_path / "vt" / ".v=2__tmp-crashed"))
    assert t.latest_version() == 1
    removed = t.vacuum(keep_last=1)  # default age gate: fresh tmp survives
    assert removed == [0] and t.versions() == [1]
    assert os.path.exists(str(tmp_path / "vt" / ".v=2__tmp-crashed"))
    assert t.vacuum(keep_last=1, tmp_min_age_s=0.0) == []
    assert not os.path.exists(str(tmp_path / "vt" / ".v=2__tmp-crashed"))
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        t.read(0)


def test_versioned_table_crashed_commit_hidden_from_history_read(
    spark, tmp_path, monkeypatch
):
    """A commit that dies after staging and before its rename leaves the
    staged copy inside the table root. The full-history read of the root
    must not see it: still 5 rows and an int ``v``, not an extra partition
    value. vacuum removes it once the age gate allows."""
    from lakehouse_architecture_spark.pipeline import table_format

    root = str(tmp_path / "vt")
    t = VersionedTable(spark, root, keys=["k"])
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "val"]))
    t.merge(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "val"]))

    def crash(staged, target):
        raise RuntimeError("writer killed before publishing")

    monkeypatch.setattr(table_format, "publish_once", crash)
    with pytest.raises(RuntimeError, match="killed"):
        t.write(spark.createDataFrame([(4, "d"), (5, "e"), (6, "f")], ["k", "val"]))
    monkeypatch.undo()
    staged = [d for d in os.listdir(root) if d not in ("v=0", "v=1")]
    assert len(staged) == 1
    hist = spark.read.parquet(root)
    assert hist.count() == 5
    assert dict(hist.dtypes)["v"] == "int"
    assert t.versions() == [0, 1]
    assert t.vacuum(keep_last=2, tmp_min_age_s=0) == []
    assert sorted(os.listdir(root)) == ["v=0", "v=1"]


def test_versioned_table_byte_counts_follow_spark_listing(spark, tmp_path):
    """snapshot_bytes and history count the files Spark reads: a
    "."-parked copy inside the version directory is not data."""
    import shutil

    from lakehouse_architecture_spark.sources.manifest import data_files

    t = VersionedTable(spark, str(tmp_path / "vt"), keys=["k"])
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "val"]).coalesce(1))
    vdir = t._vdir(t.latest_version())
    live = data_files(vdir)
    os.makedirs(os.path.join(vdir, ".parked"))
    shutil.copy(live[0], os.path.join(vdir, ".parked", os.path.basename(live[0])))
    expected = sum(os.path.getsize(f) for f in live)
    assert data_files(vdir) == live
    assert t.history()[-1]["bytes"] == expected
    assert t.snapshot_bytes() == expected


def test_versioned_table_commit_race_loser_detected(spark, tmp_path):
    """Two writers staging the same next version: each stages into its OWN
    tmp dir (no shared-name clobber) and the loser gets FileExistsError
    while the winner's data stays intact."""
    import os

    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "vt"), keys=["k"])
    t.write(spark.createDataFrame([(1, "a")], ["k", "val"]))

    # simulate the loser: version dir appears after the pre-check would
    # have passed — the atomic rename must fail, not overwrite
    df_b = spark.createDataFrame([(2, "b")], ["k", "val"])
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        t._commit(df_b, 0)
    assert sorted((r.k, r.val) for r in t.read(0).collect()) == [(1, "a")]
    # no stranded tmp dirs
    assert os.listdir(str(tmp_path / "vt")) == ["v=0"]


def test_versioned_table_compact_zorder_tightens_stats(spark, tmp_path):
    import glob
    import random

    import pyarrow.parquet as pq

    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    # 1k rows over a 2-D grid, written in shuffled order across 4 files so
    # every file's (x, y) bounding box starts near-full-range
    rng = random.Random(7)
    rows = [(i, i % 32, (i * 17) % 32) for i in range(1000)]
    rng.shuffle(rows)
    t = VersionedTable(spark, str(tmp_path / "vt"), keys=["k"])
    t.write(spark.createDataFrame(rows, ["k", "x", "y"]).repartition(4))

    def boxes(version):
        out = []
        for f in glob.glob(str(tmp_path / "vt" / f"v={version}" / "*.parquet")):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(len(md.schema))]
            span = {}
            for c in ("x", "y"):
                i = names.index(c)
                st = md.row_group(0).column(i).statistics
                span[c] = st.max - st.min
            out.append(span)
        return out

    v1 = t.compact(target_files=4, zorder_by=["x", "y"], zorder_bits=5)
    assert v1 == 1
    assert t.read(1).count() == 1000
    assert sorted(r["k"] for r in t.read(1).collect()) == list(range(1000))

    pre, post = boxes(0), boxes(1)
    # shuffled layout: every file spans ~the full 0-31 range on both dims;
    # z-clustered: the average per-file span shrinks on BOTH dims at once
    for c in ("x", "y"):
        pre_avg = sum(b[c] for b in pre) / len(pre)
        post_avg = sum(b[c] for b in post) / len(post)
        assert post_avg < pre_avg * 0.7, (c, pre_avg, post_avg)


def test_versioned_table_check_constraints(spark, tmp_path):
    import pytest

    from lakehouse_architecture_spark.pipeline.expectations import (
        ExpectationsViolated,
    )
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "vt"), keys=["k"])
    t.set_check_constraints({"amount_nonneg": "amount >= 0"})

    good = spark.createDataFrame([(1, 5.0), (2, 0.0)], "k long, amount double")
    assert t.write(good) == 0

    bad = spark.createDataFrame([(3, -1.0)], "k long, amount double")
    with pytest.raises(ExpectationsViolated) as ei:
        t.write(bad)
    assert ei.value.counts == {"amount_nonneg": 1}
    # the failed write committed nothing
    assert t.versions() == [0]

    # merge enforces on incoming rows too
    with pytest.raises(ExpectationsViolated):
        t.merge(bad)
    # but delete-marked rows are exempt: they never land in the snapshot
    marked = spark.createDataFrame(
        [(1, -9.0, True), (4, 2.0, False)], "k long, amount double, del boolean"
    )
    v = t.merge(marked.select("k", "amount", "del"), delete_condition="del")
    keys = {r["k"] for r in t.read(v).select("k").collect()}
    assert keys == {2, 4}


def test_check_constraints_survive_reopen(spark, tmp_path):
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    path = str(tmp_path / "vt")
    VersionedTable(spark, path, keys=["k"]).set_check_constraints(
        {"k_positive": "k > 0"}
    )
    reopened = VersionedTable(spark, path, keys=["k"])
    assert reopened.check_constraints() == {"k_positive": "k > 0"}
