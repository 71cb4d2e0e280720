"""Unit tests for round-2 operators: URL canonicalization, Z-order
clustering, and span-level substring dedup."""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.dedup import (
    duplicated_kgram_spans,
    remove_duplicated_spans,
)
from lakehouse_architecture_spark.operators.partitioning import (
    zorder_value,
    zordered_write,
)
from lakehouse_architecture_spark.operators.web import (
    canonicalize_url,
    is_valid_url,
    url_dedup,
)


CANON_CASES = [
    # scheme+host case, www, default port, fragment, tracking, param order
    ("HTTPS://WWW.Example.COM:443/A/B?utm_source=x&b=2&a=1#frag",
     "https://example.com/A/B?a=1&b=2"),
    ("http://Example.com:80/", "http://example.com"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),  # non-default port kept
    ("https://example.com/path/", "https://example.com/path"),
    ("https://example.com/CaseKept?Z=1&gclid=abc", "https://example.com/CaseKept?Z=1"),
    ("https://example.com", "https://example.com"),
    ("ftp://Host.com/File", "ftp://host.com/File"),
    ("not a url at all", "not a url at all"),  # malformed passes through
]


def test_canonicalize_url_cases(spark):
    df = spark.createDataFrame(CANON_CASES, ["url", "expected"])
    out = df.withColumn("got", canonicalize_url("url")).collect()
    for r in out:
        assert r.got == r.expected, f"{r.url}: {r.got!r} != {r.expected!r}"


def test_url_dedup_keeps_first(spark):
    rows = [
        (1, "https://example.com/a?b=2&a=1"),
        (2, "HTTPS://WWW.example.com/a/?a=1&b=2&utm_source=z"),
        (3, "https://example.com/other"),
    ]
    df = spark.createDataFrame(rows, ["id", "url"])
    out = url_dedup(df, "url", "id")
    got = {r.canonical_url: r.id for r in out.collect()}
    assert got == {
        "https://example.com/a?a=1&b=2": 1,
        "https://example.com/other": 3,
    }
    assert df.filter(is_valid_url("url")).count() == 3


def test_zorder_value_matches_python_interleave(spark):
    rows = [(x, y) for x in (0, 1, 5, 200, 255) for y in (0, 3, 128, 255)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", zorder_value(["x", "y"], bits=8).alias("z")).collect()
    }

    def interleave(x, y):
        z = 0
        for j in range(8):
            z |= ((x >> j) & 1) << (2 * j)
            z |= ((y >> j) & 1) << (2 * j + 1)
        return z

    for (x, y), z in got.items():
        assert z == interleave(x, y)


def test_zorder_overflow_guard():
    with pytest.raises(ValueError):
        zorder_value(["a", "b", "c", "d"], bits=16)


def test_zordered_write_tightens_both_columns(spark, tmp_path):
    # 64x64 grid; z-order clustering must give every file a tight bounding
    # box on BOTH x and y (lexicographic sort would leave y unconstrained)
    df = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    path = str(tmp_path / "z")
    zordered_write(df, path, ["x", "y"], n_files=16, bits=6)
    spans = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(len(md.schema))]
        box = {}
        for col in ("x", "y"):
            i = names.index(col)
            lo = min(md.row_group(g).column(i).statistics.min for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(i).statistics.max for g in range(md.num_row_groups))
            box[col] = hi - lo
        spans.append(box)
    # every file covers at most half the domain in each dimension
    assert all(b["x"] <= 32 and b["y"] <= 32 for b in spans), spans


def test_duplicated_spans_and_scrub(spark):
    shared = "the quick brown fox jumps over the lazy dog today"  # 10 tokens
    rows = [
        (1, shared + " alpha beta gamma delta epsilon zeta"),
        (2, "intro words here first then " + shared),
        (3, "no overlap with anything else in this corpus at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = duplicated_kgram_spans(df, "doc_id", "text", k=5).orderBy("id").collect()
    assert [(r.id, r.span_start, r.span_end) for r in spans] == [
        (1, 0, 9),
        (2, 5, 14),
    ]
    assert all(r.n_docs == 2 for r in spans)
    cleaned = {
        r.doc_id: r.text
        for r in remove_duplicated_spans(df, "doc_id", "text", k=5).collect()
    }
    assert cleaned[1] == "alpha beta gamma delta epsilon zeta"
    assert cleaned[2] == "intro words here first then"
    assert cleaned[3] == rows[2][1]


def test_duplicated_spans_short_docs_no_grams(spark):
    # docs shorter than k emit nothing, even if identical
    df = spark.createDataFrame([(1, "a b c"), (2, "a b c")], ["doc_id", "text"])
    assert duplicated_kgram_spans(df, "doc_id", "text", k=5).count() == 0


def test_duplicated_spans_within_doc_repeat_not_flagged(spark):
    # repetition INSIDE one doc is repetition_stats' job, not cross-doc dedup
    t = "x1 x2 x3 x4 x5 " * 2
    df = spark.createDataFrame(
        [(1, t.strip()), (2, "totally unrelated words only here")], ["doc_id", "text"]
    )
    assert duplicated_kgram_spans(df, "doc_id", "text", k=5, min_docs=2).count() == 0


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed the same way on the join key must SortMergeJoin
    with NO Exchange on either side — the co-located fact-fact join that
    bucketing exists for. At 100 TB this turns every repeated join on the
    bucket key from a full shuffle into a local merge."""
    from lakehouse_architecture_spark.catalog import Catalog
    from lakehouse_architecture_spark.plans.inspect import formatted_plan

    cat = Catalog(spark)
    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    cat.save_as_table(a, "bkt_a", bucket_by=(8, ("k",)), sort_by=("k",))
    cat.save_as_table(b, "bkt_b", bucket_by=(8, ("k",)), sort_by=("k",))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:3000]
        assert joined.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_manifest_pruned_read_with_zorder(spark, tmp_path):
    """zordered_write + the catalog's stats manifest + Catalog.read: a 2-D
    point predicate must touch a small fraction of files and return
    exactly the full-scan answer — the plan-time data-skipping loop closed
    end to end."""
    from lakehouse_architecture_spark.catalog import Catalog
    from lakehouse_architecture_spark.sources.manifest import pruned_files

    df = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("zt", stats_cols=("x", "y"))
    zordered_write(df, spec.path, ["x", "y"], n_files=16, bits=6)

    man = cat.manifest("zt")
    assert man.count() == 16
    assert man.agg(F.sum("n_rows")).collect()[0][0] == 64 * 64

    # point-ish predicate on x: most files must prune away
    files = pruned_files(man, "x", lo=10, hi=12)
    assert 0 < len(files) <= 8, files

    got = cat.read("zt", where=("x", 10, 12))
    assert len(got.inputFiles()) == len(files)
    full = df.filter((F.col("x") >= 10) & (F.col("x") <= 12))
    assert got.count() == full.count() == 3 * 64
    assert got.agg(F.sum("y")).collect()[0][0] == full.agg(F.sum("y")).collect()[0][0]

    # out-of-domain predicate: zero files, empty result, schema intact
    assert pruned_files(man, "y", lo=1000) == []
    empty = cat.read("zt", where=("y", 1000, None))
    assert empty.count() == 0 and set(empty.columns) == {"x", "y"}


def test_refresh_manifest_incremental(spark, tmp_path):
    """Append files -> refresh covers them without re-reading old footers;
    compact away files -> their rows drop."""
    import os

    from lakehouse_architecture_spark.sources.manifest import (
        file_manifest,
        refresh_manifest,
    )

    path = str(tmp_path / "t")
    spark.range(100).select(F.col("id").alias("x")).coalesce(2).write.parquet(path)
    man = file_manifest(spark, path, ["x"]).cache()
    n0 = man.count()

    # append a new file
    spark.range(100, 200).select(F.col("id").alias("x")).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    man2 = refresh_manifest(spark, man, path, ["x"]).cache()
    assert man2.count() == n0 + 1
    assert man2.agg(F.sum("n_rows")).collect()[0][0] == 200
    new_row = man2.filter(F.col("min_x") >= 100).collect()
    assert len(new_row) == 1 and new_row[0].max_x == 199.0

    # remove one original file -> its row drops, no error
    victims = [r.file for r in man.select("file").collect()][:1]
    os.remove(victims[0])
    man3 = refresh_manifest(spark, man2, path, ["x"])
    assert man3.count() == n0
    assert victims[0] not in {r.file for r in man3.select("file").collect()}


def test_refresh_manifest_uncached_after_compaction(spark, tmp_path):
    """The ADVICE scenario: the input manifest is NOT cached, files vanish
    (compaction), then refresh. The result must materialize without ever
    re-reading the vanished footers, and stay evaluable repeatedly."""
    import os

    from lakehouse_architecture_spark.sources.manifest import (
        file_manifest,
        refresh_manifest,
    )

    path = str(tmp_path / "t")
    spark.range(300).select(F.col("id").alias("x")).repartition(3).write.parquet(path)
    man = file_manifest(spark, path, ["x"])  # lazy — deliberately uncached
    files = sorted(glob.glob(f"{path}/*.parquet"))
    os.remove(files[0])

    man2 = refresh_manifest(spark, man, path, ["x"])
    assert man2.count() == 2  # no FileNotFoundError, vanished row dropped
    assert man2.count() == 2  # re-evaluation never touches footers again
    assert files[0] not in {r.file for r in man2.select("file").collect()}


def test_refresh_manifest_no_inlist_literal(spark, tmp_path):
    """Membership checks are joins: with a 50k-row synthetic manifest the
    kept-rows plan must carry no 50k-element in-list literal."""
    from lakehouse_architecture_spark.sources.manifest import refresh_manifest

    path = str(tmp_path / "t")
    spark.range(10).select(F.col("id").alias("x")).coalesce(1).write.parquet(path)
    real = sorted(glob.glob(f"{path}/*.parquet"))
    synthetic = [(f"/nonexistent/part-{i:05d}.parquet", 10, 100, 0.0, 9.0)
                 for i in range(50_000)]
    man = spark.createDataFrame(
        synthetic + [(real[0], 10, 100, 0.0, 9.0)],
        ["file", "n_rows", "bytes", "min_x", "max_x"],
    )
    out = refresh_manifest(spark, man, path, ["x"])
    assert [r.file for r in out.select("file").collect()] == real
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "nonexistent/part-00001" not in plan  # no in-list of file names


def test_remove_spans_preserves_untouched_docs_and_id_column(spark):
    """Docs with no duplicated span keep their text byte-for-byte (tabs,
    newlines, space runs), and a user column literally named 'id' survives
    the spans join."""
    shared = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (1, 7, shared + " alpha beta gamma delta epsilon zeta"),
        (2, 8, "intro words here first then " + shared),
        (3, 9, "keep\tmy   tabs\nand  runs of spaces exactly as written ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "id", "text"])
    out = {r.doc_id: r for r in remove_duplicated_spans(df, "doc_id", "text", k=5).collect()}
    assert out[3].text == rows[2][2]          # byte-for-byte, not re-joined
    assert [out[i].id for i in (1, 2, 3)] == [7, 8, 9]  # user 'id' intact
    assert out[1].text == "alpha beta gamma delta epsilon zeta"
    assert out[2].text == "intro words here first then"


def test_bloom_manifest_skips_files(spark, tmp_path):
    """Per-file blooms admit the files containing a key (no false
    negatives) and skip most others on a range-clustered layout; an
    equality Catalog.read scans only the admitted files."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.catalog import Catalog
    from lakehouse_architecture_spark.sources.manifest import bloom_admitted_files

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("keys", bloom_cols=("k",))
    spark.range(4096).select(F.col("id").alias("k")).repartitionByRange(
        16, "k"
    ).write.parquet(spec.path)
    bloom = cat.bloom_manifest("keys", "k")
    assert bloom.count() == 16
    files = bloom_admitted_files(bloom, [1234])
    assert 1 <= len(files) < 16  # admits the right file, skips most
    got = cat.read("keys", where=("k", 1234, 1234))
    assert len(got.inputFiles()) == len(files)
    assert [r["k"] for r in got.collect()] == [1234]
    # absent key: may admit false-positive files but returns zero rows
    assert cat.read("keys", where=("k", 999999, 999999)).count() == 0


def test_zorder_cluster_autoscales_large_ranges(spark, tmp_path):
    """A dimension whose range exceeds the Morton grid must STILL cluster
    (zorder_cluster min-max scales it); before the fix, raw values were
    bit-masked and every file spanned the full range."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.partitioning import zordered_write
    from lakehouse_architecture_spark.sources.manifest import file_manifest

    df = spark.range(20000).select(
        (F.col("id") * 37 % 1_000_000).cast("double").alias("big"),
        (F.col("id") % 64).cast("double").alias("small"),
    )
    path = str(tmp_path / "z")
    zordered_write(df, path, ["big", "small"], n_files=16, bits=6)
    man = file_manifest(spark, path, ["big"]).collect()
    widths = sorted(r["max_big"] - r["min_big"] for r in man)
    # with 16 files over a 1e6-range clustered dimension, the median file
    # box must be far tighter than the full range
    assert widths[len(widths) // 2] < 1_000_000 / 2, widths


def test_bloom_canon_decimal_matches_query_literals():
    """parquet DECIMAL cells come back from pyarrow as decimal.Decimal;
    an integral 5.00 must hash like the query literal 5 / 5.0 and a
    fractional 5.50 like the float 5.5 — otherwise every point lookup on
    a DECIMAL bloom column is a silent false negative (ADVICE r4)."""
    from decimal import Decimal

    from lakehouse_architecture_spark.sources.manifest import _bloom_canon

    assert _bloom_canon(Decimal("5.00")) == _bloom_canon(5) == _bloom_canon(5.0)
    assert _bloom_canon(Decimal("5.50")) == _bloom_canon(5.5)
    assert _bloom_canon(Decimal("-3")) == _bloom_canon(-3)


def test_bloom_decimal_column_end_to_end(spark, tmp_path):
    """End-to-end no-false-negative check on a DECIMAL(10,2) column, read
    through the catalog's bloom route (fewer files than the table)."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("dec", bloom_cols=("amt",))
    spark.range(2000).select(
        F.col("id").cast("decimal(10,2)").alias("amt")
    ).repartitionByRange(8, "amt").write.parquet(spec.path)
    df = cat.read("dec", where=("amt", 777, 777))
    assert len(df.inputFiles()) < 8
    got = df.collect()
    assert len(got) == 1 and float(got[0]["amt"]) == 777.0


def test_bloom_auto_sizing_keeps_fpr_under_2pct(spark, tmp_path):
    """Each file's filter is sized ~10 bits/key (4 hashes → theoretical
    FPR ≈ 1.2%); probe 2000 absent keys against a 5k-key file and pin the
    measured FPR < 2% — the sizing claim from
    sources/manifest._auto_bloom_bits, measured rather than asserted."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.sources.manifest import (
        _bloom_positions,
        file_bloom_manifest,
    )

    path = str(tmp_path / "big")
    spark.range(5000).select(F.col("id").alias("k")).coalesce(
        1
    ).write.parquet(path)
    row = file_bloom_manifest(spark, path, "k").collect()[0]
    assert row["num_bits"] >= 10 * 5000  # auto-sized, not the old 8192
    b, nb, nh = row["bloom"], row["num_bits"], row["num_hashes"]

    def admits(v):
        return all(
            b[p // 8] & (1 << (p % 8)) for p in _bloom_positions(v, nb, nh)
        )

    assert all(admits(k) for k in range(0, 5000, 97))  # no false negatives
    fp = sum(admits(k) for k in range(1_000_000, 1_002_000))
    assert fp / 2000 < 0.02, f"measured FPR {fp / 2000:.4f}"


def test_auto_bloom_bits_caps_at_int32_safe_size():
    """A single file with hundreds of millions of keys must not overflow
    the manifest's int32 num_bits column (or allocate a multi-GiB driver
    bytearray): _auto_bloom_bits caps at 2^30 with documented graceful
    FPR degradation."""
    from lakehouse_architecture_spark.sources.manifest import (
        _BLOOM_BITS_CAP,
        _auto_bloom_bits,
    )

    assert _auto_bloom_bits(0) == 8192
    assert _auto_bloom_bits(5000) == 65536  # ~10 bits/key, pow2
    assert _auto_bloom_bits(300_000_000) == _BLOOM_BITS_CAP
    assert _auto_bloom_bits(10**12) == _BLOOM_BITS_CAP
    assert _BLOOM_BITS_CAP < 2**31  # int32-safe


def test_clustered_copy_key_tracks_fixture_fingerprint(tmp_path):
    """Regenerating the fixture in place must invalidate the cached
    clustered copy: the /tmp key folds in the part file's size+mtime."""
    import os
    import shutil
    import time

    from lakehouse_architecture_spark.queries.storage import _source_fingerprint

    src = "/root/testdata/sf0.001/part.parquet"
    dst = str(tmp_path / "part.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copyfile)(src, dst)
    fp1 = _source_fingerprint(str(tmp_path), "part")
    probe = (
        os.path.join(dst, sorted(os.listdir(dst))[0])
        if os.path.isdir(dst)
        else dst
    )
    os.utime(probe, ns=(time.time_ns(), time.time_ns() + 1))
    fp2 = _source_fingerprint(str(tmp_path), "part")
    assert fp1 != fp2
    # missing fixture: stable sentinel, not an exception
    assert _source_fingerprint(
        str(tmp_path / "nope"), "part"
    ) == _source_fingerprint(str(tmp_path / "nope"), "part")
