"""Sources (CSV/JSON bronze, partitioned writer) + Catalog registry."""

from pyspark.sql import functions as F

from lakehouse_architecture_spark.catalog import Catalog
from lakehouse_architecture_spark.plans.inspect import formatted_plan
from lakehouse_architecture_spark.sources.readers import read_bronze_csv
from lakehouse_architecture_spark.sources.writers import (
    write_bronze_json,
    write_partitioned,
)


def test_read_bronze_csv(spark, tmp_path):
    p = tmp_path / "drop.csv"
    p.write_text("id,location,area,bedrooms,price\n1,HCM,80,3,5000000\n2,HN,,2,\n")
    df = read_bronze_csv(spark, str(p))
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert rows["1"]["location"] == "HCM"
    assert rows["2"]["area"] is None  # empty cell -> NULL
    assert rows["1"]["_ingest_file"].endswith("drop.csv")


def test_write_bronze_json_roundtrip(spark, tmp_path):
    out = str(tmp_path / "bronze")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    write_bronze_json(df, out)
    back = spark.read.json(out)
    assert {(r["id"], r["v"]) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_partitioned_write_prunes(spark, tmp_path):
    out = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02")], "id int, dt string"
    )
    write_partitioned(df, out, ["dt"])
    back = spark.read.parquet(out).filter(F.col("dt") == "2024-01-01")
    assert back.count() == 2
    # the partition predicate must prune at planning time, not post-scan —
    # this is what the reference's hand-built key layout could never do
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan and "2024-01-01" in plan


def test_catalog_registry(spark, tmp_path):
    cat = Catalog(spark, root=str(tmp_path))
    cat.define("events_t", partition_by=("dt",))
    df = spark.createDataFrame(
        [(1, 1.0, "2024-01-01"), (2, 2.0, "2024-01-02")], "id int, v double, dt string"
    )
    cat.write(df, "events_t")
    back = cat.read("events_t")
    assert back.count() == 2
    view = cat.create_view("events_t")
    assert spark.sql("SELECT count(*) AS n FROM events_t").collect()[0]["n"] == 2
    assert set(view.columns) == {"id", "v", "dt"}


def test_persistent_catalog_survives_session(tmp_path):
    """S15 parity: a table saved via Catalog.save_as_table into a
    Hive-warehouse session is visible BY NAME to a brand-new session on the
    same warehouse — the metastore durability a BI/JDBC user relies on.
    Runs in subprocesses: each gets its own JVM, so 'fresh session' is real.
    """
    import subprocess
    import sys
    import textwrap

    wh = str(tmp_path / "warehouse")

    def run(body):
        code = textwrap.dedent(
            f"""
            import sys; sys.path.insert(0, {repr(str(__import__('pathlib').Path(__file__).resolve().parents[1]))})
            from lakehouse_architecture_spark.session import SessionFactory
            from lakehouse_architecture_spark.catalog import Catalog
            spark = SessionFactory(
                app_name="cat_persist", master="local[2]",
                shuffle_partitions=2, hive_warehouse={repr(wh)},
            ).get_or_create()
            spark.sparkContext.setLogLevel("ERROR")
            {body}
            spark.stop()
            """
        )
        return subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
        )

    w = run(
        """
            cat = Catalog(spark)
            df = spark.createDataFrame(
                [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")],
                "id int, v string, dt string",
            )
            cat.save_as_table(df, "silver_listings", partition_by=("dt",))
            """
    )
    assert w.returncode == 0, w.stderr[-2000:]

    r = run(
        """
            rows = spark.sql(
                "SELECT id, v FROM silver_listings WHERE dt = '2024-01-01'"
            ).collect()
            assert [(r['id'], r['v']) for r in rows] == [(1, 'a')], rows
            names = {t.name for t in spark.catalog.listTables()}
            assert "silver_listings" in names, names
            print("SECOND_SESSION_OK")
            """
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "SECOND_SESSION_OK" in r.stdout


def test_bucketed_tables_join_without_shuffle(tmp_path):
    """The 100 TB co-located-join lever: two tables bucketed on the join
    key with the same bucket count must sort-merge-join with ZERO
    exchanges — the bucketing metadata proves co-partitioning. Runs in a
    subprocess so the bucketed catalog tables live in a scratch warehouse.
    """
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent(
        f"""
        import sys; sys.path.insert(0, {repr(str(__import__('pathlib').Path(__file__).resolve().parents[1]))})
        from lakehouse_architecture_spark.session import SessionFactory
        from lakehouse_architecture_spark.catalog import Catalog

        spark = SessionFactory(
            app_name="bucketed", master="local[4]", shuffle_partitions=4,
            hive_warehouse={repr(str(tmp_path / "wh"))},
            extra_conf={{"spark.sql.autoBroadcastJoinThreshold": "-1"}},
        ).get_or_create()
        spark.sparkContext.setLogLevel("ERROR")
        cat = Catalog(spark)
        facts = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS v1")
        dims = spark.range(0, 10_000).selectExpr("id AS k", "id * 3 AS v2")
        cat.save_as_table(facts, "f_bucketed", bucket_by=(8, ("k",)), sort_by=("k",))
        cat.save_as_table(dims, "d_bucketed", bucket_by=(8, ("k",)), sort_by=("k",))

        joined = spark.table("f_bucketed").join(spark.table("d_bucketed"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-bucketed -> shuffle-free
        assert joined.count() == 10_000
        print("BUCKETED_JOIN_SHUFFLE_FREE")
        spark.stop()
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "BUCKETED_JOIN_SHUFFLE_FREE" in r.stdout


def test_read_bronze_csv_quarantines_corrupt_rows(spark, tmp_path):
    from pyspark.sql import types as T

    from lakehouse_architecture_spark.sources.readers import read_bronze_csv

    p = tmp_path / "drop.csv"
    p.write_text("id,price\n1,100\nnot_an_int,oops,extra_field\n2,200\n")
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("price", T.IntegerType())]
    )
    df = read_bronze_csv(spark, str(p), schema=schema).cache()
    good = df.filter("_corrupt_record IS NULL")
    bad = df.filter("_corrupt_record IS NOT NULL")
    assert {r["id"] for r in good.collect()} == {1, 2}
    assert bad.count() == 1  # malformed line quarantined, not silently parsed


def test_save_as_table_sort_without_bucket_raises(spark, tmp_path):
    import pytest

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(ValueError, match="sort_by requires bucket_by"):
        cat.save_as_table(df, "t_sorted_nobucket", sort_by=("k",))


def test_catalog_pruned_read_shrinks_file_list(spark, tmp_path):
    """Catalog.read(name, where=(col, lo, hi)) on a stats-col of a
    z-clustered table must scan FEWER files than the table holds, return
    exactly the filtered rows, and degrade to scan+filter on a non-stats
    column."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.catalog import Catalog
    from lakehouse_architecture_spark.operators.partitioning import zordered_write

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("pts", stats_cols=("x", "y"))
    df = spark.range(4096).select(
        F.col("id").alias("rid"),
        (F.col("id") % 64).cast("double").alias("x"),
        (F.col("id") / 64).cast("double").alias("y"),
    )
    zordered_write(df, spec.path, ["x", "y"], n_files=16, bits=6)

    total_files = cat.manifest("pts").count()
    assert total_files == 16

    got = cat.read("pts", where=("x", 10.0, 12.0))
    # file list shrinks: the scan's input files are fewer than the table's
    scanned = got.select(F.input_file_name()).distinct().count()
    assert scanned < total_files
    rows = {r["rid"] for r in got.collect()}
    want = {r["rid"] for r in df.filter("x between 10 and 12").collect()}
    assert rows == want

    # non-stats column: same answer via plain scan+filter
    got2 = cat.read("pts", where=("rid", 100.0, 110.0))
    assert got2.count() == 11

    # write invalidates the manifest; next pruned read rebuilds it
    cat.write(df.filter("x < 8"), "pts")
    assert cat.read("pts", where=("x", 10.0, 12.0)).count() == 0


def test_catalog_bloom_routed_equality_read(spark, tmp_path):
    """Catalog.read with an equality where on a bloom_cols column routes
    through the bloom manifest: fewer files scanned, exact rows returned,
    and write() invalidates the cached bloom."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    cat.define("keys", bloom_cols=("k",))
    df = spark.range(4096).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("j")
    )
    df.repartitionByRange(16, "k").write.parquet(str(tmp_path / "keys"))

    got = cat.read("keys", where=("k", 1234, 1234))
    scanned = got.select(F.input_file_name()).distinct().count()
    assert scanned < 16
    assert [r["k"] for r in got.collect()] == [1234]

    # equality on a NON-bloom column degrades to scan+filter, same answer
    got2 = cat.read("keys", where=("j", 20, 20))
    assert [r["k"] for r in got2.collect()] == [10]

    # overwrite invalidates the bloom cache; a refresh_stats after an
    # out-of-band append must also drop it (stale bloom = false negative)
    cat.write(df.filter("k < 100"), "keys")
    assert cat.read("keys", where=("k", 1234, 1234)).count() == 0
    assert cat.read("keys", where=("k", 50, 50)).count() == 1
    # out-of-band append of k=9000, then the documented refresh call
    spark.createDataFrame([(9000, 18000)], "k long, j long").write.mode(
        "append"
    ).parquet(str(tmp_path / "keys"))
    assert cat.refresh_stats("keys") is None  # no stats_cols; blooms dropped
    assert cat.read("keys", where=("k", 9000, 9000)).count() == 1


def test_catalog_compound_predicates_intersect_file_lists(spark, tmp_path):
    """Catalog.read with a LIST of predicates intersects the per-column
    admitted file lists (compound pruning multiplies selectivities) and
    applies every residual — r4 directive #8."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.catalog import Catalog
    from lakehouse_architecture_spark.operators.partitioning import zordered_write

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("pts2", stats_cols=("x", "y"))
    df = spark.range(4096).select(
        F.col("id").alias("rid"),
        (F.col("id") % 64).cast("double").alias("x"),
        (F.col("id") / 64).cast("double").alias("y"),
    )
    zordered_write(df, spec.path, ["x", "y"], n_files=16, bits=6)

    single = cat.read("pts2", where=("x", 10.0, 12.0))
    compound = cat.read("pts2", where=[("x", 10.0, 12.0), ("y", 10.0, 20.0)])
    n_single = single.select(F.input_file_name()).distinct().count()
    n_comp = compound.select(F.input_file_name()).distinct().count()
    assert n_comp <= n_single < 16  # intersection can only shrink
    rows = {r["rid"] for r in compound.collect()}
    want = {
        r["rid"]
        for r in df.filter("x between 10 and 12 and y between 10 and 20").collect()
    }
    assert rows == want
    # mixed prunable + non-prunable predicate: prune on x, residual on rid
    mixed = cat.read("pts2", where=[("x", 10.0, 12.0), ("rid", 0.0, 500.0)])
    assert {r["rid"] for r in mixed.collect()} == {
        r["rid"] for r in df.filter("x between 10 and 12 and rid <= 500").collect()
    }
    # out-of-domain band -> empty file intersection -> empty result, same schema
    empty = cat.read("pts2", where=[("x", 100.0, 200.0), ("y", 10.0, 20.0)])
    assert empty.count() == 0 and set(empty.columns) == set(df.columns)


def test_catalog_inlist_bloom_union(spark, tmp_path):
    """Catalog.read with (col, [values]) unions per-value bloom admissions
    into ONE scan; a stats-col IN-list unions min/max box admissions."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    cat.define("keys2", bloom_cols=("k",), stats_cols=("k",))
    df = spark.range(4096).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("j")
    )
    df.repartitionByRange(16, "k").write.parquet(str(tmp_path / "keys2"))

    got = cat.read("keys2", where=("k", [7, 1234, 4000]))
    scanned = got.select(F.input_file_name()).distinct().count()
    assert scanned < 16
    assert sorted(r["k"] for r in got.collect()) == [7, 1234, 4000]
    # values absent from the table: bloom admits (maybe) but residual drops
    assert cat.read("keys2", where=("k", [999999])).count() == 0
    # IN-list on a column with neither manifest: plain scan + isin residual
    assert sorted(
        r["k"] for r in cat.read("keys2", where=("j", [20, 40])).collect()
    ) == [10, 20]


def test_catalog_partition_plus_manifest_compound_pruning(spark, tmp_path):
    """Round 7 (r6 directive #8): a predicate on a partition_by column
    prunes hive partition DIRECTORIES driver-side (no manifest, no footer
    reads) and INTERSECTS with a stats-manifest predicate in the same
    Catalog.read call — partition x min/max compound pruning. Rows must
    equal the plain two-predicate filter; the file list must be smaller
    than either axis alone."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("pev", partition_by=("d",), stats_cols=("v",))
    df = spark.range(4000).select(
        F.col("id").alias("rid"),
        (F.col("id") % 10).cast("string").alias("d"),
        (F.col("id") % 400).cast("double").alias("v"),
    )
    # 10 partitions x 4 value-ranged files each
    df.repartitionByRange(4, "v").write.partitionBy("d").parquet(spec.path)

    n_total = sum(
        1 for r, _d, fs in __import__("os").walk(spec.path)
        for f in fs if f.endswith(".parquet")
    )
    part_only = cat.read("pev", where=("d", "3", "5"))
    both = cat.read("pev", where=[("d", "3", "5"), ("v", 0.0, 99.0)])
    n_part = part_only.select(F.input_file_name()).distinct().count()
    n_both = both.select(F.input_file_name()).distinct().count()
    assert n_part < n_total  # partition axis prunes directories
    assert n_both < n_part   # manifest axis prunes within partitions
    want = {
        r["rid"]
        for r in df.filter("d in ('3','4','5') and v between 0 and 99").collect()
    }
    assert {r["rid"] for r in both.collect()} == want
    # IN-list on the partition column (partition type inference reads the
    # hive path value back as int; the path-level admission is by string)
    inl = cat.read("pev", where=("d", ["7", "9"]))
    assert {str(r["d"]) for r in inl.collect()} == {"7", "9"}


def test_catalog_partition_range_numeric_not_lexicographic(spark, tmp_path):
    """Round 9 (r7 directive #1): range predicates over an UNPADDED numeric
    partition layout must compare numerically — the old lexicographic
    compare silently dropped hour=10 from ``hour BETWEEN 2 AND 10``
    ("10" < "2" as strings), the repo's one known silent-wrong-answer
    path. Also covers numeric IN-lists, open-ended ranges, and the
    conservative no-prune fallback on semantics mismatch."""
    import os

    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("hrs", partition_by=("hour",))
    df = spark.range(240).select(
        F.col("id").alias("rid"), (F.col("id") % 24).alias("hour")
    )
    df.write.partitionBy("hour").parquet(spec.path)
    n_total = sum(
        1
        for _r, _d, fs in os.walk(spec.path)
        for f in fs
        if f.endswith(".parquet")
    )

    got = cat.read("hrs", where=("hour", 2, 10))
    want = {r["rid"] for r in df.filter("hour between 2 and 10").collect()}
    assert {r["rid"] for r in got.collect()} == want  # hour=10 ADMITTED
    assert (
        got.select(F.input_file_name()).distinct().count() < n_total
    )  # and it still actually prunes

    # numeric IN-list: int values match unpadded path strings numerically
    inl = cat.read("hrs", where=("hour", [3, 21]))
    assert {r["hour"] for r in inl.collect()} == {3, 21}

    # open-ended range on the numeric layout
    hi = cat.read("hrs", where=("hour", 19, None))
    assert {r["hour"] for r in hi.collect()} == {19, 20, 21, 22, 23}

    # mixed (non-numeric) layout + numeric bound -> conservative NO-PRUNE
    # fallback: full scan + residual, never a silently-smaller file set
    spec2 = cat.define("mixed", partition_by=("k",))
    df2 = spark.createDataFrame(
        [(1, "a5"), (2, "b1"), (3, "a7")], "rid int, k string"
    )
    df2.write.partitionBy("k").parquet(spec2.path)
    assert cat._partition_admitted_files(spec2, ("k", 1, 9)) is None
    assert {
        r["rid"] for r in cat.read("mixed", where=("k", "a5", "a7")).collect()
    } == {1, 3}  # string bounds on string layout: lexicographic, correct

    # a literal "NaN" partition value must not sniff as a numeric layout
    # (Spark's residual orders NaN LARGEST, a float compare would say
    # False and silently drop the partition) -> conservative NO-PRUNE
    spec3 = cat.define("nanp", partition_by=("m",))
    df3 = spark.createDataFrame(
        [(1, "5"), (2, "NaN"), (3, "7")], "rid int, m string"
    )
    df3.write.partitionBy("m").parquet(spec3.path)
    assert cat._partition_admitted_files(spec3, ("m", 4, 8)) is None

    # degenerate unbounded range (None, None) = no constraint: must be a
    # no-op prune (full scan), not a range admit that would silently
    # exclude a hive null partition
    assert cat._partition_admitted_files(spec, ("hour", None, None)) is None


def test_partition_prune_hive_escaped_values(spark, tmp_path):
    """Round 10 (ADVICE r9, medium): Spark hive-ESCAPES special chars when
    writing partition directories (``k=x:y`` lands as ``k=x%3Ay``), and
    its residual filter compares the UNESCAPED value — so must pruning.
    The old escaped-path compare admitted NOTHING for ``IN ['x:y']`` and
    silently lost every row of the partition."""
    import os

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("esc", partition_by=("k",))
    df = spark.createDataFrame(
        [(1, "x:y"), (2, "a b"), (3, "100%"), (4, "plain"), (5, "q#7")],
        "rid int, k string",
    )
    df.write.partitionBy("k").parquet(spec.path)
    # sanity: the layout on disk really is escaped
    dirs = {d for d in os.listdir(spec.path) if d.startswith("k=")}
    assert "k=x%3Ay" in dirs, dirs

    n_total = sum(
        1
        for _r, _d, fs in os.walk(spec.path)
        for f in fs
        if f.endswith(".parquet")
    )
    got = cat.read("esc", where=("k", ["x:y", "q#7"]))
    assert {r["rid"] for r in got.collect()} == {1, 5}
    assert got.select(F.input_file_name()).distinct().count() < n_total

    # equality-as-range on an escaped value
    got2 = cat.read("esc", where=("k", "a b", "a b"))
    assert {r["rid"] for r in got2.collect()} == {2}

    # range across escaped values compares the UNESCAPED spellings
    got3 = cat.read("esc", where=("k", "a", "r"))
    want = {
        r["rid"] for r in df.filter("k >= 'a' and k <= 'r'").collect()
    }
    assert {r["rid"] for r in got3.collect()} == want


def test_partition_index_cached_and_invalidated(spark, tmp_path):
    """Round 10 (VERDICT r9 #2): the partition walk runs once per (table,
    layout signature) — repeated pruned reads hit the cache; engine
    writes and out-of-band layout changes (shallow mtime) rebuild it."""
    import os

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("pidx", partition_by=("d",))
    df = spark.createDataFrame(
        [(i, str(i % 3)) for i in range(30)], "rid int, d string"
    )
    df.write.partitionBy("d").parquet(spec.path)

    walks = {"n": 0}
    real_walk = os.walk

    def counting_walk(*a, **kw):
        walks["n"] += 1
        return real_walk(*a, **kw)

    os.walk = counting_walk
    try:
        assert {
            r["rid"] for r in cat.read("pidx", where=("d", ["1"])).collect()
        } == {i for i in range(30) if i % 3 == 1}
        first = walks["n"]
        assert first >= 1
        cat.read("pidx", where=("d", ["2"])).collect()
        cat.read("pidx", where=("d", "0", "1")).collect()
        assert walks["n"] == first  # cache hit: no re-walk

        # out-of-band: a NEW partition directory changes the root mtime —
        # the shallow signature must catch it and rebuild
        nd = os.path.join(spec.path, "d=9")
        os.makedirs(nd)
        spark.createDataFrame([(99, "9")], "rid int, d string").drop(
            "d"
        ).write.mode("overwrite").parquet(nd)
        got = cat.read("pidx", where=("d", ["9"]))
        assert {r["rid"] for r in got.collect()} == {99}
        assert walks["n"] > first  # signature change re-walked
    finally:
        os.walk = real_walk

    # engine write invalidates outright
    cat.write(df, "pidx")
    assert "pidx" not in cat._part_index


def test_plain_read_schema_stash(spark, tmp_path):
    """Round 10 (VERDICT r9 #6): repeated catalog reads reuse the stashed
    schema — the second read must launch ZERO driver jobs for footer
    re-inference and return the identical schema."""
    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("sst")
    spark.range(1000).selectExpr(
        "id", "cast(id % 7 as double) as v", "cast(id as string) as s"
    ).write.parquet(spec.path)

    df1 = cat.read("sst")
    assert "sst" in cat._schemas
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    df2 = cat.read("sst")  # plan-only: no action
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # no inference job on the stashed path
    assert df2.schema == df1.schema
    assert df2.count() == 1000

    # invalidation: an engine write drops the stash
    cat.write(spark.range(5).selectExpr("id", "cast(id as double) as v2"), "sst")
    assert "sst" not in cat._schemas
    assert "v2" in cat.read("sst").columns


def test_partition_typing_matches_spark_inference(spark, tmp_path):
    """Round 10: the driver-side layout-typing probe must never claim
    semantics Spark's own partition-type inference contradicts. For each
    tricky layout, either our classification agrees with the dtype Spark
    infers from the same directories, or pruning degrades to no-prune
    (None) — the conservative contract, checked here against the REAL
    engine rather than a model."""
    import os

    from lakehouse_architecture_spark.catalog import Catalog, TableSpec

    cases = [
        # (layout values as written to disk, expected Spark dtype prefix)
        (["5", "07", "121"], "int"),            # unpadded ints
        (["1.5", "2.25"], "double"),            # fractional
        (["5", "abc"], "string"),               # mixed -> widened string
        (["1_000", "9_0"], "string"),           # Java rejects underscores
        (["Infinity", "5"], "double"),          # Java-lenient double
        (["2024-01-05", "2024-02-01"], "date"), # canonical ISO dates
    ]
    for i, (vals, want_prefix) in enumerate(cases):
        path = str(tmp_path / f"t{i}")
        for j, v in enumerate(vals):
            d = os.path.join(path, f"k={v}")
            os.makedirs(d)
            spark.createDataFrame([(j,)], "rid int").write.parquet(
                d, mode="overwrite"
            )
        dtype = dict(spark.read.parquet(path).dtypes).get("k")
        assert dtype.startswith(want_prefix), (vals, dtype, want_prefix)

        cat = Catalog(None)
        spec = TableSpec(name=f"t{i}", path=path, partition_by=("k",))
        admitted = cat._partition_admitted_files(spec, ("k", "0", "99999"))
        if dtype.startswith("int") or dtype.startswith("double"):
            # numeric per Spark: our probe must either prune numerically
            # (all-strict layouts) or refuse (lenient spellings) — never
            # compare lexicographically. Verify via a probe that would
            # betray a lexicographic compare: BETWEEN 07 AND 9 admits
            # "121" lexicographically ("121" > "07" and < "9") but not
            # numerically.
            a2 = cat._partition_admitted_files(spec, ("k", 7, 9))
            if a2 is not None:
                assert not any("k=121" in f for f in a2), a2
        if dtype == "string" and admitted is not None:
            # our string path only engages when NOTHING in the layout is
            # numeric to Spark — otherwise it must have returned None
            assert not any(
                Catalog._JAVA_LENIENT_NUM.match(v) for v in vals
            ), vals


def test_partition_index_deep_append_needs_refresh(spark, tmp_path):
    """Documents the cache-staleness contract for NESTED layouts: a file
    appended out-of-band BELOW depth 1 (date=/hour=) does not propagate
    an mtime to the shallow signature, so the cached partition index
    stays stale until refresh_stats() — the same contract the stats and
    bloom manifests have always had. Engine writes are never affected
    (write() drops the cache outright)."""
    import os

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("deep", partition_by=("d", "h"))
    df = spark.createDataFrame(
        [(i, str(i % 2), str(i % 3)) for i in range(12)],
        "rid int, d string, h string",
    )
    df.write.partitionBy("d", "h").parquet(spec.path)
    assert {
        r["rid"] for r in cat.read("deep", where=("h", ["1"])).collect()
    } == {i for i in range(12) if i % 3 == 1}

    # out-of-band append INTO an existing leaf partition: not visible to
    # the shallow signature...
    leaf = os.path.join(spec.path, "d=0", "h=1")
    spark.createDataFrame([(100,)], "rid int").write.mode("append").parquet(
        leaf
    )
    # ...until refresh_stats drops the cached index
    cat.refresh_stats("deep")
    got = {r["rid"] for r in cat.read("deep", where=("h", ["1"])).collect()}
    assert 100 in got, got


def test_partition_date_layout_noncanonical_bound_no_prune(spark, tmp_path):
    """Round 10: an all-canonical-ISO date layout is typed DATE by Spark,
    so the residual compares a bound like '2024-1-7' AS A DATE (it keeps
    2024-01-05) — while a lexicographic prune would have dropped that
    partition ('2024-0...' < '2024-1' as strings). Verified live against
    Spark: such bounds must force the no-prune path; canonical bounds may
    prune (lexicographic == date order on canonical spellings)."""
    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("dates", partition_by=("k",))
    df = spark.createDataFrame(
        [(0, "2024-01-05"), (1, "2024-01-10"), (2, "2024-02-01")],
        "rid int, k string",
    )
    df.write.partitionBy("k").parquet(spec.path)
    assert dict(spark.read.parquet(spec.path).dtypes)["k"] == "date"

    # non-canonical bound: no pruning, and the read agrees with Spark's
    # date-typed residual (keeps 2024-01-05)
    assert (
        cat._partition_admitted_files(spec, ("k", "2024-1-1", "2024-1-7"))
        is None
    )
    got = cat.read("dates", where=("k", "2024-1-1", "2024-1-7"))
    assert {r["rid"] for r in got.collect()} == {0}

    # canonical bounds prune and still agree
    adm = cat._partition_admitted_files(
        spec, ("k", "2024-01-01", "2024-01-07")
    )
    assert adm is not None and any("2024-01-05" in f for f in adm)
    got2 = cat.read("dates", where=("k", "2024-01-01", "2024-01-07"))
    assert {r["rid"] for r in got2.collect()} == {0}


def test_bloom_probe_type_mismatch_degrades_to_full_scan(spark, tmp_path):
    """Round 10: bloom probes hash Python-side, so a probe value whose
    canonical form differs from the stored cells' (string '5' vs int
    column) is a silent false negative — reproduced before the fix: the
    read returned 0 of 10 matching rows. A representation mismatch must
    degrade to no-prune; matched representations must still prune."""
    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    cat.define("bt", bloom_cols=("u",))
    df = spark.range(100).selectExpr("id as rid", "cast(id % 10 as int) as u")
    cat.write(df, "bt")

    # string probe on an int column: residual casts and matches — the
    # read must return those rows, not silently drop them
    got = {r["rid"] for r in cat.read("bt", where=("u", "5", "5")).collect()}
    want = {r["rid"] for r in cat.read("bt").filter("u = '5'").collect()}
    assert got == want and len(got) == 10

    # the mismatch path is no-prune, visibly
    assert cat._admitted_files("bt", cat.table_spec("bt"), ("u", "5", "5")) is None
    assert cat._admitted_files("bt", cat.table_spec("bt"), ("u", ["5", 7])) is None
    # bool is int's subclass but hashes differently: also no-prune
    assert cat._admitted_files("bt", cat.table_spec("bt"), ("u", True, True)) is None

    # matched representations still route through the bloom (a set, and
    # int/float fold to the same canonical form)
    assert cat._admitted_files("bt", cat.table_spec("bt"), ("u", 5, 5)) is not None
    assert cat._admitted_files("bt", cat.table_spec("bt"), ("u", [5.0, 7])) is not None
    got2 = {r["rid"] for r in cat.read("bt", where=("u", [5.0, 7])).collect()}
    assert got2 == {r["rid"] for r in df.filter("u in (5, 7)").collect()}

    # string bloom column: string probes prune, numeric probes degrade
    cat.define("bs", bloom_cols=("s",))
    dfs = spark.range(60).selectExpr("id as rid", "cast(id % 6 as string) as s")
    cat.write(dfs, "bs")
    assert cat._admitted_files("bs", cat.table_spec("bs"), ("s", ["3"])) is not None
    assert cat._admitted_files("bs", cat.table_spec("bs"), ("s", [3])) is None
    got3 = {r["rid"] for r in cat.read("bs", where=("s", 3, 3)).collect()}
    assert got3 == {r["rid"] for r in dfs.filter("s = 3").collect()}


def test_stats_pruning_negzero_parity_with_pushdown(spark, tmp_path):
    """Round 11 adjudication (same family as the NaN one below): Spark's
    in-memory compare treats -0.0 == 0.0, but its OWN parquet pushdown
    compares row-group stats in total order (-0.0 < 0.0) and skips the
    0.0 row groups for an ``= -0.0`` / ``<= -0.0`` predicate — on FULL
    scans and pruned reads alike. The engine contract is parity with
    Spark-over-parquet, not with IEEE: the pruned read must return
    exactly what the plain scan + identical residual returns, and the
    stats manifest itself must not be the thing dropping files."""
    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    cat.define("nz", stats_cols=("v",))
    df = spark.range(20).select(
        F.col("id").alias("rid"), (F.col("id") % 4).cast("double").alias("v")
    )
    cat.write(df, "nz")
    spec = cat.table_spec("nz")

    for where in [("v", -0.0, -0.0), ("v", None, -0.0), ("v", -0.0, None)]:
        # manifest admission is a superset (the boxes compare IN Spark,
        # where -0.0 == 0.0 — it admits the 0.0 files)
        adm = cat._admitted_files("nz", spec, where)
        assert adm is not None and len(adm) > 0
        got = {r["rid"] for r in cat.read("nz", where=where).collect()}
        want = {
            r["rid"]
            for r in Catalog._apply_residual(
                spark.read.parquet(spec.path), [where]
            ).collect()
        }
        assert got == want, (where, sorted(got)[:5], sorted(want)[:5])

    # documents the Spark behavior this parity is pinned against: the
    # IN-MEMORY compare always keeps the 0.0 rows for = -0.0, while the
    # parquet scan may keep OR drop them depending on the file layout
    # (row-group min/max skipping uses total order where -0.0 < +0.0;
    # dictionary-page filtering compares primitively — measured: the same
    # 20 rows return 0 matches written as 4 files and 5 matches written
    # as 8). The engine never has to resolve that: pruned and full scans
    # read the same parquet through the same reader, so the loop above is
    # the whole contract.
    plain = spark.read.parquet(spec.path).filter(F.col("v") == F.lit(-0.0))
    in_mem = df.filter(F.col("v") == F.lit(-0.0))
    assert in_mem.count() == 5 and plain.count() in (0, 5)


def test_stats_pruning_nan_parity_with_spark_pushdown(spark, tmp_path):
    """Adjudication (round 10): parquet stats EXCLUDE NaN (pyarrow writes
    min=1/max=2 for [1.0, NaN, 2.0]), and Spark's in-memory comparison
    treats NaN as LARGEST (NaN >= 10 is true) — so one might expect an
    open-top range pruned by max_v to lose NaN rows. Measured: Spark's
    OWN parquet pushdown drops the same row group on the identical full
    scan (v >= 10 over that file returns [] both ways), so the manifest
    prune exactly matches what Spark-over-parquet does with or without
    the manifest. The invariant the engine owns — pruned read ==
    full scan + residual ON THE SAME FILES — holds; pinned here so a
    future Spark change in NaN pushdown surfaces as a test diff."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("nt", stats_cols=("v",))
    os.makedirs(spec.path)
    pq.write_table(
        pa.table(
            {
                "rid": pa.array([1, 2, 3]),
                "v": pa.array([1.0, float("nan"), 2.0], type=pa.float64()),
            }
        ),
        os.path.join(spec.path, "a.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "rid": pa.array([4, 5]),
                "v": pa.array([50.0, 60.0], type=pa.float64()),
            }
        ),
        os.path.join(spec.path, "b.parquet"),
    )
    pruned = sorted(
        r["rid"] for r in cat.read("nt", where=("v", 10.0, None)).collect()
    )
    full = sorted(
        r["rid"] for r in cat.read("nt").filter("v >= 10.0").collect()
    )
    assert pruned == full == [4, 5]
    # both-bounded ranges are NaN-safe by construction (NaN fails <= hi)
    pruned2 = sorted(
        r["rid"] for r in cat.read("nt", where=("v", 0.0, 5.0)).collect()
    )
    full2 = sorted(
        r["rid"]
        for r in cat.read("nt").filter("v >= 0.0 and v <= 5.0").collect()
    )
    assert pruned2 == full2


def test_partition_prune_with_python_date_bounds(spark, tmp_path):
    """Round 10: datetime.date bounds on an all-pure-date partition
    layout prune (ISO strings order like dates); datetime bounds keep
    degrading to no-prune (midnight renders after the bare date string
    but Spark compares it equal)."""
    import datetime
    import os

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("dp", partition_by=("d",))
    df = spark.createDataFrame(
        [(0, "2024-01-05"), (1, "2024-01-10"), (2, "2024-02-01")],
        "rid int, d string",
    )
    df.write.partitionBy("d").parquet(spec.path)
    n_total = sum(
        1
        for _r, _d, fs in os.walk(spec.path)
        for f in fs
        if f.endswith(".parquet")
    )

    lo, hi = datetime.date(2024, 1, 1), datetime.date(2024, 1, 7)
    adm = cat._partition_admitted_files(spec, ("d", lo, hi))
    assert adm is not None and any("2024-01-05" in f for f in adm)
    got = cat.read("dp", where=("d", lo, hi))
    assert {r["rid"] for r in got.collect()} == {0}
    assert got.select(F.input_file_name()).distinct().count() < n_total

    # IN-list of dates
    inl = cat.read("dp", where=("d", [datetime.date(2024, 1, 10)]))
    assert {r["rid"] for r in inl.collect()} == {1}

    # datetime bounds prune too (round 11): the DATE column casts UP to a
    # midnight timestamp, so a midnight lo admits its own day while a lo
    # with any time-of-day excludes it — both verified against the live
    # residual below
    dt_lo = datetime.datetime(2024, 1, 1, 0, 0, 0)
    adm2 = cat._partition_admitted_files(spec, ("d", dt_lo, None))
    assert adm2 is not None and len(adm2) == n_total
    dt_mid = datetime.datetime(2024, 1, 5, 10, 0, 0)
    adm3 = cat._partition_admitted_files(spec, ("d", dt_mid, None))
    assert adm3 is not None and not any("2024-01-05" in f for f in adm3)
    for b in (dt_lo, dt_mid):
        got_b = {r["rid"] for r in cat.read("dp", where=("d", b, None)).collect()}
        want_b = {
            r["rid"]
            for r in spark.read.parquet(spec.path)
            .filter(F.col("d") >= F.lit(b))
            .collect()
        }
        assert got_b == want_b, (b, got_b, want_b)


def _pruned_read_matches_residual(spark, cat, name, where):
    """The engine's pruned read must return exactly what the engine's own
    residual keeps on a FULL scan — the conservative-superset contract,
    checked against live Spark's partition typing + coercion."""
    from lakehouse_architecture_spark.catalog import Catalog

    spec = cat.table_spec(name)
    got = {r["rid"] for r in cat.read(name, where=where).collect()}
    full = spark.read.parquet(spec.path)
    want = {
        r["rid"]
        for r in Catalog._apply_residual(full, [where]).collect()
    }
    assert got == want, (name, where, sorted(got), sorted(want))
    return got


def test_partition_cross_form_bounds_match_spark(spark, tmp_path):
    """Round 11 (ADVICE r10 high): a bound spelled in the OTHER temporal
    form must not prune lexicographically. Verified live:

    * DATE layout — string bounds cast DOWN to date (time part truncated:
      ``>= '2024-01-05 10:00:00'`` keeps 2024-01-05), but IN-lists widen
      to STRING (a timestamp-spelled IN value matches nothing);
    * TIMESTAMP layout — a bare-date bound casts to midnight
      (``<= '2024-01-05'`` keeps the midnight partition), T-separated and
      fractional spellings cast like spaces/instants, IN widens to string;
    * a MIXED date+timestamp layout widens to timestamp and re-renders
      the bare dates → pruning must refuse.
    """
    import datetime

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    dspec = cat.define("xd", partition_by=("d",))
    spark.createDataFrame(
        [(0, "2024-01-05"), (1, "2024-01-10"), (2, "2024-02-01")],
        "rid int, d string",
    ).write.partitionBy("d").parquet(dspec.path)
    assert dict(spark.read.parquet(dspec.path).dtypes)["d"] == "date"

    # the advisor's exact repro: timestamp-spelled lo on a date layout
    # must keep 2024-01-05 (string casts down to the date)
    got = _pruned_read_matches_residual(
        spark, cat, "xd", ("d", "2024-01-05 00:00:00", None)
    )
    assert got == {0, 1, 2}
    got = _pruned_read_matches_residual(
        spark, cat, "xd", ("d", "2024-01-05 10:00:00", "2024-01-05 10:00:00")
    )
    assert got == {0}  # truncation keeps the day for BOTH bounds
    _pruned_read_matches_residual(
        spark, cat, "xd", ("d", "2024-01-04T23:59:59", "2024-01-31T00:00:00")
    )
    _pruned_read_matches_residual(
        spark, cat, "xd", ("d", None, "2024-01-05 00:00:00.000")
    )
    # IN widens to string: the timestamp spelling matches nothing, and the
    # pruner agrees without over-admitting
    assert (
        _pruned_read_matches_residual(
            spark, cat, "xd", ("d", ["2024-01-05 00:00:00"])
        )
        == set()
    )
    assert _pruned_read_matches_residual(
        spark, cat, "xd", ("d", ["2024-01-05", "2024-02-01"])
    ) == {0, 2}
    # and the range cases above really did prune (not the None fallback)
    adm = cat._partition_admitted_files(
        dspec, ("d", "2024-01-05 00:00:00", "2024-01-10 00:00:00")
    )
    assert adm is not None and not any("2024-02-01" in f for f in adm)

    # --- timestamp layout ---
    tspec = cat.define("xt", partition_by=("t",))
    spark.createDataFrame(
        [
            (0, "2024-01-05 00:00:00"),
            (1, "2024-01-05 10:30:00"),
            (2, "2024-02-01 23:59:59"),
        ],
        "rid int, t string",
    ).write.partitionBy("t").parquet(tspec.path)
    assert dict(spark.read.parquet(tspec.path).dtypes)["t"] == "timestamp"

    # the advisor's second repro: bare-date hi keeps the midnight partition
    got = _pruned_read_matches_residual(spark, cat, "xt", ("t", None, "2024-01-05"))
    assert got == {0}
    _pruned_read_matches_residual(spark, cat, "xt", ("t", "2024-01-05", None))
    _pruned_read_matches_residual(
        spark, cat, "xt", ("t", None, "2024-01-05T10:30:00")
    )
    _pruned_read_matches_residual(
        spark, cat, "xt", ("t", None, "2024-01-05 10:30:00.5")
    )
    _pruned_read_matches_residual(
        spark, cat, "xt", ("t", None, "2024-01-05 10:30:00.000")
    )
    _pruned_read_matches_residual(
        spark, cat, "xt", ("t", datetime.date(2024, 1, 5), None)
    )
    _pruned_read_matches_residual(
        spark,
        cat,
        "xt",
        ("t", None, datetime.datetime(2024, 1, 5, 10, 30, 0, 500000)),
    )
    # IN widens to string on the timestamp side too
    assert _pruned_read_matches_residual(spark, cat, "xt", ("t", ["2024-01-05"])) == set()
    assert _pruned_read_matches_residual(
        spark, cat, "xt", ("t", ["2024-01-05 00:00:00"])
    ) == {0}
    adm = cat._partition_admitted_files(tspec, ("t", None, "2024-01-05"))
    assert adm is not None and not any("2024-02-01" in f for f in adm)

    # --- mixed bare-date + timestamp layout: typed timestamp, bare dates
    # re-render with a midnight suffix → pruning must refuse ---
    mspec = cat.define("xm", partition_by=("m",))
    spark.createDataFrame(
        [(0, "2024-01-05"), (1, "2024-01-06 10:00:00")],
        "rid int, m string",
    ).write.partitionBy("m").parquet(mspec.path)
    assert dict(spark.read.parquet(mspec.path).dtypes)["m"] == "timestamp"
    assert (
        cat._partition_admitted_files(mspec, ("m", "2024-01-05", None)) is None
    )
    _pruned_read_matches_residual(spark, cat, "xm", ("m", "2024-01-05", None))


def test_partition_ancient_year_datetime_bounds(spark, tmp_path):
    """Round 11: datetime bounds with years < 1000 must render
    zero-padded ('0999-…') — glibc strftime('%Y') does not pad, and an
    unpadded '999-01-01 …' lo sorts lexicographically ABOVE every modern
    date, silently dropping satisfying partitions. Pinned against the
    live residual on date and timestamp layouts."""
    import datetime

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    dspec = cat.define("yd", partition_by=("d",))
    spark.createDataFrame(
        [(0, "2024-01-05"), (1, "2024-01-10")], "rid int, d string"
    ).write.partitionBy("d").parquet(dspec.path)
    tspec = cat.define("yt", partition_by=("t",))
    spark.createDataFrame(
        [(0, "2024-01-05 00:00:00"), (1, "2024-01-05 10:30:00")],
        "rid int, t string",
    ).write.partitionBy("t").parquet(tspec.path)

    ancient = [
        datetime.datetime(999, 1, 1, 0, 0, 0),
        datetime.datetime(999, 6, 15, 10, 0, 0),
        datetime.datetime(99, 12, 31, 23, 59, 59),
    ]
    for b in ancient:
        got = _pruned_read_matches_residual(spark, cat, "yd", ("d", b, None))
        assert got == {0, 1}, (b, got)  # every modern partition satisfies
        got = _pruned_read_matches_residual(spark, cat, "yt", ("t", b, None))
        assert got == {0, 1}, (b, got)
        # and as a hi bound nothing satisfies
        assert (
            _pruned_read_matches_residual(spark, cat, "yt", ("t", None, b))
            == set()
        )

    # timezone-AWARE datetimes are instants rendered in the session TZ —
    # no provable wall-clock compare, so pruning must refuse (and the read
    # still agrees with the residual)
    aware = datetime.datetime(
        2024, 1, 5, 10, 30, 0, tzinfo=datetime.timezone(datetime.timedelta(hours=7))
    )
    assert cat._partition_admitted_files(tspec, ("t", aware, None)) is None
    _pruned_read_matches_residual(spark, cat, "yt", ("t", aware, None))


def test_partition_in_list_cross_form_under_ansi(spark, tmp_path):
    """Round 11: ``In`` coercion is ANSI-dependent — ANSI casts string
    values to the column's type (a timestamp-spelled value MATCHES its
    date partition), non-ANSI widens everything to string (it matches
    nothing). The pruner admits the union of both semantics, so the read
    agrees with the residual under EITHER ambient conf; verified here by
    flipping the session conf live."""
    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    dspec = cat.define("ad", partition_by=("d",))
    spark.createDataFrame(
        [(0, "2024-01-05"), (1, "2024-01-10"), (2, "2024-02-01")],
        "rid int, d string",
    ).write.partitionBy("d").parquet(dspec.path)
    tspec = cat.define("at", partition_by=("t",))
    spark.createDataFrame(
        [(0, "2024-01-05 00:00:00"), (1, "2024-01-05 10:30:00")],
        "rid int, t string",
    ).write.partitionBy("t").parquet(tspec.path)

    cases = [
        ("ad", ("d", ["2024-01-05 00:00:00"])),
        ("ad", ("d", ["2024-01-05T00:00:00", "2024-02-01"])),
        ("at", ("t", ["2024-01-05"])),
        ("at", ("t", ["2024-01-05 10:30:00"])),
    ]
    prior = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            for name, where in cases:
                _pruned_read_matches_residual(spark, cat, name, where)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    # and under ANSI the cross-form value really does MATCH (the union
    # admitted its partition — raw-equality-only pruning would have
    # returned zero rows here, silently)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {
            r["rid"]
            for r in cat.read("ad", where=("d", ["2024-01-05 00:00:00"])).collect()
        }
        assert got == {0}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


def test_partition_invalid_date_layout_stays_superset(spark, tmp_path):
    """A canonical-LOOKING value Spark's cast rejects ('2024-02-30') makes
    the whole layout STRING-typed — the residual then compares raw
    strings, not dates. The driver can't cheaply detect calendar validity,
    so its date-form canonicalization must still admit a SUPERSET of what
    the string residual keeps (truncating a ts-spelled bound only widens
    the range on 10-char values). Pinned live, both forms."""
    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("xbad", partition_by=("d",))
    spark.createDataFrame(
        [(0, "2024-01-05"), (1, "2024-02-30"), (2, "2024-03-01")],
        "rid int, d string",
    ).write.partitionBy("d").parquet(spec.path)
    assert dict(spark.read.parquet(spec.path).dtypes)["d"] == "string"

    for where in [
        ("d", "2024-01-05 10:00:00", None),
        ("d", None, "2024-02-30 00:00:00"),
        ("d", "2024-01-05", "2024-02-30"),
        ("d", ["2024-02-30", "2024-01-05 00:00:00"]),
    ]:
        _pruned_read_matches_residual(spark, cat, "xbad", where)


def test_partition_padded_date_value_no_prune(spark, tmp_path):
    """A whitespace-padded partition value (' 2024-01-05') is still
    date-typed by Spark (the cast TRIMS before parsing) and re-renders
    unpadded — the raw path value never equals the residual's literal, so
    pruning must refuse rather than compare the padded string."""
    import os

    from lakehouse_architecture_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("xpad", partition_by=("d",))
    os.makedirs(spec.path, exist_ok=True)
    for j, v in enumerate([" 2024-01-05", "2024-01-10"]):
        spark.createDataFrame([(j,)], "rid int").write.parquet(
            os.path.join(spec.path, f"d={v}")
        )
    dtype = dict(spark.read.parquet(spec.path).dtypes)["d"]
    if dtype.startswith("date"):
        assert (
            cat._partition_admitted_files(spec, ("d", "2024-01-01", None))
            is None
        )
    _pruned_read_matches_residual(spark, cat, "xpad", ("d", "2024-01-01", None))


def test_pruned_read_skips_spark_hidden_files(spark, tmp_path):
    """A leftover ``_temporary/`` file (an in-flight or crashed Spark
    write) is invisible to the plain read; the stats and bloom manifests
    must not admit it either, or a pruned read returns its rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("hid", stats_cols=("v",), bloom_cols=("id",))
    spark.range(40).select(
        "id", (F.col("id") % 4).cast("double").alias("v")
    ).repartitionByRange(4, "id").write.parquet(spec.path)
    leftover = os.path.join(spec.path, "_temporary", "0")
    os.makedirs(leftover)
    pq.write_table(
        pa.table({"id": [99], "v": [2.0]}),
        os.path.join(leftover, "part-9.parquet"),
    )
    plain = spark.read.parquet(spec.path)
    for where in (("v", 1.5, 2.5), ("id", 99, 99)):
        got = sorted(r["id"] for r in cat.read("hid", where=where).collect())
        want = sorted(
            r["id"] for r in Catalog._apply_residual(plain, [where]).collect()
        )
        assert got == want, (where, got, want)


def test_partition_pruned_read_skips_spark_hidden_dirs(spark, tmp_path):
    """A partition directory under a leftover ``_temporary/`` tree is not
    a partition of the table: the partition index must skip it instead of
    handing Spark a file list with two directory structures."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    cat = Catalog(spark, str(tmp_path))
    spec = cat.define("hidp", partition_by=("k",))
    spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(20)], "rid int, k string"
    ).write.partitionBy("k").parquet(spec.path)
    leftover = os.path.join(
        spec.path, "_temporary", "0", "_temporary", "attempt_0", "k=a"
    )
    os.makedirs(leftover)
    pq.write_table(
        pa.table({"rid": pa.array([99], pa.int32())}),
        os.path.join(leftover, "part-9.parquet"),
    )
    got = _pruned_read_matches_residual(spark, cat, "hidp", ("k", ["a"]))
    assert got == set(range(0, 20, 2))
