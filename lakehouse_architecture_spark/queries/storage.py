"""Round-4 storage-layer queries: the catalog's manifest-pruned read path,
bloom-filter file skipping, and the distributed global rank — each declared
so the driver's oracle gate proves the pruned/two-phase plans return
exactly what a plain scan+filter (or a single global window) would.

Registered last (after the 50-slot window; queries/registry.py ordering
note). The pruning queries WRITE a clustered copy of `part` to a temp dir
first — that write is part of the operator under test (z-order layout +
manifest build), the returned rows are layout-independent.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_spark.queries.base import QuerySpec, tables


def _source_fingerprint(sf_dir: str, table: str) -> str:
    """Digest of a fixture table's file names, sizes, and mtimes: if the
    fixture is regenerated in place, the key changes and a fresh copy is
    written instead of silently reusing a stale layout."""
    import hashlib

    src = os.path.join(sf_dir, f"{table}.parquet")
    parts: list[str] = []
    if os.path.isdir(src):
        for root, _dirs, files in os.walk(src):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(src):
        st = os.stat(src)
        parts.append(f"{table}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5(";".join(parts).encode()).hexdigest()[:12]


def _clustered_copy(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Write `part` z-ordered by (p_size, p_retailprice) into 8 files under
    a per-(sf_dir contents) temp dir, once — reruns with the same fixture
    bytes reuse the layout (the rows are identical either way; only file
    boundaries matter)."""
    from lakehouse_architecture_spark.operators.partitioning import zordered_write
    from lakehouse_architecture_spark.pipeline.table_format import publish_once

    # stable digest, NOT hash(): the builtin is PYTHONHASHSEED-salted, so
    # every new process would write (and orphan) a fresh copy under /tmp.
    # The source fingerprint is part of the key, so an in-place fixture
    # regeneration invalidates the copy instead of silently reusing it
    # (orphans from old fixtures are bounded: one 8-file dir per fixture
    # generation, under the OS-cleaned temp root).
    import hashlib

    key = (
        f"lhas_{tag}_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}"
        f"_{_source_fingerprint(sf_dir, 'part')}"
    )
    path = os.path.join(tempfile.gettempdir(), key)
    # cross-process reuse needs a completeness marker: only trust a dir a
    # previous run finished (Spark writes _SUCCESS last). Writes go to a
    # per-pid staging dir + publish_once, so two concurrent first runs
    # can't interleave output into the shared path — the loser just
    # discards its copy and uses the winner's.
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        staging = f"{path}.tmp{os.getpid()}"
        t = tables(spark, sf_dir)
        # zorder_cluster min-max scales every dimension into the Morton
        # grid itself, so raw columns are safe here
        zordered_write(
            t["part"].select("p_partkey", "p_name", "p_size", "p_retailprice"),
            staging,
            ["p_size", "p_retailprice"],
            n_files=8,
            bits=8,
        )
        publish_once(staging, path)
    return path


def _q_catalog_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range read through Catalog.read(..., where=): the catalog's per-file
    min/max manifest (sources/manifest.py) turns `p_size BETWEEN 10 AND 15`
    into an explicit file list before Spark plans the scan — the default
    read path for range predicates on clustered tables. The result must be
    exactly the plain filter's rows (pruning is a superset + residual)."""
    from lakehouse_architecture_spark.catalog import Catalog

    path = _clustered_copy(spark, sf_dir, "zpart")
    cat = Catalog(spark)
    cat.define("zpart", relpath=path, stats_cols=("p_size", "p_retailprice"))
    return (
        cat.read("zpart", where=("p_size", 10.0, 15.0))
        .select("p_partkey", "p_size")
        .orderBy("p_partkey")
    )


_Q_CATALOG_PRUNED_SQL = """
SELECT p_partkey, p_size
FROM part
WHERE p_size BETWEEN 10 AND 15
ORDER BY p_partkey
"""


def _q_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality reads through the CATALOG's bloom-manifest path
    (Catalog.read with lo == hi on a bloom_cols column): point lookups on
    p_partkey (high-cardinality — min/max boxes on the z-order columns
    cannot help) scan only files whose bloom admits the key. Blooms have
    no false negatives, so result == plain `p_partkey IN (...)` filter."""
    from lakehouse_architecture_spark.catalog import Catalog

    path = _clustered_copy(spark, sf_dir, "zpart")
    cat = Catalog(spark)
    cat.define("zpart_bloom", relpath=path, bloom_cols=("p_partkey",))
    hits = [
        cat.read("zpart_bloom", where=("p_partkey", k, k))
        for k in (17, 42, 123)
    ]
    out = hits[0]
    for h in hits[1:]:
        out = out.unionByName(h)
    return out.select("p_partkey", "p_name", "p_size").orderBy("p_partkey")


_Q_BLOOM_SKIP_SQL = """
SELECT p_partkey, p_name, p_size
FROM part
WHERE p_partkey IN (17, 42, 123)
ORDER BY p_partkey
"""


def _q_catalog_pruned2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOUND pruned read (catalog.py Catalog.read with a predicate
    list): `p_size BETWEEN 10 AND 15 AND p_retailprice BETWEEN 900 AND
    950` intersects the two columns' admitted file lists before Spark
    plans the scan — compound pruning multiplies selectivities instead of
    taking the best single column (both columns are z-order dimensions,
    so each predicate alone admits ~a stripe of files; the intersection
    is their overlap). Result must equal the plain two-predicate filter."""
    from lakehouse_architecture_spark.catalog import Catalog

    path = _clustered_copy(spark, sf_dir, "zpart")
    cat = Catalog(spark)
    cat.define("zpart2", relpath=path, stats_cols=("p_size", "p_retailprice"))
    return (
        cat.read(
            "zpart2",
            where=[("p_size", 10.0, 15.0), ("p_retailprice", 900.0, 950.0)],
        )
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    )


_Q_CATALOG_PRUNED2_SQL = """
SELECT p_partkey, p_size, p_retailprice
FROM part
WHERE p_size BETWEEN 10 AND 15
  AND p_retailprice BETWEEN 900 AND 950
ORDER BY p_partkey
"""


def _q_bloom_inlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list read through the catalog's bloom manifest: one
    Catalog.read call with `p_partkey IN (17, 42, 123, 999)` unions the
    per-value bloom admissions into a single file list (a file is kept if
    it can hold ANY listed key) — one scan for the whole list, where the
    old point-lookup path needed one read per key unioned by the caller.
    Blooms have no false negatives, so result == the plain IN filter."""
    from lakehouse_architecture_spark.catalog import Catalog

    path = _clustered_copy(spark, sf_dir, "zpart")
    cat = Catalog(spark)
    cat.define("zpart_inlist", relpath=path, bloom_cols=("p_partkey",))
    return (
        cat.read("zpart_inlist", where=("p_partkey", [17, 42, 123, 999]))
        .select("p_partkey", "p_name", "p_size")
        .orderBy("p_partkey")
    )


_Q_BLOOM_INLIST_SQL = """
SELECT p_partkey, p_name, p_size
FROM part
WHERE p_partkey IN (17, 42, 123, 999)
ORDER BY p_partkey
"""


def _partitioned_events_copy(spark: SparkSession, sf_dir: str) -> str:
    """Write `events` hive-partitioned by date (30 partitions) with each
    partition range-split into files by `value`, once per fixture
    generation — the layout a production event table would have (time
    partitions + value-clustered files), so BOTH pruning axes have
    something to bite on. Same fingerprint/staging/publish_once protocol
    as :func:`_clustered_copy`."""
    import hashlib

    from lakehouse_architecture_spark.pipeline.table_format import publish_once

    key = (
        f"lhas_pevents_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}"
        f"_{_source_fingerprint(sf_dir, 'events')}"
    )
    path = os.path.join(tempfile.gettempdir(), key)
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        staging = f"{path}.tmp{os.getpid()}"
        t = tables(spark, sf_dir)
        (
            t["events"]
            .withColumn("date", F.to_date(F.col("ts").cast("timestamp")))
            # range-split by value so per-file min/max boxes are narrow
            # value stripes — the stats manifest then prunes within each
            # surviving date partition
            .repartitionByRange(4, "value")
            .write.mode("overwrite")
            .partitionBy("date")
            .parquet(staging)
        )
        publish_once(staging, path)
    return path


def _q_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOUND partition + manifest pruned read (round 7): one
    Catalog.read call with ``date BETWEEN 2024-01-05 AND 2024-01-12 AND
    value BETWEEN 100 AND 400`` — the date predicate prunes hive
    partition DIRECTORIES (no footer reads, driver sees names only), the
    value predicate prunes by per-file min/max manifest, and the two file
    sets intersect before Spark plans the scan. Result must equal the
    plain two-predicate filter (pruning is a superset + residual)."""
    from lakehouse_architecture_spark.catalog import Catalog

    path = _partitioned_events_copy(spark, sf_dir)
    cat = Catalog(spark)
    cat.define(
        "pevents",
        relpath=path,
        partition_by=("date",),
        stats_cols=("value",),
    )
    return (
        cat.read(
            "pevents",
            where=[
                ("date", "2024-01-05", "2024-01-12"),
                ("value", 100.0, 400.0),
            ],
        )
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value"), 4).alias("value"),
            F.date_format(F.col("date"), "yyyy-MM-dd").alias("date_s"),
        )
        .orderBy("event_id")
    )


_Q_PARTITION_PRUNED_SQL = """
SELECT event_id, user_id,
       ROUND(value, 4) AS value,
       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date_s
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-12'
  AND value BETWEEN 100 AND 400
ORDER BY event_id
"""


def _q_partition_pruned_xform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_partition_pruned read with CROSS-FORM temporal bounds (round
    11, ADVICE r10): the lo is a timestamp-SPELLED string — Spark casts it
    down to DATE, truncating the time part, so 2024-01-05 is kept despite
    the 10:00:00 — and the hi is a datetime OBJECT — the DATE column casts
    UP to a midnight timestamp, so 2024-01-12 is kept because midnight
    precedes 15:30. Both bounds canonicalize to the layout's form and
    still PRUNE partition directories (no degrade to a full scan); the
    value predicate intersects by min/max manifest as before. The oracle
    states the resolved date window directly."""
    import datetime

    from lakehouse_architecture_spark.catalog import Catalog

    path = _partitioned_events_copy(spark, sf_dir)
    cat = Catalog(spark)
    cat.define(
        "pevents_x",
        relpath=path,
        partition_by=("date",),
        stats_cols=("value",),
    )
    return (
        cat.read(
            "pevents_x",
            where=[
                (
                    "date",
                    "2024-01-05 10:00:00",
                    datetime.datetime(2024, 1, 12, 15, 30, 0),
                ),
                ("value", 100.0, 400.0),
            ],
        )
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value"), 4).alias("value"),
            F.date_format(F.col("date"), "yyyy-MM-dd").alias("date_s"),
        )
        .orderBy("event_id")
    )


_Q_PARTITION_PRUNED_XFORM_SQL = """
SELECT event_id, user_id,
       ROUND(value, 4) AS value,
       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date_s
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-12'
  AND value BETWEEN 100 AND 400
ORDER BY event_id
"""


def _q_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row_number over ALL lineitem rows ordered by
    (l_extendedprice, l_orderkey, l_linenumber) WITHOUT a single-partition
    global sort: two_phase_rank (operators/skew.py) with an empty group —
    bucket counts + prefix-sum offsets + intra-bucket windows, parallelism
    = number of price buckets. Returns the 100 cheapest items with their
    exact global rank."""
    from lakehouse_architecture_spark.operators.skew import two_phase_rank

    t = tables(spark, sf_dir)
    ranked = two_phase_rank(
        t["lineitem"].select("l_orderkey", "l_linenumber", "l_extendedprice"),
        [],
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        bucket_width=1000.0,
        rank_col="rn",
    )
    return (
        ranked.filter(F.col("rn") <= 100)
        .select(
            # operator emits bigint (exact past 2^31 rows); the 100-row
            # output narrows to int to match the declared oracle schema
            F.col("rn").cast("int").alias("rn"),
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
        )
        .orderBy("rn")
    )


_Q_GLOBAL_RANK_SQL = """
SELECT rn, l_orderkey, l_linenumber, l_extendedprice
FROM (
  SELECT CAST(ROW_NUMBER() OVER (
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
         ) AS INTEGER) AS rn,
         l_orderkey, l_linenumber, l_extendedprice
  FROM lineitem
)
WHERE rn <= 100
ORDER BY rn
"""


STORAGE_QUERIES = [
    QuerySpec(
        "q_catalog_pruned",
        "catalog manifest-pruned range read over a z-clustered table",
        _q_catalog_pruned,
        _Q_CATALOG_PRUNED_SQL,
    ),
    QuerySpec(
        "q_bloom_skip",
        "bloom-manifest file-skipping point lookups",
        _q_bloom_skip,
        _Q_BLOOM_SKIP_SQL,
    ),
    QuerySpec(
        "q_global_rank",
        "global row_number via two-phase bucketed rank (no global sort)",
        _q_global_rank,
        _Q_GLOBAL_RANK_SQL,
    ),
    # round-6 additions (catalog compound predicates — r4 directive #8)
    QuerySpec(
        "q_catalog_pruned2",
        "compound 2-column manifest-pruned read (file-list intersection)",
        _q_catalog_pruned2,
        _Q_CATALOG_PRUNED2_SQL,
    ),
    QuerySpec(
        "q_bloom_inlist",
        "IN-list bloom-pruned read (per-value admission union)",
        _q_bloom_inlist,
        _Q_BLOOM_INLIST_SQL,
    ),
    # round-7 addition (partition + manifest compound pruning — r6
    # directive #8)
    QuerySpec(
        "q_partition_pruned",
        "compound hive-partition + min/max-manifest pruned read",
        _q_partition_pruned,
        _Q_PARTITION_PRUNED_SQL,
    ),
    # round-11 addition (cross-form temporal bounds — ADVICE r10)
    QuerySpec(
        "q_partition_pruned_xform",
        "partition-pruned read with cross-form temporal bounds",
        _q_partition_pruned_xform,
        _Q_PARTITION_PRUNED_XFORM_SQL,
    ),
]
