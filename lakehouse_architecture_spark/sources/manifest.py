"""File-statistics and bloom manifests over plain parquet — Iceberg's
manifest idea as a library.

A 100 TB table is tens of thousands of files; the fastest scan is the one
that never opens most of them. Transactional formats keep per-file column
min/max in their metadata layer and prune before planning; plain parquet
has the same stats in every footer but Spark only consults them row-group
by row-group AFTER listing+scheduling every file. This module lists a
table's data files once (:func:`data_files`, the same files
``spark.read.parquet(path)`` reads), materializes per-file stats or blooms
into a manifest table, and turns predicates into a file list.
:meth:`...catalog.Catalog.read` is the one reader that opens such a list —
pruning at plan time, not task time.

Scale design: footer reads are distributed (``mapInPandas`` over the file
list — each task opens only footers, never data pages; ~KB per file), the
manifest itself is tiny (one row per file) and is usually cached or
written next to the table; after appends it refreshes incrementally
(:func:`refresh_manifest` — O(new files), never O(table)). Combined with
:func:`...partitioning.zordered_write`, min/max boxes are tight on every
clustered column, so a point/range predicate typically keeps O(1) files.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_architecture_spark.materialize import truncate_lineage


def _stats_schema(cols: list[str]) -> T.StructType:
    fields = [
        T.StructField("file", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("bytes", T.LongType()),
    ]
    for c in cols:
        fields.append(T.StructField(f"min_{c}", T.DoubleType()))
        fields.append(T.StructField(f"max_{c}", T.DoubleType()))
    return T.StructType(fields)


def data_files(path: str) -> list[str]:
    """The sorted ``.parquet`` files under ``path`` that
    ``spark.read.parquet(path)`` reads. Below the root, Spark's listing
    (``HadoopFSUtils.shouldFilterOutPathName``) skips every directory or
    file whose name starts with ``.``, or starts with ``_`` and holds no
    ``=`` — the ``_temporary/`` of an in-flight or crashed write, the
    ``.``-parked copy of a swap. Every manifest and partition index is
    built from this listing, so a pruned read admits only files the plain
    read also sees."""

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden(d)]
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not hidden(f)
        )
    return sorted(out)


def _per_file(
    spark: SparkSession, files: list[str], schema: T.StructType, row_of
) -> DataFrame:
    """One ``schema`` row per file, ``row_of(file)`` run on executors over
    the distributed file list. A file that vanished between listing and
    read (compaction/vacuum race) is skipped, not failed — the next
    refresh's semi-join would drop its row anyway."""
    names = [f.name for f in schema.fields]

    def rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for f in batch["file"]:
                try:
                    out.append(row_of(f))
                except FileNotFoundError:
                    continue
            yield pd.DataFrame(out, columns=names)

    flist = spark.createDataFrame([(f,) for f in files], ["file"])
    return flist.mapInPandas(rows, schema=schema)


def _manifest_for_files(
    spark: SparkSession, files: list[str], cols: list[str]
) -> DataFrame:
    """Distributed footer stats for an explicit file list. Each executor
    task opens only footers, never data pages."""

    def stats_row(f: str) -> dict:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(len(md.schema))]
        row: dict = {"file": f, "n_rows": md.num_rows, "bytes": os.path.getsize(f)}
        for c in cols:
            i = names.index(c)
            lo = hi = None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(i).statistics
                if st is None or not st.has_min_max:
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            row[f"min_{c}"] = None if lo is None else float(lo)
            row[f"max_{c}"] = None if hi is None else float(hi)
        return row

    return _per_file(spark, files, _stats_schema(cols), stats_row)


def file_manifest(spark: SparkSession, path: str, cols: list[str]) -> DataFrame:
    """One row per parquet file under ``path``: (file, n_rows, bytes,
    min_<c>, max_<c> for each stats column). Numeric columns only (min/max
    are coerced to double; strings would need collation-aware handling).

    The footer reads run on executors — the driver only lists the
    directory. Null-only columns yield NULL bounds (never prunable).
    """
    return _manifest_for_files(spark, data_files(path), cols)


def refresh_manifest(
    spark: SparkSession, manifest: DataFrame, path: str, cols: list[str]
) -> DataFrame:
    """Incrementally update a manifest after appends/compactions: footers
    are read ONLY for files not already covered; rows for vanished files
    are dropped — the Iceberg snapshot-append behavior. After a daily
    append this costs O(new files), never O(table).

    Membership checks are DataFrame joins against the current listing (no
    driver-side set, no ``isin`` in-list literal — at millions of files
    that literal would dominate the plan); only the NEW file names are
    collected, O(new files). The kept rows are eagerly materialized
    (materialize.truncate_lineage) before returning, so later evaluations of the
    result can never re-run the input manifest's footer reads — in
    particular they can never touch files compaction has since removed
    (the footer reader also skips vanished files defensively, so the one
    materializing pass is safe even on an uncached input manifest)."""
    listing = spark.createDataFrame([(f,) for f in data_files(path)], ["file"])
    kept = truncate_lineage(
        manifest.join(F.broadcast(listing), "file", "left_semi"), eager=True
    )
    # listing \ manifest == listing \ kept (files dropped by the semi-join
    # are not in the listing), so anti-join against the materialized kept
    # rows — the input manifest's lineage runs exactly once per refresh
    new = sorted(
        r.file
        for r in listing.join(
            kept.select("file"), "file", "left_anti"
        ).collect()
    )
    if not new:
        return kept
    return kept.unionByName(_manifest_for_files(spark, new, cols))


def pruned_files(
    manifest: DataFrame, col: str, lo: float | None = None, hi: float | None = None
) -> list[str]:
    """Files whose [min, max] box can intersect [lo, hi]. Files with NULL
    bounds are kept (no stats = cannot prune — never lose rows).

    NaN adjudication (round 10): parquet stats EXCLUDE NaN (pyarrow
    writes min=1/max=2 for [1, NaN, 2]) while Spark's in-memory compare
    orders NaN largest — but Spark's OWN parquet pushdown drops the same
    row groups on an identical full scan, so pruning here returns exactly
    what the unpruned scan + residual returns on the same files (pinned:
    tests/test_sources_catalog.py::
    test_stats_pruning_nan_parity_with_spark_pushdown)."""
    keep = manifest
    if lo is not None:
        keep = keep.filter(
            F.col(f"max_{col}").isNull() | (F.col(f"max_{col}") >= F.lit(lo))
        )
    if hi is not None:
        keep = keep.filter(
            F.col(f"min_{col}").isNull() | (F.col(f"min_{col}") <= F.lit(hi))
        )
    return [r.file for r in keep.select("file").collect()]


def pruned_files_any(
    manifest: DataFrame, col: str, values: list
) -> list[str]:
    """Files whose [min, max] box can contain ANY of ``values`` — the
    IN-list stats path. ONE manifest filter + collect (an OR of the
    per-value box predicates), not one Spark job per value; files with
    NULL bounds are kept (no stats = cannot prune — never lose rows).
    The OR chain grows with the list, so very large IN-lists belong on
    the bloom path (``bloom_admitted_files``), which is O(1) in plan
    size and probes executor-side."""
    cond = F.lit(False)
    for v in values:
        cond = cond | (
            (F.col(f"max_{col}").isNull() | (F.col(f"max_{col}") >= F.lit(v)))
            & (F.col(f"min_{col}").isNull() | (F.col(f"min_{col}") <= F.lit(v)))
        )
    return [r.file for r in manifest.filter(cond).select("file").collect()]


# --- bloom-filter file skipping (equality predicates) -----------------------
#
# Min/max boxes prune RANGE predicates; for a point lookup on a
# high-cardinality column (doc_id, user_id) the boxes are useless unless the
# table is sorted by that column. A tiny per-file bloom filter answers "can
# file F contain value v?" with no false negatives — the Parquet/Iceberg
# bloom idea, materialized into the same manifest layer so equality
# predicates also prune at plan time.

def _bloom_canon(value: object) -> str:
    """Canonical text form of a value for bloom hashing — the SAME for the
    stored cell (pyarrow ``to_pylist``: float/int/numpy scalar) and the
    query-side literal, so ``5`` and ``5.0`` (or ``np.int64(5)``) hash to
    the same positions. Without this, a type-representation mismatch
    silently yields false negatives, breaking the no-false-negative
    contract."""
    import decimal

    item = getattr(value, "item", None)
    if item is not None and type(value).__module__ == "numpy":
        value = item()
    if isinstance(value, bool):
        return f"b:{int(value)}"
    if isinstance(value, decimal.Decimal):
        # pyarrow to_pylist returns Decimal for parquet DECIMAL columns: an
        # integral 5.00 must hash like the query literal 5/5.0 ('i:5'), and
        # a fractional 5.50 like the float 5.5 ('f:5.5') — without this the
        # stored cell hashes as 's:5.00' and every point lookup on a
        # DECIMAL bloom column is a silent false negative
        if value == value.to_integral_value():
            return f"i:{int(value)}"
        return f"f:{float(value)!r}"
    if isinstance(value, float) and value.is_integer():
        return f"i:{int(value)}"
    if isinstance(value, int):
        return f"i:{value}"
    if isinstance(value, float):
        return f"f:{value!r}"
    return f"s:{value}"


def _bloom_positions(value: object, num_bits: int, num_hashes: int) -> list[int]:
    """Deterministic bit positions for ``value`` — identical on driver and
    executors (hashlib, not PYTHONHASHSEED-dependent hash())."""
    import hashlib

    canon = _bloom_canon(value)
    out = []
    for i in range(num_hashes):
        h = hashlib.md5(f"{i}:{canon}".encode()).digest()
        out.append(int.from_bytes(h[:8], "big") % num_bits)
    return out


_BLOOM_BITS_CAP = 1 << 30  # keeps num_bits in int32 and the builder's
# bytearray ≤128 MiB; ~107M keys/file still get the nominal ~1.2% FPR,
# beyond that FPR degrades gracefully (doc'd) instead of overflowing


def _auto_bloom_bits(n_keys: int) -> int:
    """~10 bits per stored key, rounded up to a power of two, floor 8192,
    capped at 2^30. 10 bits/key with 4 hashes gives FPR ≈
    (1-e^(-4/10))^4 ≈ 1.2%; a fixed 8192-bit filter saturates above
    ~1k keys/file and silently degrades the read path to a full scan +
    residual filter. Above ~107M non-null keys in a single file the cap
    binds and FPR rises smoothly (e.g. ~5% at 2× the cap's key budget) —
    never an int32 overflow of the manifest's ``num_bits`` column."""
    bits = 8192
    while bits < 10 * max(1, n_keys) and bits < _BLOOM_BITS_CAP:
        bits *= 2
    return bits


#: hash functions per bloom; stored in every manifest row next to the
#: file's own ``num_bits``, so the check side needs no sizing contract
_BLOOM_HASHES = 4

_BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("bloom", T.BinaryType()),
        T.StructField("num_bits", T.IntegerType()),
        T.StructField("num_hashes", T.IntegerType()),
    ]
)


def file_bloom_manifest(spark: SparkSession, path: str, col: str) -> DataFrame:
    """One row per parquet file: (file, bloom, num_bits, num_hashes) where
    ``bloom`` is a bit filter over the file's ``col`` values. Executors
    read ONLY that column (parquet column pruning via pyarrow), so cost is
    one column's pages per file, embarrassingly parallel over files.

    Each file's filter is sized from its OWN value count (~10 bits/key,
    power of two, floor 8192 — :func:`_auto_bloom_bits`) — a fixed size
    either saturates on big files (FPR → 1, pruning silently lost) or
    wastes bytes on small ones.
    """
    from lakehouse_architecture_spark.session import ensure_package_on_executors

    # the builder closure references module-level hash helpers, so workers
    # re-import this package — ship it for drivers launched off-repo
    ensure_package_on_executors(spark)

    def bloom_row(f: str) -> dict:
        import pyarrow.parquet as pq

        tbl = pq.ParquetFile(f).read(columns=[col])
        vals = [v for v in tbl.column(col).to_pylist() if v is not None]
        num_bits = _auto_bloom_bits(len(vals))
        bits = bytearray(num_bits // 8)
        for v in vals:
            for p in _bloom_positions(v, num_bits, _BLOOM_HASHES):
                bits[p // 8] |= 1 << (p % 8)
        return {
            "file": f,
            "bloom": bytes(bits),
            "num_bits": num_bits,
            "num_hashes": _BLOOM_HASHES,
        }

    return _per_file(spark, data_files(path), _BLOOM_SCHEMA, bloom_row)


def bloom_admitted_files(bloom_manifest: DataFrame, values: list) -> list[str]:
    """Files whose bloom admits ANY of ``values`` (possible members), as a
    sorted file list. The bit tests run EXECUTOR-side via ``mapInPandas``
    and only admitted file NAMES return to the driver — collecting the
    bloom bytes themselves does not scale (auto-sized blooms on a 60M-row
    table are ~0.5 MB/file; a 256-file manifest collected driver-side was
    measured 5x SLOWER than the full scan it was meant to beat). Sizing
    comes from each row's own (num_bits, num_hashes). An IN-list is one
    manifest pass no matter how many values."""
    from pyspark.sql import SparkSession

    from lakehouse_architecture_spark.session import ensure_package_on_executors

    spark = getattr(bloom_manifest, "sparkSession", None) or SparkSession.getActiveSession()
    if spark is not None:
        ensure_package_on_executors(spark)
    vals = list(values)

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos_cache: dict[tuple[object, int, int], list[int]] = {}
        for pdf in batches:
            keep = []
            for row in pdf.itertuples(index=False):
                nb, nh = int(row.num_bits), int(row.num_hashes)
                b = row.bloom
                for v in vals:
                    pos = pos_cache.get((v, nb, nh))
                    if pos is None:
                        pos = pos_cache[(v, nb, nh)] = _bloom_positions(v, nb, nh)
                    if all(b[p // 8] & (1 << (p % 8)) for p in pos):
                        keep.append(row.file)
                        break
            yield pd.DataFrame({"file": keep})

    out = bloom_manifest.select(
        "file", "bloom", "num_bits", "num_hashes"
    ).mapInPandas(check, "file string")
    return sorted(r["file"] for r in out.collect())
