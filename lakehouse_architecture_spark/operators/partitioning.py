"""Parallelism-restoring repartition helpers for explode/compute-heavy ops.

A compact input — one small parquet file, a heavily filtered scan, or a
coalesced upstream stage — arrives in few partitions. Narrow follow-up
stages inherit that layout, so an operator whose cost is dominated by
per-row fan-out (shingle explode, per-row vector math, a cross join against
a broadcast side) runs near-serially no matter how many cores exist.

Repartitioning first costs one pass over the input but (a) restores full
parallelism for the expensive stage, (b) balances per-row work skew
(document length, vector count), and — for :func:`spread_by_id` — (c)
satisfies a downstream ``groupBy(id)`` distribution, so the per-id
aggregate that usually follows needs no second shuffle.

At 100 TB the input is already thousands of partitions and the helper's
shuffle is the no-op case in spirit; it matters exactly when the planner's
partition count collapses below the cluster's parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _target_partitions(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))


def spread_by_id(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-partition on ``id_col`` ahead of an explode-heavy stage whose
    result is re-aggregated per id (shingling, tokenization)."""
    return df.repartition(_target_partitions(df), F.col(id_col))


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ahead of a compute-heavy narrow stage with no
    downstream grouping to co-locate for (vector scoring, broadcast cross
    joins)."""
    return df.repartition(_target_partitions(df))


def zorder_value(cols: list, bits: int = 16):
    """Morton/Z-order interleave of 2+ non-negative integer columns into one
    bigint sort key. Bit j of column i lands at result bit ``j*len(cols)+i``,
    so sorting by the result clusters rows that are close in EVERY key —
    parquet row-group min/max stats become selective for predicates on ANY
    of the keys, where a lexicographic sort helps only the leading one.
    This is Delta/Iceberg ``OPTIMIZE ZORDER BY`` re-expressed as a plain
    Catalyst expression (shift/and/or — whole-stage codegen, no UDF).

    Callers scale values into [0, 2**bits) first (e.g. rank or min-max
    scale); values outside the range are masked, not errors.
    ``len(cols) * bits`` must stay <= 62 to fit the bigint.
    """
    if len(cols) * bits > 62:
        raise ValueError(f"{len(cols)} cols x {bits} bits overflows a bigint")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    out = F.lit(0).cast("bigint")
    for j in range(bits):
        for i, c in enumerate(cs):
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c.cast("bigint"), j).bitwiseAND(F.lit(1)),
                    j * len(cs) + i,
                )
            )
    return out


def zorder_value_sql(exprs: list[str], bits: int = 16) -> str:
    """DuckDB text equivalent of :func:`zorder_value` (oracle mirror)."""
    terms = [
        f"(((CAST({e} AS BIGINT) >> {j}) & 1) << {j * len(exprs) + i})"
        for j in range(bits)
        for i, e in enumerate(exprs)
    ]
    return "(" + " | ".join(terms) + ")"


def zorder_cluster(
    df: DataFrame, zorder_cols: list[str], n_files: int, bits: int = 16
) -> DataFrame:
    """Cluster ``df`` by the Z-order of ``zorder_cols``: range-partition +
    sort on the interleaved key, so a subsequent write's row-group stats
    are tight on every clustered column at once. The z column itself is
    dropped (it is derivable). Shared by :func:`zordered_write` and
    ``VersionedTable.compact(zorder_by=...)`` (which
    ``VersionedTable.optimize(zorder_by=...)`` calls) so the clustering
    recipe cannot drift between the two.

    Each dimension is MIN-MAX SCALED into the ``[0, 2**bits)`` Morton
    grid first (one stats aggregate over the input): ``zorder_value``
    bit-masks raw values, so feeding it an unscaled column whose range
    exceeds the grid silently scrambles the interleave and loosens every
    file's min/max box — the failure measured in ``tools/prune_probe.py``
    before this scaling was added. NULLs land in cell 0 (they cluster
    together at the low end). Scaling changes only the LAYOUT, never row
    values; constant columns scale to 0."""
    z = scaled_zorder_expr(df, zorder_cols, bits)
    return (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def scaled_zorder_expr(df: DataFrame, zorder_cols: list[str], bits: int = 16):
    """Min-max-scaled Morton (Z-order) key expression over ``zorder_cols``
    — the scaling half of :func:`zorder_cluster`, its one caller, so
    every Z-order layout (``zordered_write``, ``VersionedTable.compact``
    and ``optimize``) scales the same way. One driver-side 1-row stats
    fetch (the grid bounds must be plan constants)."""
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in zorder_cols],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in zorder_cols],
    ).first()
    top = float(2**bits - 1)
    scaled = []
    for c in zorder_cols:
        lo = stats[f"__lo_{c}"]
        hi = stats[f"__hi_{c}"]
        if lo is None or hi is None or hi == lo:
            scaled.append(F.lit(0).cast("bigint"))
            continue
        scaled.append(
            F.coalesce(
                F.floor(
                    (F.col(c).cast("double") - F.lit(lo))
                    / F.lit(hi - lo)
                    * F.lit(top)
                ),
                F.lit(0),
            ).cast("bigint")
        )
    return zorder_value(scaled, bits)


def zordered_write(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered via :func:`zorder_cluster`."""
    zorder_cluster(df, zorder_cols, n_files, bits).write.mode(mode).parquet(path)


def rendezvous_assign(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    out_col: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight, Thaler & Ravishankar 1996) shard
    assignment: each row goes to argmax over shards of
    md5(id ‖ '_' ‖ shard). The consistent-hashing guarantee follows from
    the construction: growing to n+1 shards only moves the rows whose new
    shard's hash beats all previous ones — an expected 1/(n+1) of rows —
    where a mod-n assignment reshuffles (n−1)/n of everything.

    Pure narrow map: the per-row argmax is an ``array_max`` over n_shards
    in-row hash evaluations — no explode, no shuffle, no state. Stateless
    and engine-portable (the SQL oracle computes the identical argmax),
    so shard routing can be re-derived anywhere, any time.
    """
    from lakehouse_architecture_spark.functions.hashing import md5_hash64

    pairs = F.array(
        *[
            F.struct(
                md5_hash64(
                    F.concat_ws("_", F.col(id_col).cast("string"), F.lit(str(s)))
                ).alias("h"),
                F.lit(s).alias("s"),
            )
            for s in range(n_shards)
        ]
    )
    # struct max orders by (h, s): the hash decides, s breaks the
    # astronomically-unlikely tie deterministically
    return df.withColumn(out_col, F.array_max(pairs)["s"])


def compaction_assignments(
    files: DataFrame,
    size_col: str,
    order_col: str,
    target_bytes: int,
) -> DataFrame:
    """Per-file bin assignment underlying :func:`compaction_plan` — the
    executable form (round 13: VersionedTable.optimize consumes it to
    drive the actual rewrite). Returns the input rows plus a ``bin``
    column: bin = (cumulative size − own size) div target, in
    ``order_col`` order. Integer ``div``, never a double divide —
    lakehouse byte cumsums exceed 2^53.

    ROWS frame, not the default RANGE (round 14): with TIED order keys —
    routine when the key is a per-file MIN of a clustered column — the
    RANGE frame's cumulative sum includes every peer, so all tied files
    computed the same (total-of-ties) prior and collapsed into ONE bin
    regardless of target size. Ties order arbitrarily within a run
    (callers wanting reproducible layouts compose a unique tiebreak into
    ``order_col``, as table_format.plan_tagged_bins does with the file
    name); unique keys are unaffected (ROWS == RANGE)."""
    w = Window.orderBy(F.col(order_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum(F.col(size_col)).over(w)
    return files.withColumn("__prior", cum - F.col(size_col)).withColumn(
        "bin", F.expr(f"__prior div {int(target_bytes)}")
    ).drop("__prior")


def compaction_plan(
    files: DataFrame,
    size_col: str,
    order_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction plan: assign files (in ``order_col`` order —
    keep it the table's sort/partition key so compacted files stay
    range-clusterable) to output bins of ≈ ``target_bytes`` via
    running-sum bucketing: bin = (cumulative size − own size) div target.

    This is deliberately NOT first-fit-decreasing: FFD is inherently
    sequential (every placement depends on all previous bins), while the
    running-sum plan is one window over the file manifest — a
    metadata-cardinality table, so even a million-file lakehouse plans in
    one tiny stage — and preserves key order, which FFD destroys. A bin
    exceeds target only when a single file already does (unsplittable
    here, as in every real compactor). Output: one row per bin —
    (bin, n_files, total_bytes, first/last ``order_col``) — the work list
    a rewrite job executes: :meth:`pipeline.table_format.VersionedTable.
    optimize` runs :func:`compaction_assignments` (this plan's per-file
    form) and rewrites each bin into exactly one output file.
    """
    binned = compaction_assignments(files, size_col, order_col, target_bytes)
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(size_col).alias("total_bytes"),
            F.min(order_col).alias("first_key"),
            F.max(order_col).alias("last_key"),
        )
        .orderBy("bin")
    )
