"""Candidate pairs from a shared bucket key, and the hot-bucket guard.

Every pair generator in the dedup, similarity, graph and drift families
has the filter-then-verify shape: rows that share a bucket key (shingle
hash, LSH band, hyperplane signature, centroid cell, context, bin) are the
only candidates, and only candidates pay the exact check. The self-join
shuffles once on the key, so the candidate space is Σ b·(b−1)/2 over
buckets of b rows, never the full n².

That sum is also the one scale risk: a single hot bucket of 1M rows emits
5·10¹¹ pairs on its own. The guard drops buckets holding more than
``limit`` rows before the join — one cheap aggregate on the key, whose
result is small by construction and broadcasts back as an anti-join.
Pairs that shared only dropped buckets are lost, so callers document what
that does to their own output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_pairs(
    rows: DataFrame, key: str | list[str], id_col: str = "id"
) -> DataFrame:
    """Self-join ``rows`` on ``key``: each unordered pair appears once per
    key it shares, with the lower ``id_col`` on the ``a`` side. Every
    column stays reachable as ``a.<col>`` and ``b.<col>``."""
    return (
        rows.alias("a")
        .join(rows.alias("b"), key)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )


def hot_keys(rows: DataFrame, key: str | list[str], limit: int) -> DataFrame:
    """The ``key`` values carried by more than ``limit`` rows."""
    return (
        rows.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__rows"))
        .filter(F.col("__rows") > limit)
        .select(key)
    )


def drop_hot_keys(
    rows: DataFrame, key: str | list[str], limit: int | None
) -> DataFrame:
    """``rows`` without its hot keys; a no-op when ``limit`` is None."""
    if limit is None:
        return rows
    return rows.join(F.broadcast(hot_keys(rows, key, limit)), key, "left_anti")
