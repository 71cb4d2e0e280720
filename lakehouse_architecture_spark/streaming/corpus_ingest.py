"""Incremental near-dedup corpus ingest — the streaming form of the batch
curation pipeline (pipeline/corpus.py).

A pretraining corpus is not built in one shot; crawl batches arrive
continuously and each must be deduplicated against EVERYTHING ingested so
far without re-scanning the corpus. The standard design (used by every
large-scale dedup system) is a persistent *signature store*: per document,
``bands`` LSH band signatures (operators/dedup.band_signatures — a few
dozen bytes, no text). Per micro-batch:

1. batch docs -> band signatures (narrow + one signature shuffle)
2. drop docs sharing ANY (band, sig) bucket with the store — one semi-join
   against the store, which is orders of magnitude smaller than the corpus
   (bands rows per doc); the join key is the band signature, so it shuffles
   the BATCH, not the store or corpus
3. drop in-batch near-dups (same banding, self-join within the batch only)
4. append survivors to the corpus and their signatures to the store,
   each epoch into its own ``epoch=N`` subdirectory with overwrite — a
   replayed epoch rewrites the same directory, making the append
   idempotent and the pipeline exactly-once under the checkpoint.
   Replay safety requires reading the store through
   :func:`_store_before`: the replayed epoch must not see its own
   crashed partial write, or it deduplicates the batch against itself
   and overwrites the epoch empty

State never grows past O(docs x bands) signature rows and each batch's
cost is O(batch) — no re-scan, no unbounded driver state. At 100 TB the
store is a bucketed table on (band, sig) so step 2 is a co-located join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from lakehouse_architecture_spark.operators.dedup import band_signatures
from lakehouse_architecture_spark.streaming.sinks import start_micro_batches


def _near_dedup_batch(
    batch: DataFrame,
    store: DataFrame | None,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
) -> tuple[DataFrame, DataFrame]:
    """Returns (surviving docs, their band signatures)."""
    sigs = band_signatures(batch, id_col, text_col, num_perm, bands)
    if store is not None:
        dup_ids = (
            sigs.join(store.select("band", "sig"), ["band", "sig"], "left_semi")
            .select("id")
            .distinct()
        )
        batch = batch.join(
            dup_ids.withColumnRenamed("id", id_col), id_col, "left_anti"
        )
        sigs = sigs.join(dup_ids, "id", "left_anti")
    # in-batch near-dups: min id in each shared bucket wins (greedy — a
    # chain a~b~c keeps only the smallest, matching batch connected-
    # components canonicalization for the common 2-doc case)
    w = Window.partitionBy("band", "sig")
    losers = (
        sigs.withColumn("__min", F.min("id").over(w))
        .filter(F.col("id") != F.col("__min"))
        .select("id")
        .distinct()
    )
    batch = batch.join(losers.withColumnRenamed("id", id_col), id_col, "left_anti")
    sigs = sigs.join(losers, "id", "left_anti")
    return batch, sigs


def _store_before(spark, path: str, epoch_id: int) -> DataFrame | None:
    """Read a per-epoch store, keeping ONLY epochs earlier than the one
    being processed. The epoch filter is what makes replay safe: after a
    crash between the epoch-N write and the checkpoint commit, the replay
    of epoch N must NOT see epoch N's own partition — otherwise every
    batch row matches its own stored copy, the whole batch is 'deduped'
    away, and the overwrite empties the partition (permanent data loss).

    Only a missing store (first epoch) maps to None; any other read error
    propagates so the checkpoint retries the batch instead of silently
    skipping cross-epoch dedup."""
    from pyspark.errors import AnalysisException

    try:
        store = spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        # missing store or an existing-but-empty dir (no epoch written
        # yet) are both the first-epoch state; anything else is a real
        # read failure
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return None
        raise
    # stale-store guard: stored epochs AHEAD of the current one cannot
    # come from a normal replay (streaming epochs are sequential) — they
    # mean a fresh checkpoint was pointed at an existing store, where the
    # epoch filter would silently disable cross-epoch dedup and the
    # epoch-dir overwrites would clobber old partitions. Fail loudly.
    # (Undetectable edge: a fresh checkpoint against a store holding ONLY
    # epoch 0 is indistinguishable from a replay of epoch 0.)
    mx = store.agg(F.max("epoch")).first()[0]
    if mx is not None and mx > epoch_id:
        raise ValueError(
            f"store at {path} holds epoch {mx} > current epoch {epoch_id}: "
            "the checkpoint does not match this store — reuse the original "
            "checkpoint_dir or point the ingest at a fresh store path"
        )
    return store.filter(F.col("epoch") < epoch_id)


def foreach_batch_neardedup_ingest(
    stream: DataFrame,
    corpus_path: str,
    sig_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 8,
) -> StreamingQuery:
    """Run the stream with each micro-batch near-dedup'd against the
    signature store, then appended epoch-atomically."""
    spark = stream.sparkSession

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        store = _store_before(spark, sig_path, epoch_id)
        kept, sigs = _near_dedup_batch(
            batch, store, id_col, text_col, num_perm, bands
        )
        # per-epoch overwrite = idempotent append under checkpoint replay
        kept.write.mode("overwrite").parquet(f"{corpus_path}/epoch={epoch_id}")
        sigs.write.mode("overwrite").parquet(f"{sig_path}/epoch={epoch_id}")

    return start_micro_batches(stream, apply_batch, checkpoint_dir)


def _semantic_dedup_batch(
    batch: DataFrame,
    store: DataFrame | None,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    min_cos: float,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of incremental SemDeDup: returns (surviving
    (id, cell, vector) rows, the cached assignment handle to unpersist
    after materialization). The store holds the kept vectors of all prior
    epochs keyed by cell; a batch vector is dropped when it sits within
    ``min_cos`` of any stored vector in its cell, then in-batch near-dups
    collapse to the lowest id — the SAME fixed codebook every epoch
    (centroids must be stable or cell membership shifts and history stops
    matching)."""
    from lakehouse_architecture_spark.operators.similarity import (
        centroid_assignment,
        cosine,
        semdedup_cell_losers,
    )

    # ONE assignment per batch, cached — the store join, the in-batch
    # prune (both sides), and the final output all reuse it; the caller
    # unpersists after materializing the result
    assign = centroid_assignment(batch, id_col, vec_col, centroids=centroids)
    cached = (
        batch.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .join(assign.select(F.col(id_col).alias("id"), "cell"), "id")
        .cache()
    )
    rows = cached
    if store is not None:
        dup_ids = (
            rows.join(
                store.select("cell", F.col("v").alias("__sv")), "cell"
            )
            .filter(F.round(cosine(F.col("v"), F.col("__sv")), 6) >= F.lit(min_cos))
            .select("id")
            .distinct()
        )
        rows = rows.join(dup_ids, "id", "left_anti")
    # in-batch prune against the cached assignment (calling semdedup_prune
    # here would recompute the assignment on survivors)
    losers = semdedup_cell_losers(rows, min_cos)
    return rows.join(losers, "id", "left_anti"), cached


def foreach_batch_semantic_dedup_ingest(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float = 0.9,
) -> StreamingQuery:
    """Streaming SemDeDup: every micro-batch is semantically deduplicated
    against the kept-vector store, then its survivors append to the store
    epoch-atomically (same exactly-once epoch-dir pattern as the text
    near-dedup ingest above).

    State trade vs the text path: the store must hold full VECTORS (cosine
    needs them), not few-byte signatures — at scale keep it bucketed by
    cell so the per-batch join is co-located, and grow the codebook with
    the corpus so cells stay small."""
    spark = stream.sparkSession

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        store = _store_before(spark, store_path, epoch_id)
        kept, cached = _semantic_dedup_batch(
            batch, store, centroids, id_col, vec_col, min_cos
        )
        try:
            kept.write.mode("overwrite").parquet(f"{store_path}/epoch={epoch_id}")
        finally:
            # release the per-batch cache — a long ingest would otherwise
            # accumulate one dead cached relation per epoch
            cached.unpersist()

    return start_micro_batches(stream, apply_batch, checkpoint_dir)
