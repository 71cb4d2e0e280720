"""Deduplication operators for large-scale training-data pipelines.

Five families, all shuffle-architected for 100 TB:

* **exact** — hash-groupBy on the raw text (one shuffle on the text hash).
* **fingerprint** — exact dedup after normalization (see operators/text.py).
* **n-gram Jaccard** — shingle → inverted-index self-join → per-pair
  intersection counts → Jaccard; candidate space is bounded by shared
  shingles, never the full n².
* **MinHash + LSH** — portable universal-hash minhash signatures, banded
  into buckets; near-dup candidates are pairs sharing a band bucket. The
  classic sub-quadratic path (shuffle on band signature, not on pairs).
* **SimHash** — 64-bit sign-of-weighted-sum fingerprint; near-dups share
  the fingerprint (or differ in few bits).

Hash functions are md5-derived (functions/hashing.py) so every step has an
exact DuckDB oracle. Spark's MinHashLSH (spark.ml) exists but uses
engine-private hash seeds; these implementations keep the math portable and
stay in pure DataFrame ops (explode + groupBy + join), which Catalyst plans
as ordinary shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_architecture_spark.functions.hashing import (
    md5_hash64,
    minhash_perm_sql,
)
from lakehouse_architecture_spark.materialize import cache_once, materialize_small
from lakehouse_architecture_spark.operators.buckets import bucket_pairs, drop_hot_keys
from lakehouse_architecture_spark.operators.partitioning import spread_by_id


def exact_duplicates(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """Groups of rows identical on ``key_cols``: returns one row per
    duplicate group with the canonical (min) id and the group size.
    """
    return (
        df.groupBy(*key_cols)
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
    )


def dedup_keep_first(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep the first row (min ``order_col``) per ``key_cols`` group —
    deterministic alternative to ``dropDuplicates`` (which keeps an
    arbitrary row). One shuffle; no window needed (min-struct trick keeps it
    a hash aggregate with map-side partials instead of a sort).
    """
    others = [c for c in df.columns if c not in key_cols]
    packed = df.groupBy(*key_cols).agg(
        F.min(F.struct(order_col, *[c for c in others if c != order_col])).alias("__r")
    )
    return packed.select(*key_cols, *[F.col(f"__r.{c}").alias(c) for c in others])


def ngram_array(toks: Column, n: int) -> Column:
    """Word n-gram array (with duplicates) from a token array. A doc with
    fewer than ``n`` tokens has NO n-grams — an unclamped sequence would
    emit one truncated sub-n gram and give short docs spurious similarity
    signatures. Shared by shingling and repetition stats so the clamp and
    join semantics can never diverge between them (or from the oracle CTEs
    that mirror both)."""
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.expr("cast(array() as array<int>)"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle)."""
    # restore parallelism before the explode (partitioning.py rationale)
    df = spread_by_id(df, id_col)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    sh = ngram_array(toks, n)
    return (
        df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(sh)).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with word-n-gram Jaccard ≥ threshold.

    Inverted-index join: pairs are generated only for documents sharing at
    least one shingle, then |A∩B| is a count per pair and |A∪B| = |A|+|B|−∩.
    Shuffles: one on shingle (the index join), one on the pair key.

    ``max_df`` is the hot-shingle guard (operators/buckets.py): shingles
    in more than ``max_df`` documents are dropped from the index. Sizes
    still count every shingle, so the reported Jaccard becomes a LOWER
    BOUND — pairs similar only through boilerplate stop qualifying, which
    is usually what dedup wants. Default ``None`` keeps every shingle
    (exact semantics, oracle-matched).
    """
    return (
        _shingle_overlaps(df, id_col, text_col, n, max_df)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_overlaps(
    df: DataFrame, id_col: str, text_col: str, n: int, max_df: int | None
) -> DataFrame:
    """(id_a, id_b, n_inter, sz_a, sz_b) for every pair sharing a kept
    shingle: the inverted-index plan of :func:`ngram_jaccard_pairs` and
    :func:`containment_pairs`, which differ only in the normalization."""
    # join on the 60-bit shingle hash, not the string: same result (the
    # oracle hashes identically, so even a collision is mirrored) and a far
    # cheaper shuffle key than multi-word strings at corpus scale
    sh = (
        word_shingles(df, id_col, text_col, n)
        .select("id", md5_hash64(F.col("shingle")).alias("h"))
    )
    sh = cache_once(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        bucket_pairs(drop_hot_keys(sh, "h", max_df), "h")
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return inter.join(
        sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a"
    ).join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """One row per document with columns mh0..mh{num_perm-1}.

    Wide-aggregation formulation: all permutations are min-aggregated in a
    single groupBy over the shingle rows — one shuffle, no num_perm× row
    blow-up (an explode-per-permutation version was ~4× slower at sf0.1 and
    scales worse: the shuffle would carry num_perm copies of the corpus).

    A zero-shuffle array formulation (per-row shingle array + one
    ``aggregate`` HOF computing all minima) also measured ~4× SLOWER
    (tools/exp_minhash_array.py at commit f6e8d4c): HOF lambdas evaluate
    interpreted outside whole-stage codegen and allocate per element, while
    this form keeps every permutation update in codegen'd hash-agg
    arithmetic — and with
    map-side partial mins the shuffle carries only (id, num_perm longs)
    per doc per map partition, not the shingle corpus.
    """
    sh = word_shingles(df, id_col, text_col, shingle_n).withColumn(
        "h", md5_hash64(F.col("shingle"))
    )
    # SQL-string expressions: the num_perm wide-agg columns are built with
    # one py4j call each instead of ~8 nested Column calls — the plan is
    # identical, but driver-side query construction drops from ~0.5s to
    # ~50ms (measured; this overhead is per-query-build, so it also taxes
    # every interactive/bench invocation).
    return sh.groupBy("id").agg(
        *[
            F.expr(f"min({minhash_perm_sql('h', str(i))})").alias(f"mh{i}")
            for i in range(num_perm)
        ]
    )


def band_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, sig) LSH band signatures: band key = band index +
    '_'-joined minhash values of the band's r = num_perm/bands rows, in
    permutation order. The unit of near-dup candidate generation — two
    docs are candidates iff they share a (band, sig) bucket — and the
    durable state an INCREMENTAL dedup pipeline persists between batches
    (bands rows per doc, no text)."""
    r = num_perm // bands
    sig = minhash_signatures(df, id_col, text_col, num_perm, shingle_n)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", *[F.col(f"mh{b * r + j}").cast("string") for j in range(r)]
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("id", F.explode(band_structs).alias("bs")).select(
        "id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs: documents sharing ≥1 LSH band bucket.

    rows-per-band r = num_perm/bands; band key = (band index, '_'-joined
    minhash values of the band, in permutation order). Returns
    (id_a < id_b, n_shared_bands). At scale the bucket join shuffles on the
    band signature — sub-quadratic as long as buckets stay small.
    """
    band = band_signatures(df, id_col, text_col, num_perm, bands, shingle_n)
    return (
        bucket_pairs(band, ["band", "sig"])
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """SimHash over distinct whitespace tokens (weights = 1), ``bits`` ≤ 60
    (the md5-derived hash width).

    bit b of the fingerprint = 1 iff Σ_tokens sign(bit b of md5hash(token))
    > 0. Wide-aggregation formulation: one token-explode, then a single
    groupBy with ``bits`` conditional sums — no per-bit row blow-up (the
    shuffle carries one row per token, not ``bits`` rows per token).
    """
    toks = (
        spread_by_id(df, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .withColumn("h", md5_hash64(F.col("tok")))
    )
    # SQL-string expressions: one py4j call per aggregate (and ONE for the
    # whole 60-term fingerprint) instead of hundreds of nested Column calls
    # — identical plan, ~1s less driver-side build time per invocation.
    bit_sums = toks.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END)"
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    fingerprint = F.expr(
        "CAST("
        + " + ".join(
            f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
            for b in range(bits)
        )
        + " AS BIGINT)"
    )
    return bit_sums.select("id", fingerprint.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance, banded for scale.

    Pigeonhole guarantee: two fingerprints within hamming distance
    ``max_hamming < bands`` must agree exactly on at least one of the
    ``bands`` disjoint bit bands, so candidates are generated by an
    equi-join on (band, band_bits) — the same sub-quadratic shuffle shape
    as MinHash LSH — and only candidates pay the exact ``bit_count(xor)``
    check. Returns (id_a < id_b, hamming).
    """
    sig = simhash(df, id_col, text_col, bits)
    return banded_hamming_pairs(sig, "id", "simhash", bits, bands, max_hamming)


def banded_hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Generic banded near-neighbor pairs over ANY integer fingerprint
    column (SimHash, perceptual image hash, audio fingerprint...): the
    pigeonhole band equi-join + exact ``bit_count(xor)`` verify of
    :func:`simhash_neardup_pairs`, factored so every fingerprint family
    shares one scale-safe candidate generator. Returns
    (id_a < id_b, hamming)."""
    r = bits // bands
    mask = (1 << r) - 1
    sig = df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("__h"))
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("__h"), b * r)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for b in range(bands)
        ]
    )
    band_rows = sig.select(
        "id", "__h", F.explode(band_arr).alias("bk")
    ).select("id", "__h", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = (
        bucket_pairs(band_rows, ["band", "key"])
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.__h").alias("ha"),
            F.col("b.__h").alias("hb"),
        )
        .distinct()  # a pair sharing several bands must count once
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Directional shingle containment: for every candidate pair
    (id_a < id_b), ``cont_a = |A∩B| / |A|`` and ``cont_b = |A∩B| / |B|``;
    a pair qualifies when EITHER direction ≥ threshold.

    Jaccard misses sub-document duplication — a paragraph fully pasted
    into a 100× larger page scores |A|/|B| ≈ 0.01 Jaccard but 1.0
    containment of A. Same inverted-index plan as
    :func:`ngram_jaccard_pairs` (one shuffle on the shingle hash, one on
    the pair key), only the final normalization differs. ``max_df`` is
    the hot-shingle guard (operators/buckets.py); with it set, both
    containments become lower bounds.
    """
    return (
        _shingle_overlaps(df, id_col, text_col, n, max_df)
        .withColumn("cont_a", F.round(F.col("n_inter") / F.col("sz_a"), 6))
        .withColumn("cont_b", F.round(F.col("n_inter") / F.col("sz_b"), 6))
        .filter(
            (F.col("cont_a") >= threshold) | (F.col("cont_b") >= threshold)
        )
        .select("id_a", "id_b", "n_inter", "cont_a", "cont_b")
    )


def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    max_dist: int = 3,
) -> DataFrame:
    """Entity-resolution candidate pairs: exact edit distance computed only
    WITHIN blocking-key groups (classic blocked record linkage).

    Levenshtein is O(len²) per comparison and all-pairs is O(rows²) — at
    corpus scale both are fatal. Blocking reduces the self-join to an
    equi-join on the block key (one shuffle, no cartesian: Catalyst plans
    SortMergeJoin on the key), and distance runs only inside blocks. Block
    keys must be chosen so blocks stay small — a skewed block goes
    quadratic within itself; salt or cap such blocks upstream
    (operators/skew.py) exactly as with any hot join key.
    """
    cols = [F.col(id_col).alias("id"), F.col(name_col).alias("nm"), *[
        F.col(c) for c in block_cols
    ]]
    return (
        bucket_pairs(df.select(*cols), block_cols)
        .withColumn("dist", F.levenshtein(F.col("a.nm"), F.col("b.nm")))
        .filter(F.col("dist") <= max_dist)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.nm").alias("name_a"),
            F.col("b.nm").alias("name_b"),
            "dist",
        )
    )


def duplicated_kgram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal duplicated substring spans per document — the span-level
    exact-dedup of Lee et al., *Deduplicating Training Data Makes Language
    Models Better* (arXiv:2107.06499), re-expressed for Spark.

    The paper builds a corpus-wide suffix array; that is a single-machine
    construction. The distributed equivalent: a position-indexed k-gram
    hash inverted index. Any duplicated substring of >= k tokens is a run
    of consecutive duplicated k-grams, so (1) hash every k-gram with its
    token position, (2) keep hashes whose *document frequency* >= min_docs
    (cross-document duplication; within-doc repeats are repetition_stats'
    job), (3) per document, merge positions whose k-gram windows overlap
    (gap <= k) into maximal spans — classic gaps-and-islands.

    Scale: two hash aggregates on the k-gram hash (map-side partials), one
    shuffle join position->hot-hash, one window per doc ordered by
    position. No all-pairs stage exists anywhere; cost is linear in total
    token count. The per-doc window state is one lag row.

    Output: (id, span_start, span_end, span_tokens) in token offsets,
    inclusive, plus n_docs = max doc-frequency among the span's k-grams.
    """
    df = spread_by_id(df, id_col)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(0), F.size(toks) - k)
    ).otherwise(F.expr("cast(array() as array<int>)"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    pos = (
        df.select(F.col(id_col).alias("id"), F.posexplode(grams).alias("pos", "g"))
        .select("id", "pos", md5_hash64(F.col("g")).alias("h"))
    )
    # document frequency per k-gram hash: distinct (h, id) first so the
    # second aggregate is a plain count — both stages combine map-side
    hot = (
        pos.select("h", "id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    dup = pos.join(hot, "h").select("id", "pos", "n_docs")
    w = Window.partitionBy("id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    island = F.sum(
        (gap.isNull() | (gap > k)).cast("int")
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        dup.withColumn("island", island)
        .groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.max("n_docs").alias("n_docs"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_docs",
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Rewrite ``text_col`` with every duplicated span's tokens removed
    (the scrub step of span-level dedup). Non-span tokens keep their
    relative order, joined by single spaces; documents with NO duplicated
    span keep their original text byte-for-byte (no whitespace
    normalization). One extra shuffle: spans aggregate per doc, then join
    back on id (co-keyed with the span window's partitioning).

    The rewrite walks the COMPLEMENT intervals of the (sorted,
    non-overlapping by construction) spans — O(tokens + spans) per doc,
    never the O(tokens x spans) of a per-token membership test."""
    spans = (
        duplicated_kgram_spans(df, id_col, text_col, k, min_docs)
        .groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("__spans")
        )
        # reserved name: a bare .drop("id") after the join would also drop
        # any user column literally named 'id' (PySpark drops by name)
        .withColumnRenamed("id", "__span_id")
    )
    out = df.join(
        spans, on=[df[id_col] == spans["__span_id"]], how="left"
    ).drop("__span_id")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # kept token ranges = gaps between consecutive spans (half-open):
    # starts = [0, end_0+1, end_1+1, ...], ends = [start_0, start_1, ..., n]
    starts = F.concat(
        F.array(F.lit(0)),
        F.transform(F.col("__spans"), lambda s: s["span_end"] + 1),
    )
    ends = F.concat(
        F.transform(F.col("__spans"), lambda s: s["span_start"]),
        F.array(F.size(toks)),
    )
    kept = F.flatten(
        F.zip_with(
            starts, ends, lambda a, b: F.slice(toks, a + 1, F.greatest(b - a, F.lit(0)))
        )
    )
    cleaned = F.concat_ws(" ", kept)
    return out.withColumn(
        text_col,
        F.when(F.col("__spans").isNull(), F.col(text_col)).otherwise(cleaned),
    ).drop("__spans")


def oph_bin_minima(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bins: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """One-Permutation Hashing bin minima: (id, bin, v) for NON-EMPTY bins.

    Classic MinHash evaluates ``num_perm`` independent permutations per
    shingle — the corpus is hashed num_perm times. OPH (Li, Owen & Zhang
    2012) hashes each shingle ONCE, routes it to bin ``h % bins``, and
    keeps the per-bin minimum: ``bins`` signature slots for one pass over
    the shingles. At 100 TB that is the difference between 128 hash+min
    updates per shingle and 1 — the hash-aggregate's CPU drops by the
    permutation count while the shuffle stays the same (id, bins longs)
    map-side-combined shape.

    A document with fewer shingles than bins leaves some bins empty;
    :func:`oph_densified` fills them. Docs with no shingles at all
    (< shingle_n tokens) produce no rows, mirroring word_shingles.
    """
    sh = word_shingles(df, id_col, text_col, shingle_n).withColumn(
        "h", md5_hash64(F.col("shingle"))
    )
    # one universal rehash decorrelates the md5 stream from the bin route
    hp = F.expr(minhash_perm_sql("h", "0"))
    return (
        sh.select("id", hp.alias("hp"))
        .groupBy("id", (F.col("hp") % bins).alias("bin"))
        .agg(F.min("hp").alias("v"))
    )


def oph_densified(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bins: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Densified OPH signature: (id, bin, v) for EVERY bin in [0, bins).

    Rotation densification (Shrivastava & Li 2014): an empty bin borrows
    the minimum of the nearest non-empty bin to its RIGHT (cyclically),
    offset by the hop distance so that two documents' borrowed values only
    collide when they borrowed the same value from the same relative
    source — without the offset, a long empty run would count as
    ``run_length`` spurious matches instead of one.

    Expressed relationally (empty-slot × non-empty-bin join, pick min
    cyclic distance) rather than as an array scan: per document the join
    is bounded by bins², the whole step by |docs|·bins² — vanishing next
    to the shingle aggregate — and every operator stays a Catalyst
    hash-join/aggregate with an exact SQL mirror.
    """
    # the bin minima are referenced three times below (spine seed, the
    # anti-join probe, and the donor side) — pin them so the shingle
    # explode+aggregate (the only corpus-sized stage) executes ONCE; the
    # pinned set is signature-sized (≤ docs × bins rows), never corpus-sized
    present = materialize_small(oph_bin_minima(df, id_col, text_col, bins, shingle_n))
    spine = (
        present.select("id")
        .distinct()
        .select("id", F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin"))
    )
    empty = spine.join(present, ["id", "bin"], "left_anti")
    donors = present.select(
        F.col("id").alias("__did"), F.col("bin").alias("__dbin"), F.col("v").alias("__dv")
    )
    borrowed = (
        empty.join(donors, empty["id"] == donors["__did"])
        .withColumn("__dist", (F.col("__dbin") - F.col("bin") + bins) % bins)
        .groupBy("id", "bin")
        .agg(F.min(F.struct("__dist", "__dv")).alias("__pick"))
        .select("id", "bin", (F.col("__pick.__dv") + F.col("__pick.__dist")).alias("v"))
    )
    return present.unionByName(borrowed)


def oph_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bins: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup candidates from densified OPH signatures, LSH-banded.

    ``bins`` slots split into ``bands`` bands of r = bins/bands slots; the
    band key is the '_'-joined slot minima in slot order. Pairs sharing ≥1
    band are candidates; each candidate then pays one bounded signature
    compare (join on slot, count equal values — ≤ bins rows per pair), and
    matching_bins / bins estimates the Jaccard similarity. Returns
    (id_a < id_b, n_shared_bands, n_equal_bins, est_jaccard).

    Same sub-quadratic band-join shuffle shape as classic MinHash-LSH
    (minhash_lsh_candidates) at 1/num_perm the signature-build CPU.
    """
    r = bins // bands
    # referenced three times (banding + both sides of the slot compare)
    sig = materialize_small(oph_densified(df, id_col, text_col, bins, shingle_n))
    banded = (
        sig.groupBy("id", (F.col("bin") / r).cast("int").alias("band"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("bin", "v"))),
                    lambda s: s["v"].cast("string"),
                ),
                "_",
            ).alias("sig")
        )
    )
    cand = (
        bucket_pairs(banded, ["band", "sig"])
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    sa = sig.select(F.col("id").alias("id_a"), "bin", F.col("v").alias("va"))
    sb = sig.select(F.col("id").alias("id_b"), "bin", F.col("v").alias("vb"))
    eq = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "bin"])
        .groupBy("id_a", "id_b", "n_shared_bands")
        .agg(F.sum(F.when(F.col("va") == F.col("vb"), 1).otherwise(0)).alias("n_equal_bins"))
    )
    return eq.select(
        "id_a",
        "id_b",
        "n_shared_bands",
        "n_equal_bins",
        F.round(F.col("n_equal_bins") / F.lit(float(bins)), 6).alias("est_jaccard"),
    )
