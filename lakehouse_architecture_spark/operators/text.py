"""Text-analysis operators for training-data pipelines over ``documents``.

All pure Catalyst expressions (regex + string built-ins) — no Python in the
hot path, so every operator is a narrow map that scales linearly and keeps
whole-stage codegen intact. Each has an exact ANSI-SQL oracle equivalent in
``queries/text_queries.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_architecture_spark.materialize import materialize_small

from lakehouse_architecture_spark.functions.hashing import md5_hash64
from lakehouse_architecture_spark.operators.buckets import hot_keys

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small + deterministic so the oracle can replicate.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}

_WS = r"\s+"


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization of trimmed text (empty text → empty array)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.when(F.trim(c) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(c), _WS)
    )


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c))


def bpe_ish_token_count(c: Column | str) -> Column:
    """Sub-word-ish token count: words + digit runs + punctuation marks each
    count separately (a cheap proxy for BPE token counts used to budget
    training data). Counted via regexp occurrences.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def char_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document length / punctuation / digit / whitespace counts."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_chars_m": F.length(t),
            "n_tokens": token_count(t),
            "n_punct": F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", "")),
            "n_digits": F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", "")),
            "n_spaces": F.length(t) - F.length(F.regexp_replace(t, r"\s", "")),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring: mean word length, punct ratio, stopword
    ratio, and a composite 0-100 score. Formula is engine-defined (the
    reference has no text ops) and exactly reproducible in SQL.
    """
    t = F.col(text_col)
    n_tok = token_count(t).cast("double")
    n_chars = F.length(t).cast("double")
    n_punct = (F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).cast("double")
    stop = sum(
        (F.size(F.filter(tokens(t), lambda x: x == F.lit(w)))
         for w in LANG_MARKERS["en"]),
        F.lit(0),
    ).cast("double")
    mean_word_len = F.when(n_tok > 0, (n_chars - (n_tok - 1)) / n_tok).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_tok > 0, stop / n_tok).otherwise(0.0)
    score = (
        F.lit(100.0)
        - F.least(F.lit(40.0), F.abs(mean_word_len - 5.0) * 8.0)
        - F.least(F.lit(30.0), punct_ratio * 100.0)
        + F.least(F.lit(10.0), stop_ratio * 50.0)
    )
    return df.withColumns(
        {
            "mean_word_len": F.round(mean_word_len, 4),
            "punct_ratio": F.round(punct_ratio, 4),
            "stopword_ratio": F.round(stop_ratio, 4),
            "quality": F.round(score, 2),
        }
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID: score = count of marker-word hits per
    language; predicted language = argmax (ties broken by language code
    order). Returns ``pred_lang`` + per-language hit counts.
    """
    toks = tokens(F.col(text_col))

    def marker_count(words: tuple[str, ...]):
        # NB: the lambda must take exactly one arg — PySpark interprets a
        # second lambda parameter as the element *index*.
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    scores = {lang: marker_count(words) for lang, words in LANG_MARKERS.items()}
    out = df.withColumns({f"score_{lang}": s for lang, s in scores.items()})
    # argmax with deterministic tie-break on language code
    pairs = F.array(
        *[
            F.struct(
                F.col(f"score_{lang}").alias("s"),
                F.lit(lang).alias("l"),
            )
            for lang in sorted(LANG_MARKERS)
        ]
    )
    # struct sort compares fields in order (s, then l): descending sort puts
    # the max score first, ties broken by language code DESC — the oracle
    # replicates exactly this tiebreak.
    best = F.sort_array(pairs, asc=False)[0]
    return out.withColumn(
        "pred_lang", F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))
    )


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document internal n-gram repetition (the Gopher/MassiveText
    quality rule: heavily self-repeating documents are low-quality
    boilerplate or spam). Output per doc: total word n-grams, distinct
    n-grams, and ``dup_frac`` = 1 − distinct/total (0.0 when the doc has
    fewer than ``n`` tokens).

    Pure higher-order-function expressions over the token array — a narrow
    map with no shuffle and no Python; scales linearly with corpus size.
    """
    from lakehouse_architecture_spark.operators.dedup import ngram_array

    toks = tokens(F.col(text_col))
    grams = ngram_array(toks, n)
    return df.select(
        F.col(id_col).alias("id"),
        F.size(grams).alias("n_ngrams"),
        F.size(F.array_distinct(grams)).alias("n_distinct"),
        F.when(F.size(grams) > 0,
               F.round(F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams), 6))
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fp") -> DataFrame:
    """Document fingerprint: md5-derived 60-bit hash of the normalized text
    (lowercase, punctuation stripped, whitespace collapsed). Two documents
    with the same fingerprint are normalization-equal — the standard cheap
    near-exact dedup key.
    """
    t = F.col(text_col)
    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(t), r"[^\w\s]", ""), _WS, " "))
    return df.withColumn(out_col, md5_hash64(norm))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (rolling k-gram hash + window min).

    The MOSS algorithm (Schleimer, Wilkerson, Aiken 2003): hash every
    character k-gram, slide a window of ``w`` consecutive k-gram positions,
    select each window's minimum hash; a document's fingerprint set is the
    distinct selected hashes. Any shared substring of length ≥ k + w - 1
    between two documents guarantees a shared fingerprint — the local,
    partial-overlap-robust complement to whole-document hashes.

    Pure Catalyst higher-order functions (transform/slice/array_min) — the
    O(len·w) per-row work is a narrow map, parallelized by spread_by_id.
    Returns distinct (id, fp) pairs; documents shorter than k + w - 1
    produce no rows. Oracle-portable: hashes are md5-derived
    (functions/hashing.py).
    """
    from lakehouse_architecture_spark.operators.partitioning import spread_by_id

    t = F.col(text_col)
    n_grams = F.length(t) - k + 1
    gram_hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: md5_hash64(t.substr(i, F.lit(k))),
    )
    # window count re-derived from the hash array (text is dropped by then)
    n_windows = F.size(F.col("__gh")) - w + 1
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(F.col("__gh"), j, w)),
        )
    )
    return (
        spread_by_id(df, id_col)
        # sequence(1, n) with n < 1 counts DOWN — guard short docs first
        .filter(F.length(t) >= k + w - 1)
        .select(F.col(id_col).alias("id"), gram_hashes.alias("__gh"))
        .select("id", F.explode(fps).alias("fp"))
    )


def vocab_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 100,
) -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent whitespace tokens with
    term frequency and document frequency.

    One explode + one hash aggregation on the token (map-side partial
    combine collapses each partition to its local vocabulary before the
    shuffle, so the shuffle volume is ~|vocab| per partition, not corpus
    token count), then a global top-k. ``count(distinct)`` per token is
    computed via a two-level agg (token,doc) -> token so it stays a hash
    aggregate, never a per-token set. Tie-break on the token string makes
    the cut deterministic.
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    per_doc = tok.groupBy("tok", "id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        per_doc.groupBy("tok")
        .agg(F.sum("tf").alias("term_freq"), F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("term_freq").desc(), F.col("tok").asc())
        .limit(k)
    )


def drop_duplicate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df: int,
    delim: str = "\n",
) -> DataFrame:
    """Cross-corpus duplicated-line removal (RefinedWeb/Gopher-style
    boilerplate scrub): split every document on ``delim``, drop the lines
    whose *document frequency* exceeds ``max_df`` (navigation bars, cookie
    banners, license boilerplate — content repeated across many pages),
    and reassemble each document preserving original line order.

    Plan shape: posexplode -> the hot-line set of operators/buckets.py
    over distinct (line hash, doc) rows, broadcast back as a flag. The
    reassembly is one hash-agg per doc collecting (pos, line) structs,
    sorted in-array (deterministic, no window sort needed).

    Returns (id, text, n_lines_kept, n_lines_dropped).
    """
    lines = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), delim)).alias("pos", "line"),
        )
    )
    hashed = lines.withColumn("h", md5_hash64(F.col("line")))
    hot = hot_keys(hashed.select("h", "id").distinct(), "h", max_df)
    kept_flag = hashed.join(F.broadcast(hot).withColumn("__hot", F.lit(1)), "h", "left")
    return (
        kept_flag.groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("__hot").isNull(),
                        F.struct(F.col("pos"), F.col("line")),
                    )
                )
            ).alias("kept"),
            F.sum(F.when(F.col("__hot").isNotNull(), 1).otherwise(0)).alias(
                "n_lines_dropped"
            ),
        )
        .select(
            "id",
            F.array_join(F.transform(F.col("kept"), lambda s: s["line"]), delim).alias(
                "text"
            ),
            F.size("kept").alias("n_lines_kept"),
            "n_lines_dropped",
        )
    )


def tf_idf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms: ``score = tf · ln((N+1)/(df+1))``
    (smoothed idf — always finite, never divides by zero).

    Terms are lowercased whitespace tokens (same tokenizer as the rest of
    the text belt). Three shuffles, each a standard partial-agg hash
    shuffle that scales linearly: (doc, term) counts, per-term document
    frequencies, and the per-doc top-k window. The corpus-size scalar
    ``N`` joins in via ``crossJoin(broadcast(...))`` — no driver
    round-trip — and the doc-frequency join is a plain equi-join on the
    term key (vocabulary-sized; AQE picks broadcast when it fits).
    Ties break on term ascending, so output is deterministic.
    """
    from lakehouse_architecture_spark.operators.relational import top_k_per_group

    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df_t") + 1)), 6
            ),
        )
        .select("id", "term", "tf", "df_t", "score")
    )
    return top_k_per_group(
        scored,
        ["id"],
        [F.col("score").desc(), F.col("term").asc()],
        k,
        rank_col="rank",
    )


#: (label, java+RE2-compatible regex, replacement) — patterns kept inside
#: the regex subset that Java regex and RE2/DuckDB interpret identically
#: (no lookaround, no backrefs), so redaction is oracle-checkable.
REDACT_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("number", r"[0-9]+", "<NUM>"),
)


def redact(
    df: DataFrame,
    text_col: str,
    patterns: tuple[tuple[str, str, str], ...] = REDACT_PATTERNS,
    out_col: str = "redacted",
) -> DataFrame:
    """PII/pattern redaction: replace each pattern with its placeholder and
    count the replacements per pattern (``n_<label>`` columns).

    Pure ``regexp_replace``/``regexp_extract_all`` Catalyst expressions —
    a narrow map, no shuffle, codegen intact. Patterns apply in declared
    order to the progressively-redacted text (so an email is ONE <EMAIL>,
    not an <EMAIL> wrapping <NUM>s); counts are measured against the text
    as each pattern sees it.
    """
    cols: dict[str, Column] = {}
    redacted = F.col(text_col)
    for label, pat, repl in patterns:
        cols[f"n_{label}"] = F.size(F.regexp_extract_all(redacted, F.lit(pat), 0))
        redacted = F.regexp_replace(redacted, pat, repl)
    cols[out_col] = redacted
    return df.withColumns(cols)


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a bag of query ``terms``
    (Robertson/Sparck-Jones, the Lucene `k1`/`b` parameterization with the
    +1-smoothed idf so scores stay positive).

    Fully distributed: per-term tf comes from one explode+filter (the
    filter on the tiny term set prunes the exploded stream immediately),
    document length and the corpus-wide (N, avgdl) scalars ride in via
    ``crossJoin(broadcast(...))`` — no driver round-trip. Per-doc summation
    across terms goes through DECIMAL(38,6) (dsum) so the float sum is
    order-insensitive and oracle-stable. Two shuffles: (doc,term) tf and
    the final per-doc sum; the df_t join is vocabulary-sized (broadcast).

    Output: (id, score, n_hit) for documents matching ≥1 term.
    """
    from lakehouse_architecture_spark.functions.aggregates import dsum

    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    ).filter(F.col("term") != "")
    # doc-cardinality lengths, referenced by BOTH the corpus stats and the
    # per-term join — checkpoint so the token explode feeding it runs once
    # (the tf pass below is the second, term-filtered explode; two passes
    # over the corpus total, the documented inverted-index shape)
    dl = materialize_small(
        tok.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("term").isin(*terms))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .withColumn("t_score", F.round(idf * F.col("tf") * (k1 + 1.0) / denom, 6))
    )
    return per_term.groupBy("id").agg(
        F.round(dsum("t_score"), 6).alias("score"),
        F.count(F.lit(1)).alias("n_hit"),
    )


def heuristic_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rule-based quality screens from the C4 and Gopher pipelines
    (Raffel et al. 2019 §2.2; Rae et al. 2021 A1.1), as pure Catalyst
    expressions — one narrow map, no Python, no shuffle.

    Adds per-document stats plus two composite booleans:

    * ``fails_gopher`` — word count outside [50, 100k], mean word length
      outside [3, 10], alpha-word fraction < 0.8, symbol-to-word ratio
      ('#'/'…'/'...') > 0.1, > 90% bullet lines, or > 30% ellipsis-ended
      lines.
    * ``fails_c4`` — contains "lorem ipsum" or a curly brace (code leak).

    Ratios are exact rationals of counts (portable); thresholds are the
    published ones and are compared on the raw ratio, not a rounding.
    """
    t = F.col(text_col)
    words = tokens(t)
    n_words = F.size(words)
    nw = F.when(n_words > 0, n_words.cast("double"))  # NULL-safe denominator
    mean_wl = (
        F.aggregate(
            F.transform(words, lambda w: F.length(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("double")
        / nw
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double") / nw
    )
    sym_ratio = F.regexp_count(t, F.lit(r"#|\.\.\.|…")).cast("double") / nw
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    nl = F.when(n_lines > 0, n_lines.cast("double"))
    bullet_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))).cast("double") / nl
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))).cast("double")
        / nl
    )
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_curly = t.contains("{")
    fails_gopher = (
        (n_words < 50)
        | (n_words > 100_000)
        | (mean_wl < 3.0)
        | (mean_wl > 10.0)
        | (alpha_frac < 0.8)
        | (sym_ratio > 0.1)
        | (bullet_frac > 0.9)
        | (ellipsis_frac > 0.3)
    )
    return (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_wl)
        .withColumn("alpha_word_frac", alpha_frac)
        .withColumn("symbol_word_ratio", sym_ratio)
        .withColumn("bullet_line_frac", bullet_frac)
        .withColumn("ellipsis_line_frac", ellipsis_frac)
        .withColumn("fails_gopher", F.coalesce(fails_gopher, F.lit(True)))
        .withColumn("fails_c4", has_lorem | has_curly)
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token diversity: Shannon entropy (bits) of the
    within-document token distribution plus the unique-token ratio — the
    "repetition" half of Gopher-style quality filtering that simple
    max-frequency stats miss (a doc cycling 3 tokens has low entropy even
    when no single token dominates).

    Two hash aggregates — (doc, token) counts, then per-doc entropy — both
    partial-aggregated map-side; the shuffle key is the doc id, so skew
    follows document length, not corpus shape.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__tok")
    )
    from lakehouse_architecture_spark.functions.aggregates import dsum

    counts = tok.groupBy(id_col, "__tok").agg(F.count("*").alias("__c"))
    per_doc = counts.groupBy(id_col).agg(
        F.sum("__c").alias("n_tokens"),
        F.count("*").alias("n_unique"),
        # H = log2(n) - sum(c*log2(c))/n ; the double sum goes through
        # decimal so the result is partition-order-invariant (base.py rules)
        dsum(F.col("__c").cast("double") * F.log2("__c"), "__clgc"),
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("n_unique"),
        F.round(F.col("n_unique") / F.col("n_tokens"), 6).alias("unique_ratio"),
        F.round(
            F.log2("n_tokens") - F.col("__clgc") / F.col("n_tokens"), 6
        ).alias("entropy_bits"),
    )


def bigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """KenLM-style fluency proxy: score every document by the mean
    log10-probability of its word bigrams under a unigram-backoff-free
    bigram model trained on the corpus itself (add-0 MLE:
    p(w2|w1) = c(w1 w2) / c(w1 ·)). Low scores mark documents whose word
    sequences are rare in the corpus — boilerplate, shuffled text, spam.

    Scales as two shuffles over (doc, bigram) pairs: the model is built
    with one hash aggregate over bigrams, the scoring re-joins documents'
    bigrams against it on the bigram key. The model table is |V|²-bounded
    but Zipf-small in practice; no part of it is collected to the driver.
    """
    toks = tokens(text_col)
    grams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat_ws("\x1f", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    doc_grams = df.select(F.col(id_col), F.explode(grams).alias("__bg"))
    bg_counts = doc_grams.groupBy("__bg").agg(F.count("*").alias("__cbg"))
    prefix_counts = (
        doc_grams.withColumn("__w1", F.split_part(F.col("__bg"), F.lit("\x1f"), F.lit(1)))
        .groupBy("__w1")
        .agg(F.count("*").alias("__cw1"))
    )
    scored = (
        doc_grams.join(bg_counts, on="__bg")
        .withColumn("__w1", F.split_part(F.col("__bg"), F.lit("\x1f"), F.lit(1)))
        .join(prefix_counts, on="__w1")
        .withColumn("__lp", F.log10(F.col("__cbg") / F.col("__cw1")))
    )
    from lakehouse_architecture_spark.functions.aggregates import davg

    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(davg("__lp"), 6).alias("mean_log10_p"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard context-window prep for training/embedding pipelines. One row
    per chunk: (id, chunk_index, chunk_start, n_chunk_tokens, chunk_text).

    Pure Catalyst: chunk starts are a ``sequence`` with stride
    ``chunk_tokens - overlap``, each start sliced out of the token array
    and re-joined — a narrow map + one posexplode, no shuffle, no Python.
    Short documents yield exactly one chunk; empty documents none.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    n = F.size(toks)
    # last start <= max(n - chunk, 0), aligned to stride
    last_start = F.greatest(
        F.floor((n - F.lit(chunk_tokens) + F.lit(stride) - 1) / F.lit(stride))
        * F.lit(stride),
        F.lit(0),
    ).cast("int")
    starts = F.when(n > 0, F.sequence(F.lit(0), last_start, F.lit(stride)))
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_index"),
            s.alias("chunk_start"),
            F.slice(toks, s + 1, chunk_tokens).alias("toks"),
        ),
    )
    exploded = df.select(
        F.col(id_col), F.explode(chunks).alias("ch")
    )
    return exploded.select(
        F.col(id_col),
        F.col("ch.chunk_index").alias("chunk_index"),
        F.col("ch.chunk_start").alias("chunk_start"),
        F.size("ch.toks").alias("n_chunk_tokens"),
        F.concat_ws(" ", F.col("ch.toks")).alias("chunk_text"),
    )


def ngram_diversity(
    df: DataFrame, source_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Per-source word-n-gram type-token ratio — the corpus-level
    diversity complement of :func:`repetition_stats` (a crawl section
    whose TTR collapses is template/boilerplate mass).

    Scale shape: spread before the explode (fan-out must not inherit a
    collapsed input partition count), then a two-level hash agg — level 1
    combines map-side on (source, n-gram HASH) (the 60-bit md5 key, same
    convention as the Jaccard inverted index: cheaper exchange, collisions
    mirrored by any oracle that hashes identically), level 2 is
    vocab-sized. No Expand-based countDistinct.
    """
    from lakehouse_architecture_spark.functions.hashing import md5_hash64
    from lakehouse_architecture_spark.operators.dedup import ngram_array
    from lakehouse_architecture_spark.operators.partitioning import spread

    ex = (
        spread(df)
        .select(
            F.col(source_col).alias("source"),
            F.explode(ngram_array(tokens(text_col), n)).alias("__bg"),
        )
        .select("source", md5_hash64(F.col("__bg")).alias("bg"))
    )
    per_bg = ex.groupBy("source", "bg").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_bg.groupBy("source")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .withColumn("ttr", F.round(F.col("n_distinct") / F.col("n_bigrams"), 6))
    )


def hapax_stats(df: DataFrame, source_col: str, text_col: str) -> DataFrame:
    """Corpus-hapax (frequency-1) tokens attributed to the source holding
    their single occurrence — the vocabulary-tail health metric (OCR noise
    and mojibake inflate it; heavy dedup deflates it). Two token hash
    aggregates, both with map-side partials; spread before the explode.
    """
    from lakehouse_architecture_spark.operators.partitioning import spread

    tok = spread(df).select(
        F.col(source_col).alias("source"), F.explode(tokens(text_col)).alias("tok")
    )
    freq = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c"), F.max("source").alias("src")
    )
    hapax = (
        freq.filter(F.col("c") == 1)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n_hapax"))
        .withColumnRenamed("src", "source")
    )
    dist = (
        tok.distinct().groupBy("source").agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    n_hapax = F.coalesce(F.col("n_hapax"), F.lit(0)).cast("bigint")
    return dist.join(hapax, "source", "left").select(
        "source",
        "n_distinct",
        n_hapax.alias("n_hapax"),
        F.round(n_hapax / F.col("n_distinct"), 6).alias("hapax_ratio"),
    )


def build_search_index(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Materializable inverted index: ``postings (term, id, tf)`` over the
    FULL vocabulary plus ``docstats (id, dl)``. Build once per corpus
    (two hash aggregates); persist with ``Catalog.save_as_table(...,
    bucket_by=(n, ["term"]))`` so query-time term lookups prune to the
    term's buckets (Spark bucket pruning on IN/= — set
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false`` for
    filter-only lookups; the auto heuristic doesn't credit pruning)
    instead of scanning the corpus — the difference between search cost ~ O(postings of the query
    terms) and ~ O(corpus text).
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    ).filter(F.col("term") != "")
    postings = tok.groupBy("term", "id").agg(F.count(F.lit(1)).alias("tf"))
    docstats = tok.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    return postings, docstats


def search_index(
    postings: DataFrame,
    docstats: DataFrame,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25 top-k over a prebuilt index — identical scoring to
    :func:`bm25_scores` (parity-tested) but touching ONLY the index
    tables: the corpus text is never re-tokenized at query time. Returns
    the ``k`` best (id, score, n_hit), ties broken by id.
    """
    from lakehouse_architecture_spark.functions.aggregates import dsum

    dl = docstats.select("id", "dl")
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = postings.filter(F.col("term").isin(*terms)).select("term", "id", "tf")
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .withColumn("t_score", F.round(idf * F.col("tf") * (k1 + 1.0) / denom, 6))
    )
    scored = per_term.groupBy("id").agg(
        F.round(dsum("t_score"), 6).alias("score"),
        F.count(F.lit(1)).alias("n_hit"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("id").asc()).limit(k)


# --- RAKE keyword extraction (Rose et al. 2010) ----------------------------
RAKE_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on")


def rake_keyword_scores(
    df: DataFrame,
    text_col: str,
    stopwords: tuple[str, ...] = RAKE_STOPWORDS,
    top_k: int = 30,
) -> DataFrame:
    """Rapid Automatic Keyword Extraction word scores over a corpus:
    candidate phrases are maximal stopword-free runs; each content word
    scores deg(w)/freq(w), where deg(w) sums the lengths of the phrases
    containing w (co-occurrence degree incl. self) and freq(w) counts its
    occurrences. Top-k by score with byte-order tiebreak.

    Pure Catalyst: one regex split to phrases, two explodes, one hash
    aggregate — corpus-parallel, no Python. At 100 TB the aggregate is
    vocabulary-sized; cap upstream with a document sample if the
    vocabulary itself is web-scale."""
    import re as _re

    alt = "|".join(_re.escape(s) for s in stopwords)
    phrase_re = rf"\s*\b(?:{alt})\b\s*"
    phrases = df.select(
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), phrase_re)
        ).alias("phrase")
    ).filter(F.col("phrase") != "")
    words = phrases.select(
        F.size(F.split(F.col("phrase"), r"\s+")).alias("plen"),
        F.explode(F.split(F.col("phrase"), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    scored = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("degree"),
    )
    return (
        scored.select(
            "word",
            "freq",
            "degree",
            F.round(F.col("degree") / F.col("freq"), 6).alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), F.col("word").asc())
        .limit(top_k)
    )


def vocabulary_richness(
    df: DataFrame, source_col: str, text_col: str
) -> DataFrame:
    """Chao1 species-richness estimate (Chao 1984, bias-corrected form)
    plus Good–Turing unseen-probability mass per source — the
    extrapolating companions of :func:`hapax_stats`: hapax counts
    describe the SAMPLED vocabulary tail; Chao1 estimates how much
    vocabulary the crawl has NOT seen yet (v̂ = V + F₁(F₁−1)/(2(F₂+1)),
    defined even when doubletons are absent) and GT p₀ = F₁/N is the
    probability the next token is an unseen type — both standard
    curation signals for "is this source worth crawling deeper".

    One (source, token) hash aggregate to per-source frequency classes
    (map-side partials, spread before the explode), then |sources|-row
    algebra. Returns one row per source: (source, n_tokens, v_observed,
    f1, f2, chao1, gt_p0).
    """
    from lakehouse_architecture_spark.operators.partitioning import spread

    tok = spread(df).select(
        F.col(source_col).alias("source"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    freq = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_src = freq.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("v_observed"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    chao1 = F.col("v_observed") + (
        F.col("f1") * (F.col("f1") - 1).cast("double")
        / (2 * (F.col("f2") + 1))
    )
    return per_src.select(
        "source",
        "n_tokens",
        "v_observed",
        "f1",
        "f2",
        F.round(chao1, 6).alias("chao1"),
        F.round(F.col("f1").cast("double") / F.col("n_tokens"), 6).alias(
            "gt_p0"
        ),
    ).orderBy("source")


def log_odds_terms(
    df: DataFrame,
    group_col: str,
    text_col: str,
    group_a: str,
    group_b: str,
    alpha: float = 0.01,
    k: int = 15,
) -> DataFrame:
    """"Fightin' Words" log-odds with an informative Dirichlet prior
    (Monroe, Colaresi & Quinn 2008) — the principled replacement for
    raw-frequency "top distinctive terms" between two corpora (raw ratios
    explode on rare words; the prior α regularizes exactly them):
    δ_w = ln((y_aw+α)/(n_a+α₀−y_aw−α)) − ln((y_bw+α)/(n_b+α₀−y_bw−α)),
    σ²_w ≈ 1/(y_aw+α) + 1/(y_bw+α), ranked by z_w = δ_w/σ_w.

    One token hash aggregate to the pooled-vocabulary (word, y_a, y_b)
    table, algebra at vocabulary cardinality, top-``k`` by |z| (ROUNDED
    before ranking so sub-round noise can't decide the cut; word as the
    total-order tiebreak). α₀ = α·V with V the pooled vocabulary size.
    Returns k rows: (term, y_a, y_b, delta, z).
    """
    lab = F.when(F.col(group_col) == group_a, "a").when(
        F.col(group_col) == group_b, "b"
    )
    tok = (
        df.select(lab.alias("g"), tokens(text_col).alias("tk"))
        .filter(F.col("g").isNotNull())
        .select("g", F.explode("tk").alias("term"))
    )
    counts = tok.groupBy("term").agg(
        F.sum(F.when(F.col("g") == "a", 1).otherwise(0)).cast("long").alias("ya"),
        F.sum(F.when(F.col("g") == "b", 1).otherwise(0)).cast("long").alias("yb"),
    )
    tot = counts.agg(
        F.sum("ya").cast("long").alias("na"),
        F.sum("yb").cast("long").alias("nb"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    al = F.lit(float(alpha))
    a0 = al * F.col("v")
    num = lambda y, n: (y + al) / (n + a0 - y - al)  # noqa: E731
    delta = F.log(num(F.col("ya"), F.col("na"))) - F.log(
        num(F.col("yb"), F.col("nb"))
    )
    sig2 = 1 / (F.col("ya") + al) + 1 / (F.col("yb") + al)
    scored = counts.crossJoin(F.broadcast(tot)).select(
        "term",
        "ya",
        "yb",
        F.round(delta, 6).alias("delta"),
        F.round(delta / F.sqrt(sig2), 6).alias("z"),
    )
    return scored.orderBy(
        F.abs(F.col("z")).desc(), F.col("term").asc()
    ).limit(int(k))
