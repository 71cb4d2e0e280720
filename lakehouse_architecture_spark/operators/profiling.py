"""Corpus- and workload-profiling operators.

The reference pipeline (``app/bronze.py``, ``app/sliver.py``) ingests and
cleans row-at-a-time; before training on the result at 100 TB you profile
it: which phrases are real collocations (PMI), how much one source's text
overlaps another's (shingle containment), whether a segment's value
distribution drifted (binned KS), a reproducible per-group audit sample, how
large a tokenizer vocabulary must be for a coverage target, and whether a
join key is skewed enough to need salting. Each operator is one or two
hash-aggregate shuffles over the full data followed by window/driver work on
a *small* derivative (bins, frequency classes, top-k) — never a global sort
or window over raw rows — so every plan survives a 1000-executor scale-up.

All outputs follow the determinism rules in queries/base.py (portable md5
hashing, identical IEEE expression order to the DuckDB oracles, rounded
doubles, total-order tiebreaks).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_architecture_spark.materialize import materialize_small

from lakehouse_architecture_spark.functions.hashing import md5_hash64
from lakehouse_architecture_spark.operators.buckets import bucket_pairs
from lakehouse_architecture_spark.operators.dedup import ngram_array
from lakehouse_architecture_spark.operators.text import tokens


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
    k: int = 30,
) -> DataFrame:
    """Top-k word bigrams by pointwise mutual information.

    PMI(x,y) = log2( p(xy) / (p(x)·p(y)) ) with p(xy) over the corpus bigram
    count and p(x) over the corpus unigram count. ``min_count`` drops
    hapax-ish bigrams whose PMI is all noise. Two hash-agg shuffles (bigram
    counts, unigram counts) + two small joins; the unigram side of the join
    is a vocabulary-sized table joined by key, and the totals are broadcast
    scalars — no all-pairs anywhere.
    """
    tk = df.select(tokens(text_col).alias("tk"))
    # vocab-sized aggregates referenced 3x (uni: totals + both join sides)
    # and 2x (bigc: survivors + totals) — checkpoint so the corpus is
    # tokenized exactly twice (unigram pass + bigram pass), not 5x
    uni = (
        tk.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = materialize_small(uni)
    bigc = (
        tk.filter(F.size("tk") >= 2)
        .select(F.explode(ngram_array(F.col("tk"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    bigc = materialize_small(bigc)
    # p(xy) is normalized by the count of ALL bigrams, not just the ones
    # surviving min_count — the filter prunes output rows, not the model
    big = bigc.filter(F.col("c_xy") >= min_count).select(
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
        "c_xy",
    )
    totals = uni.agg(
        F.sum("c").alias("n_uni"), F.count(F.lit(1)).alias("n_types")
    ).crossJoin(bigc.agg(F.sum("c_xy").alias("n_bi")))
    scored = (
        big.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log2(
                    (F.col("c_xy").cast("double") / F.col("n_bi"))
                    / (
                        (F.col("c_x").cast("double") / F.col("n_uni"))
                        * (F.col("c_y").cast("double") / F.col("n_uni"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    # order by the ROUNDED column: sub-round PMI differences must not decide
    # rank or the oracle's top-k can diverge at the cut line
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Pairwise shingle overlap between groups (sources): Jaccard +
    containment over each group's distinct word ``n``-gram set.

    Cross-source contamination / mirror detection: a high containment of a
    small source inside a big one means the small source is substantially
    re-crawled content. One distinct-aggregate on (group, shingle-hash), a
    self-equi-join on the 60-bit hash (≤ |groups| rows per hash value, so
    never quadratic in rows), and a broadcast of the per-group set sizes.
    """
    sh = (
        df.select(
            F.col(group_col).alias("g"), tokens(text_col).alias("tk")
        )
        .select("g", F.explode(ngram_array(F.col("tk"), n)).alias("shingle"))
        .filter(F.length("shingle") > 0)
        .select("g", md5_hash64(F.col("shingle")).alias("h"))
        .distinct()
    )
    sizes = sh.groupBy("g").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.select(F.col("g").alias("ga"), "h")
        .join(sh.select(F.col("g").alias("gb"), "h"), "h")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("g").alias("ga"), F.col("n_sh").alias("na"))),
            "ga",
        )
        .join(
            F.broadcast(sizes.select(F.col("g").alias("gb"), F.col("n_sh").alias("nb"))),
            "gb",
        )
        .select(
            F.col("ga").alias("source_a"),
            F.col("gb").alias("source_b"),
            "inter",
            "na",
            "nb",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("inter").cast("double") / F.least("na", "nb"), 6
            ).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


def ks_drift(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    nbins: int = 100,
) -> DataFrame:
    """Binned two-sample Kolmogorov–Smirnov distance of each group's value
    distribution against the pooled (overall) distribution.

    Distribution-drift screen for segment monitoring. Values are bucketed
    onto a fixed equi-width grid (one groupBy shuffle); the CDFs and the
    sup-distance run on the dense ``groups × nbins`` grid — thousands of
    rows however large the input, so the window work never scales with
    data. The exact (unbinned) KS needs a global sort; the binned statistic
    differs from it by at most the max per-bin mass and is the standard
    scale-out compromise.
    """
    # NULL groups are excluded UP FRONT: a null segment label can't join
    # the dense grid, so leaving those rows in would let them widen the
    # global bin range (skewing every real segment's CDF) while their own
    # mass silently vanished from the pooled distribution. Callers who
    # want unlabeled rows monitored should coalesce the label first.
    vals = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
    scal = vals.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = (
        vals.crossJoin(F.broadcast(scal))
        .select(
            "g",
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.floor(
                        (F.col("v") - F.col("lo"))
                        / (F.col("hi") - F.col("lo"))
                        * nbins
                    ).cast("int"),
                    F.lit(nbins - 1),
                )
            )
            .alias("bin"),
        )
        .groupBy("g", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # groups x nbins rows, referenced by the grid/pooled/joined subplans
    # below — materialized = ONE scan of the fact (plus the min/max
    # pass), not one per reference (tools/scan_audit.py)
    binned = materialize_small(binned)
    spark = df.sparkSession
    grid = (
        binned.select("g")
        .distinct()
        .crossJoin(
            spark.range(nbins).select(F.col("id").cast("int").alias("bin"))
        )
    )
    dense = grid.join(binned, ["g", "bin"], "left").select(
        "g", "bin", F.coalesce("c", F.lit(0)).alias("c")
    )
    wg = Window.partitionBy("g").orderBy("bin")
    cum = dense.withColumn("cum", F.sum("c").over(wg))
    totals = dense.groupBy("g").agg(F.sum("c").alias("n_g"))
    overall = (
        dense.groupBy("bin")
        .agg(F.sum("c").alias("c_all"))
        .withColumn("cum_all", F.sum("c_all").over(Window.orderBy("bin")))
        .crossJoin(F.broadcast(dense.agg(F.sum("c").alias("n_all"))))
    )
    return (
        cum.join(F.broadcast(totals), "g")
        .join(F.broadcast(overall.select("bin", "cum_all", "n_all")), "bin")
        .groupBy(F.col("g").alias(group_col))
        .agg(
            F.max("n_g").alias("n_events"),
            F.round(
                F.max(
                    F.abs(
                        F.col("cum").cast("double") / F.col("n_g")
                        - F.col("cum_all").cast("double") / F.col("n_all")
                    )
                ),
                6,
            ).alias("ks_stat"),
        )
        .orderBy(group_col)
    )


def sample_k_per_group(
    df: DataFrame, group_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Deterministic fixed-size sample per group: the ``k`` rows whose
    md5-hash of the id sorts lowest within the group (a seedless analogue of
    reservoir sampling that any engine reproduces bit-for-bit).

    One window shuffle partitioned BY GROUP — each group's rows sort
    locally, so the plan is skew-safe as long as single groups fit an
    executor; for pathological mega-groups compose with a pre-filter such as
    ``stratified_hash_sample`` (operators/curation.py) to cut the window
    input first.
    """
    h = md5_hash64(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    # all payload columns ride along: an audit sample you must re-join
    # against the corpus to inspect defeats its purpose (and costs a
    # second scan); the window shuffle carries the rows either way
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    targets: tuple[float, ...] = (0.5, 0.8, 0.9, 0.95),
) -> DataFrame:
    """Minimal vocabulary size reaching each token-coverage target.

    Tokenizer budget planning: "how many types cover 95 % of running
    tokens?". Computed from the *frequency-of-frequencies* table, not a
    global rank: token counts (shuffle 1) collapse to (count, n_types)
    classes (shuffle 2, thousands of rows at any corpus size), a window over
    descending count accumulates coverage, and the partial class at the
    boundary is closed exactly with a ceil — so there is no vocabulary-sized
    global sort/window anywhere in the plan.
    """
    tc = (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    classes = tc.groupBy("f").agg(F.count(F.lit(1)).alias("n_types"))
    w = Window.orderBy(F.col("f").desc())
    cum = (
        classes.select(
            "f",
            "n_types",
            (F.col("f") * F.col("n_types")).alias("toks"),
        )
        .withColumn("cum_toks", F.sum("toks").over(w))
        .withColumn("cum_types", F.sum("n_types").over(w))
    )
    totals = cum.agg(
        F.sum("toks").alias("n_tokens"), F.sum("n_types").alias("n_types_total")
    )
    tgt = df.sparkSession.createDataFrame(
        [(float(t),) for t in targets], "target double"
    )
    hit = (
        cum.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(tgt))
        .filter(
            (F.col("cum_toks").cast("double") >= F.col("target") * F.col("n_tokens"))
            & (
                (F.col("cum_toks") - F.col("toks")).cast("double")
                < F.col("target") * F.col("n_tokens")
            )
        )
    )
    return hit.select(
        "target",
        (
            (F.col("cum_types") - F.col("n_types"))
            + F.ceil(
                (
                    F.col("target") * F.col("n_tokens")
                    - (F.col("cum_toks") - F.col("toks")).cast("double")
                )
                / F.col("f")
            )
        ).alias("vocab_needed"),
        F.col("n_types_total").alias("total_types"),
        F.col("n_tokens").alias("total_tokens"),
    ).orderBy("target")


def key_skew_profile(df: DataFrame, key_col: str, top: int = 10) -> DataFrame:
    """Heavy-hitter diagnostics for a prospective join/aggregation key: the
    ``top`` heaviest keys with row share and cumulative share, plus the
    global skew factor max(key count) / mean(key count).

    The decision input for salting (operators/skew.py): skew_factor ≈ how
    many times slower the hottest shuffle partition runs than the average.
    One groupBy on the key; the top-k is a TakeOrdered (no global sort) and
    the window runs over just ``top`` rows on the driver-sized side.
    """
    kc = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = kc.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    topk = kc.orderBy(F.col("cnt").desc(), F.col("key").asc()).limit(top)
    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .withColumn("cum_cnt", F.sum("cnt").over(w))
        .crossJoin(F.broadcast(totals))
        .select(
            "rank",
            F.col("key").alias(key_col),
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n_rows"), 6).alias(
                "share"
            ),
            F.round(
                F.col("cum_cnt").cast("double") / F.col("n_rows"), 6
            ).alias("cum_share"),
            "n_keys",
            F.round(
                F.col("max_cnt").cast("double")
                / (F.col("n_rows").cast("double") / F.col("n_keys")),
                6,
            ).alias("skew_factor"),
        )
        .orderBy("rank")
    )


#: Poisson(1) inverse-CDF thresholds on a uniform integer u ∈ [0, 1e6):
#: k = |{t in thresholds : u >= t}| gives P(k) = e⁻¹/k! to 6 decimal
#: places (cumulative sums of e⁻¹·1/k! × 1e6, floored — frozen integer
#: literals so both engines compare exactly, no libm exp() involved).
POISSON1_THRESHOLDS = (367879, 735758, 919698, 981011, 996340, 999405)


def poisson_bootstrap_mean(
    df: DataFrame,
    id_expr,
    value_expr,
    n_resamples: int = 100,
    lo_rank: int = 3,
    hi_rank: int = 98,
) -> DataFrame:
    """Bootstrap confidence interval for a mean, the way it's done at
    100 TB: the POISSON bootstrap (Chamandy et al. 2012 / Efron's
    approximation). A classical resample draws n rows WITH replacement —
    a global multinomial that requires coordinating counts across every
    partition. Poisson(1) row weights are an n→∞-exact approximation that
    is embarrassingly parallel: each row independently decides how many
    times it appears in resample b from a hash of (row id, b), so the
    whole procedure is one explode + one hash-aggregate, and is fully
    deterministic/reproducible (no RNG state — reruns and the SQL oracle
    agree bit-for-bit).

    Returns one row: (n_resamples, point, lo, hi) where point is the
    plain sample mean and [lo, hi] are the lo_rank-th / hi_rank-th
    smallest of the resample means (defaults ≈ the 2.5th/97.5th
    percentile of 100 resamples; integer ranks, not interpolation, keep
    the estimator exactly portable). Ties in resample means break by
    resample index.

    Shuffle shape: the explode multiplies rows by n_resamples BEFORE the
    aggregate, but map-side partial aggregation collapses them to
    (n_resamples × partitions) partial rows — the shuffle carries the
    resample count, not the corpus multiple. Aggregate the input down to
    the analysis subset first; the window at the end orders n_resamples
    rows (driver-trivial).
    """
    rows = df.select(id_expr.cast("string").alias("__hid"), value_expr.cast("double").alias("__v"))
    expanded = rows.select(
        "__hid",
        "__v",
        F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias("b"),
    ).withColumn(
        "__u",
        md5_hash64(F.concat_ws("_", F.col("__hid"), F.col("b").cast("string")))
        % 1_000_000,
    )
    weight = sum(
        F.when(F.col("__u") >= t, 1).otherwise(0) for t in POISSON1_THRESHOLDS
    )
    means = (
        expanded.withColumn("__c", weight)
        .groupBy("b")
        .agg(
            (
                F.sum((F.col("__v") * F.col("__c")).cast("decimal(38,6)")).cast(
                    "double"
                )
                / F.sum("__c")
            ).alias("mean_b")
        )
    )
    rn = F.row_number().over(Window.orderBy("mean_b", "b"))
    ranked = means.select("mean_b", rn.alias("__rn"))
    point = df.select(
        (
            F.sum(value_expr.cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("point")
    )
    ci = ranked.agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.round(F.min(F.when(F.col("__rn") == lo_rank, F.col("mean_b"))), 4).alias("lo"),
        F.round(F.min(F.when(F.col("__rn") == hi_rank, F.col("mean_b"))), 4).alias("hi"),
    )
    return ci.crossJoin(F.broadcast(point)).select(
        "n_resamples", F.round("point", 4).alias("point"), "lo", "hi"
    )


def poisson_bootstrap_grouped(
    df: DataFrame,
    group_expr,
    value_expr,
    n_resamples: int = 100,
    lo_rank: int = 3,
    hi_rank: int = 98,
) -> DataFrame:
    """Group-level (cluster) Poisson bootstrap for a mean — the
    pre-aggregated form that makes :func:`poisson_bootstrap_mean`'s
    documented 100 TB contract ("aggregate to the analysis subset first")
    an operator instead of a discipline. One hash-aggregate collapses the
    input to (group, Σvalue, count) — the only corpus-sized step — then
    every resample weight applies to a GROUP row: mean_b =
    Σ_g w_{g,b}·sum_g / Σ_g w_{g,b}·cnt_g, so the bootstrap stage does
    B×|groups| work instead of B×|rows|.

    Statistically this is the cluster bootstrap: groups are resampled as
    units, which is the right inference when rows within a group are
    correlated (lines of one order, events of one user) — the row-level
    form underestimates the CI there. On inputs where every group is a
    single row with the same id, the two forms are bit-identical (the
    weight hash is the same (id, b) construction; parity-tested).

    Same determinism story as the row-level form: hash-derived Poisson(1)
    weights from the frozen integer thresholds, decimal-exact sums,
    integer-rank CI. Returns one row: (n_resamples, point, lo, hi) where
    point is the plain grand mean Σ sum_g / Σ cnt_g.
    """
    from lakehouse_architecture_spark.operators.partitioning import spread

    groups = (
        df.select(
            group_expr.cast("string").alias("__g"),
            value_expr.cast("double").alias("__v"),
        )
        .groupBy("__g")
        .agg(
            F.sum(F.col("__v").cast("decimal(38,6)")).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    # the collapse shuffle's output is small, so AQE coalesces it to very
    # few partitions — and the B× explode below would inherit that
    # parallelism (measured: the whole bootstrap stage on ONE task, 6×
    # slower than row-level at 30× amplification). Round-robin respread
    # ahead of the explode; the extra shuffle carries |groups| rows, the
    # stage it parallelizes carries B×|groups|.
    groups = spread(groups)
    expanded = groups.select(
        "__g",
        "__s",
        "__n",
        F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias("b"),
    ).withColumn(
        "__u",
        md5_hash64(F.concat_ws("_", F.col("__g"), F.col("b").cast("string")))
        % 1_000_000,
    )
    weight = sum(
        F.when(F.col("__u") >= t, 1).otherwise(0) for t in POISSON1_THRESHOLDS
    )
    means = (
        expanded.withColumn("__c", weight)
        .groupBy("b")
        .agg(
            (
                F.sum((F.col("__s") * F.col("__c")).cast("decimal(38,6)")).cast(
                    "double"
                )
                / F.sum(F.col("__n") * F.col("__c"))
            ).alias("mean_b")
        )
    )
    rn = F.row_number().over(Window.orderBy("mean_b", "b"))
    ranked = means.select("mean_b", rn.alias("__rn"))
    point = groups.agg(
        (
            F.sum(F.col("__s").cast("decimal(38,6)")).cast("double")
            / F.sum("__n")
        ).alias("point")
    )
    ci = ranked.agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.round(F.min(F.when(F.col("__rn") == lo_rank, F.col("mean_b"))), 4).alias("lo"),
        F.round(F.min(F.when(F.col("__rn") == hi_rank, F.col("mean_b"))), 4).alias("hi"),
    )
    return ci.crossJoin(F.broadcast(point)).select(
        "n_resamples", F.round("point", 4).alias("point"), "lo", "hi"
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    bin_width: float = 50.0,
    n_bins: int = 10,
    floor: float = 1e-4,
) -> DataFrame:
    """Population Stability Index between a reference and a current value
    distribution — the model-monitoring complement of the binned-KS drift
    screen (``ks_drift``): PSI = Σ_bins (p_cur − p_ref)·ln(p_cur / p_ref),
    with the conventional read 0.1 = moderate / 0.25 = major shift.

    Binning is FIXED literal arithmetic (``min(floor(v / bin_width),
    n_bins−1)``, negatives clamp to bin 0) — not data-derived quantiles —
    so the two sides and the SQL oracle bucket identically without any
    coordination pass. Each side costs one hash aggregate onto ≤ n_bins
    rows; the bin spine keeps zero-count bins in the sum, where the
    ``floor`` share (the standard epsilon) makes ln finite. Per-bin terms
    round to 9 dp then sum exactly in DECIMAL (the adamic_adar /
    determinism-rules discipline for libm-adjacent sums).

    Returns one row per bin plus the scalar would hide the shape — so
    (bin, p_ref, p_cur, term) rows AND a total row with bin = −1.
    """
    def shares(df: DataFrame, name: str) -> DataFrame:
        binned = df.select(
            F.least(
                F.greatest(F.floor(F.col(value_col) / bin_width).cast("int"), F.lit(0)),
                F.lit(n_bins - 1),
            ).alias("bin")
        )
        counts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("__n"))
        total = binned.agg(F.count(F.lit(1)).alias("__tot"))
        return counts.crossJoin(F.broadcast(total)).select(
            "bin", (F.col("__n").cast("double") / F.col("__tot")).alias(name)
        )

    spine = ref.sparkSession.range(0, n_bins).select(F.col("id").cast("int").alias("bin"))
    grid = (
        spine.join(shares(ref, "p_ref"), "bin", "left")
        .join(shares(cur, "p_cur"), "bin", "left")
        .select(
            "bin",
            F.greatest(F.coalesce("p_ref", F.lit(0.0)), F.lit(floor)).alias("p_ref"),
            F.greatest(F.coalesce("p_cur", F.lit(0.0)), F.lit(floor)).alias("p_cur"),
        )
    )
    terms = grid.select(
        "bin",
        F.round("p_ref", 6).alias("p_ref"),
        F.round("p_cur", 6).alias("p_cur"),
        F.round(
            (F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref")),
            9,
        ).alias("term"),
    )
    total = terms.agg(
        F.lit(-1).alias("bin"),
        F.lit(None).cast("double").alias("p_ref"),
        F.lit(None).cast("double").alias("p_cur"),
        F.round(F.sum(F.col("term").cast("decimal(38,12)")).cast("double"), 6).alias(
            "term"
        ),
    )
    return terms.unionByName(total)


def shingle_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-document novelty: the share of the document's distinct word
    n-gram shingles that appear in NO other document — the inverse lens
    of the dedup family (dup measures what is shared; novelty measures
    what is not), and a standard curriculum/quality signal: boilerplate
    scores ~0, original text ~1.

    Two hash aggregates on the 60-bit shingle hash (per-doc distinct set,
    then corpus document frequency) and one key join — the inverted-index
    shape of ngram_jaccard without the pair blow-up, so there is no
    quadratic stage to guard. Returns (id, n_shingles, n_unique,
    novelty) with novelty = n_unique / n_shingles rounded to 6.
    """
    from lakehouse_architecture_spark.operators.dedup import word_shingles

    sh = (
        word_shingles(df, id_col, text_col, n)
        .select("id", md5_hash64(F.col("shingle")).alias("h"))
    )
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    return (
        sh.join(dfreq, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_unique") / F.col("n_shingles"), 6),
        )
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact Spearman rank correlation (Spearman 1904): Pearson correlation
    of the AVERAGE ranks of x and y — the robust, monotone-association
    companion of q_exact_corr's Pearson. Average (midrank) tie handling:
    rank = min-rank + (ties − 1)/2, so every rank is an exact multiple of
    0.5 and the Pearson algebra runs on decimal-exact sums; the final ρ is
    the only double expression, identical on both engines.

    Input contract: a COLLAPSED series (daily/bucket grain) — the two
    global rank windows are single-task stages over |series| rows, the
    same deliberate shape as theil_sen/mann_kendall. Returns one row
    (n, rho).
    """
    pts = df.select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())

    def midrank(col: str) -> F.Column:
        w = Window.orderBy(F.col(col))
        t = Window.partitionBy(F.col(col))
        return (
            F.rank().over(w).cast("double")
            + (F.count(F.lit(1)).over(t).cast("double") - 1) / 2
        )

    ranked = pts.select(midrank("x").alias("rx"), midrank("y").alias("ry"))
    d = lambda c: F.col(c).cast("decimal(38,6)")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d("rx")).cast("double").alias("sx"),
        F.sum(d("ry")).cast("double").alias("sy"),
        F.sum((F.col("rx") * F.col("ry")).cast("decimal(38,6)")).cast("double").alias("sxy"),
        F.sum((F.col("rx") * F.col("rx")).cast("decimal(38,6)")).cast("double").alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast("decimal(38,6)")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "n", F.round(F.when(den > 0, num / den), 6).alias("rho")
    )


def transition_entropy(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Empirical conditional entropy of the event stream, H(next | prev) =
    −Σ_i p(i) Σ_j p(j|i) log₂ p(j|i) over consecutive per-user event
    pairs — the Markov-order-1 entropy RATE of user behavior (Shannon
    1948; the sequence-level counterpart of operators/text.token_entropy's
    per-document unigram entropy). Low bits ⇒ predictable journeys; the
    normalized form divides by log₂|states| (the i.i.d.-uniform ceiling).

    One per-user lag window + one |types|²-cardinality aggregate; each
    (p_ij · log₂ p_j|i) term is rounded to 9 dp and decimal-summed (the
    psi_drift discipline — libm's last ulp can differ between engines,
    the rounding absorbs it). Returns one row:
    (n_transitions, n_states, cond_entropy_bits, max_bits, normalized).
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    steps = df.select(
        F.lag(type_col).over(w).alias("prev"), F.col(type_col).alias("nxt")
    ).filter(F.col("prev").isNotNull())
    counts = steps.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("nij"))
    # |states| over the UNION of prev and nxt (ADVICE r12): a state seen
    # only as a successor — a terminal event type — still counts toward
    # the i.i.d.-uniform log2|states| ceiling; counting prev alone
    # understates max_bits and lets normalized exceed 1. The union runs
    # at |types|^2 cardinality (the already-collapsed counts table).
    states = (
        counts.select(F.col("prev").alias("s"))
        .unionByName(counts.select(F.col("nxt").alias("s")))
        .agg(F.count_distinct("s").alias("n_states"))
    )
    tot = counts.agg(F.sum("nij").alias("n_total"))
    prev_tot = counts.groupBy("prev").agg(F.sum("nij").alias("ni"))
    term = F.round(
        (F.col("nij").cast("double") / F.col("n_total"))
        * F.log2(F.col("nij").cast("double") / F.col("ni")),
        9,
    )
    h = (
        counts.join(F.broadcast(prev_tot), "prev")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(states))
        .agg(
            (-F.sum(term.cast("decimal(38,9)")).cast("double")).alias("h"),
            F.min("n_total").alias("n_transitions"),
            F.min("n_states").alias("n_states"),
        )
    )
    max_bits = F.log2(F.col("n_states").cast("double"))
    return h.select(
        "n_transitions",
        "n_states",
        F.round("h", 6).alias("cond_entropy_bits"),
        F.round(max_bits, 6).alias("max_bits"),
        F.round(F.col("h") / max_bits, 6).alias("normalized"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_points: int | None = 10_000,
) -> DataFrame:
    """Exact Kendall τ-b rank correlation (Kendall 1938) with the full
    tie correction: τ-b = (C − D) / √((n₀ − n₁)(n₀ − n₂)) where C/D are
    concordant/discordant pair counts, n₀ = n(n−1)/2, and n₁/n₂ are the
    per-value tie-pair sums of x and y. The companion of
    :func:`spearman_corr` (τ is more robust to outlying ranks) and of
    operators/timeseries.mann_kendall (whose S statistic is exactly
    C − D against time).

    Same input contract as the trend family: a COLLAPSED series — the
    pair join is O(|series|²) by construction, so the ``max_points``
    guard (bounded probe, ValueError, ``None`` opts out) blocks raw-row
    callers. Everything is exact integer arithmetic except the final τ.
    Returns one row: (n, n_pairs, concordant, discordant, tau_b).
    """
    pts = df.select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    if max_points is not None:
        from lakehouse_architecture_spark.operators.timeseries import (
            _enforce_collapsed_series,
        )

        _enforce_collapsed_series(pts, "kendall_tau_b", max_points)
    # a total order so each unordered pair is generated exactly once
    rn = F.row_number().over(Window.orderBy("x", "y"))
    p = materialize_small(pts.select("x", "y", rn.alias("rn")))
    a, b = p.alias("a"), p.alias("b")
    dx = F.signum(F.col("b.x") - F.col("a.x"))
    dy = F.signum(F.col("b.y") - F.col("a.y"))
    pair = a.join(b, F.col("a.rn") < F.col("b.rn")).agg(
        F.sum(F.when(dx * dy > 0, 1).otherwise(0)).cast("long").alias("concordant"),
        F.sum(F.when(dx * dy < 0, 1).otherwise(0)).cast("long").alias("discordant"),
    )

    def tie_pairs(col: str, alias: str):
        return (
            p.groupBy(col)
            .agg(F.count(F.lit(1)).alias("t"))
            .agg(
                F.coalesce(
                    F.sum(F.col("t") * (F.col("t") - 1)), F.lit(0)
                ).alias(alias)
            )
        )

    n_row = p.agg(F.count(F.lit(1)).alias("n"))
    joined = (
        pair.crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(tie_pairs("x", "tx2")))
        .crossJoin(F.broadcast(tie_pairs("y", "ty2")))
    )
    # n0/n1/n2 doubled throughout (t(t-1), n(n-1)) so all stay integers
    n0_2 = F.col("n") * (F.col("n") - 1)
    den = F.sqrt(
        (n0_2 - F.col("tx2")).cast("double") * (n0_2 - F.col("ty2")).cast("double")
    )
    return joined.select(
        "n",
        (n0_2 / 2).cast("long").alias("n_pairs"),
        "concordant",
        "discordant",
        F.round(
            F.when(den > 0, 2 * (F.col("concordant") - F.col("discordant")) / den),
            6,
        ).alias("tau_b"),
    )


def _bucketed_values(per_v: DataFrame, target_buckets: int) -> DataFrame:
    """The rank family's bucketed distinct-value table: pin ``per_v``
    once (idempotent by plan equality, so every caller in one query
    shares the same cache entry), derive the equi-depth boundary row
    (also pinned), and attach the monotone ``__bkt``. Shared by
    :func:`_bucketed_value_prefix` and :func:`wasserstein_1d`'s
    boundary-min table so the latter never re-executes the prefix's
    offsets join + window just to read per-bucket MINs (round 15).

    The BUCKETED result is itself pinned (round 16, VERDICT r15 #2): its
    consumers (the offsets aggregate and the main prefix join, plus
    wasserstein's boundary-min read) each re-ran the boundary broadcast
    attach + the log2(B) binary-search projections over the full
    distinct-value table — with the pin, ``__bkt`` is computed exactly
    once per query. Cost: a second cache entry of distinct-value
    cardinality (per_v + one bigint column, MEMORY_AND_DISK so it spills
    rather than OOMs, released per query with the other pins) — measured
    locally as the recovery of most of round 15's equi-depth fixed
    overhead. ``per_v``'s own pin stays: the boundary sampler and the
    bucketed build both read it, and without it the corpus aggregation
    would execute once per materialization instead of once."""
    from lakehouse_architecture_spark.operators.skew import (
        equidepth_boundaries,
        monotone_bucket,
    )

    if target_buckets < 2:
        raise ValueError(f"target_buckets must be >= 2: {target_buckets}")
    per_v = materialize_small(per_v)
    bnds = materialize_small(equidepth_boundaries(per_v, "v", target_buckets))
    return materialize_small(
        monotone_bucket(
            per_v.crossJoin(F.broadcast(bnds)), "v",
            target_buckets=target_buckets,
        ).drop("__bnd")
    )


def _bucketed_value_prefix(
    per_v: DataFrame,
    count_cols: list[str],
    target_buckets: int = 4096,
    _keep_bucket: bool = False,
    _attach_next_min: bool = False,
) -> DataFrame:
    """Shared scale core of :func:`mann_whitney_u` / :func:`ks_2samp_exact`:
    given a distinct-value table with one or more count columns, attach a
    running prefix sum OF EACH count column over value order — WITHOUT the
    single-task global window (for continuous values the distinct-value
    table is nearly row cardinality, so `Window.orderBy(v)` is the exact
    100 TB anti-pattern skew.two_phase_rank exists for). Bucketed
    two-phase form: per-bucket totals prefix-summed over the tiny
    |buckets| table (monotone in v, broadcastable by construction), plus
    an intra-bucket window partitioned by bucket. Integer counts, so the
    result is bit-identical to the global window. Emits one
    ``cum_<col>`` per count column (inclusive prefix).

    The boundaries are DATA-DERIVED (round 14, VERDICT r13 #1 — so a
    caller-guessed constant can neither collapse a tiny value range into
    ONE bucket nor inflate the "broadcastable" offsets table past
    ``target_buckets`` rows) and EQUI-DEPTH (round 15, VERDICT r14 #1 —
    replacing
    round 14's in-plan equi-width ``range / target_buckets``): a
    heavy-tailed or outlier-bearing value column (per-customer spend,
    the exact shape ``q_hill_tail`` measures) packs nearly every
    distinct value of an equi-width grid into bucket 0, degenerating the
    intra-bucket window back toward the single task this form exists to
    kill. ``skew.equidepth_boundaries`` derives the ``1/target_buckets``
    grid of the (pinned) distinct-value table IN-PLAN from a
    deterministic bottom-hash sample — a pinned 1-row array attached as
    a broadcast fold — and ``skew.monotone_bucket`` assigns by a
    two-level boundary count, so per-bucket occupancy tracks the
    distinct-value mass regardless of distribution shape. Assignment
    stays monotone with ties sharing a bucket, so the prefix is still
    bit-identical to the global window.

    Callers must pre-filter NaN alongside NULL (ADVICE r13): a NaN
    bucket key would silently drop those rows from the cum table while
    leaving them in pre-join totals."""
    # pin the collapsed table ONCE (round 14): this subtree is referenced
    # by the boundary quantiles, the offsets aggregate, and the main join
    # (plus successor lookups in wasserstein_1d) — without the persist
    # each reference re-runs the full corpus aggregation feeding it (the
    # round-6 scan-audit failure class; measured 18 live fact scans in
    # q_wasserstein's plan). The cached relation is distinct-value
    # cardinality — the same volume the aggregation already shuffles —
    # MEMORY_AND_DISK with lineage retained, so it spills rather than
    # OOMs and recomputes per-partition on executor loss. Released per
    # query by the round-15 pin lifecycle (materialize.release_small_pins).
    # ``_attach_next_min`` (round 16, VERDICT r15 #4, guide §2.4 — two
    # operations keyed the same way share one exchange): wasserstein's
    # bucket-boundary successor value is MIN(v) of the next non-empty
    # bucket — previously a SECOND groupBy("__bkt") aggregate over the
    # bucketed table plus its own lead window and broadcast join. The
    # offsets aggregate already groups by the identical key and already
    # rides a window ordered by __bkt, so the per-bucket min and its lead
    # fold into the same aggregate + the same Window operator, and the
    # existing offsets broadcast join carries ``__next_bucket_v`` back at
    # zero extra joins.
    wb = _bucketed_values(per_v, target_buckets)
    woff = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    extra_aggs = [F.min("v").alias("__bv")] if _attach_next_min else []
    extra_cols = (
        [F.lead("__bv").over(Window.orderBy("__bkt")).alias("__next_bucket_v")]
        if _attach_next_min
        else []
    )
    offsets = wb.groupBy("__bkt").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in count_cols], *extra_aggs
    ).select(
        F.col("__bkt").alias("__obkt"),
        *[
            F.coalesce(F.sum(f"__t_{c}").over(woff), F.lit(0)).alias(f"__off_{c}")
            for c in count_cols
        ],
        *extra_cols,
    )
    wint = Window.partitionBy("__bkt").orderBy("v")
    out = wb.join(
        F.broadcast(offsets), F.col("__bkt") == F.col("__obkt")
    )
    for c in count_cols:
        out = out.withColumn(
            f"cum_{c}", F.col(f"__off_{c}") + F.sum(c).over(wint)
        )
    dropped = ["__obkt", *[f"__off_{c}" for c in count_cols]]
    if not _keep_bucket:  # test seam: the >1-bucket fixture gate reads __bkt
        dropped.append("__bkt")
    return out.drop(*dropped)


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    target_buckets: int = 4096,
) -> DataFrame:
    """Exact Mann–Whitney U (Wilcoxon rank-sum, Mann & Whitney 1947)
    between two groups, with midrank tie handling and Cliff's delta as
    the effect size: U_a = R_a − n_a(n_a+1)/2 where R_a is the sum of
    pooled midranks of group a; δ = 2·U_a/(n_a·n_b) − 1 ∈ [−1, 1]
    (δ > 0 ⇒ a's values stochastically dominate b's).

    SCALE SHAPE: unlike scipy's sort-everything, the ranks are computed
    on the COLLAPSED (group, value) count table — one hash-agg at
    distinct-value cardinality — and, because continuous values collapse
    barely at all, the running rank uses the BUCKETED two-phase prefix
    (data-derived width over ``target_buckets`` buckets; see
    :func:`_bucketed_value_prefix`), never a single-task global window.
    midrank(v) = (# pooled values < v) + (ties(v)+1)/2; 2·midrank stays
    integer, so R_a and U are decimal-exact and the bucketing is
    bit-identical to the global form; δ is the only float. NaN values are
    excluded like NULLs (ADVICE r13: a NaN bucket key would silently drop
    rows post-totals). Returns one row: (n_a, n_b, u_a, u_b,
    cliffs_delta).
    """
    lab = F.when(F.col(group_col) == group_a, "a").when(
        F.col(group_col) == group_b, "b"
    )
    # ONE hash-aggregate straight to the per-value table (round 16, guide
    # §2.4): the former (g, v) pre-collapse added a full extra exchange +
    # aggregate pair for no reduction the v-keyed map-side partial
    # aggregation doesn't already provide — tv = COUNT(*) and
    # ca = SUM(g='a') over the same rows are integer-identical to summing
    # per-(g,v) counts (ks_2samp_exact and wasserstein_1d always had this
    # single-level shape).
    per_v = (
        df.select(lab.alias("g"), F.col(value_col).cast("double").alias("v"))
        .filter(F.col("g").isNotNull() & F.col("v").isNotNull() & ~F.isnan("v"))
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).alias("tv"),
            F.sum(F.when(F.col("g") == "a", 1).otherwise(0)).alias("ca"),
        )
    )
    # 2*midrank stays integer: 2*before + tv + 1
    mid = _bucketed_value_prefix(per_v, ["tv"], target_buckets).select(
        "tv",
        "ca",
        (2 * (F.col("cum_tv") - F.col("tv")) + F.col("tv") + F.lit(1)).alias(
            "mid2"
        ),
    )
    agg = mid.agg(
        F.sum("ca").cast("long").alias("n_a"),
        (F.sum("tv") - F.sum("ca")).cast("long").alias("n_b"),
        F.sum((F.col("mid2") * F.col("ca")).cast("decimal(38,0)")).alias("r2a"),
    )
    u_a = (F.col("r2a").cast("double") / 2) - (
        F.col("n_a") * (F.col("n_a") + 1) / 2
    )
    n_ab = (F.col("n_a") * F.col("n_b")).cast("double")
    return agg.select(
        "n_a",
        "n_b",
        F.round(u_a, 1).alias("u_a"),
        F.round(n_ab - u_a, 1).alias("u_b"),
        F.round(F.when(n_ab > 0, 2 * u_a / n_ab - 1), 6).alias("cliffs_delta"),
    )


def ks_2samp_exact(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    target_buckets: int = 4096,
) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov D between two groups — the
    unbinned companion of :func:`ks_drift` (whose 100-bin grid trades
    exactness for a fixed-size state; this one is exact because the scan
    collapses to DISTINCT values first, which is the full resolution of
    the ECDF): D = max over observed values of |F̂_a(v) − F̂_b(v)|.

    One hash-agg to (value, count_a, count_b) at distinct-value
    cardinality; the two running ECDF sums use the BUCKETED two-phase
    prefix (data-derived width over ``target_buckets``;
    :func:`_bucketed_value_prefix`) — for continuous values the distinct
    table is nearly row cardinality and a global ordered window would be
    one task at 100 TB. Integer cums, so bucketing is bit-identical; each
    ECDF step is an integer/integer division rounded to 9 dp before the
    max (the psi_drift discipline). NaN values are excluded like NULLs
    (ADVICE r13). Returns one row: (n_a, n_b, d).
    """
    lab = F.when(F.col(group_col) == group_a, "a").when(
        F.col(group_col) == group_b, "b"
    )
    per_v = (
        df.select(lab.alias("g"), F.col(value_col).cast("double").alias("v"))
        .filter(F.col("g").isNotNull() & F.col("v").isNotNull() & ~F.isnan("v"))
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("g") == "a", 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("g") == "b", 1).otherwise(0)).alias("cb"),
        )
    )
    tot = per_v.agg(
        F.sum("ca").cast("long").alias("n_a"), F.sum("cb").cast("long").alias("n_b")
    )
    steps = _bucketed_value_prefix(per_v, ["ca", "cb"], target_buckets).select(
        F.col("cum_ca").alias("cum_a"), F.col("cum_cb").alias("cum_b")
    ).crossJoin(F.broadcast(tot))
    gap = F.abs(
        F.round(F.col("cum_a").cast("double") / F.col("n_a"), 9)
        - F.round(F.col("cum_b").cast("double") / F.col("n_b"), 9)
    )
    return steps.groupBy("n_a", "n_b").agg(
        F.round(F.max(gap), 6).alias("d")
    )


def theil_index(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Theil T inequality index with its exact within/between-group
    decomposition (Theil 1967) — the additively-decomposable companion
    of q_gini (Gini does not decompose): T = (1/n)Σ(xᵢ/μ)ln(xᵢ/μ);
    T = Σ_g s_g·T_g + Σ_g s_g·ln(μ_g/μ) where s_g = group g's share of
    the total. Non-positive values are excluded (ln domain), counted in
    ``n_excluded``.

    Two corpus passes: one moment agg for (n, μ), one per-row term pass
    decimal-summed globally AND per group (|groups| cardinality tail).
    Every ln term is rounded to 9 dp before its decimal fold. Returns
    one row: (n, n_excluded, mean, theil_total, theil_within,
    theil_between).
    """
    x = F.col(value_col).cast("double")
    base = df.select(F.col(group_col).alias("g"), x.alias("x"))
    pos = base.filter(F.col("x") > 0)
    # excluded count computed IN-PLAN (no eager driver action): one
    # moment agg over the unfiltered input carries both totals. The final
    # row is ANCHORED on this 1-row agg (ADVICE r13): an all-excluded
    # input (every value non-positive) must still yield the documented
    # single row (n=0, n_excluded=N, NULL stats) — n_excluded is the
    # interesting output exactly then — not an empty DataFrame.
    mu_row = base.agg(
        F.sum(F.when(F.col("x") > 0, 1).otherwise(0)).cast("long").alias("n"),
        (F.count(F.lit(1)) - F.sum(F.when(F.col("x") > 0, 1).otherwise(0)))
        .cast("long")
        .alias("n_excluded"),
        (
            F.sum(
                F.when(F.col("x") > 0, F.col("x")).cast("decimal(38,6)")
            ).cast("double")
            / F.sum(F.when(F.col("x") > 0, 1).otherwise(0))
        ).alias("mu"),
    )
    mu_row = materialize_small(mu_row)
    with_mu = pos.crossJoin(F.broadcast(mu_row))
    term = F.round(
        (F.col("x") / F.col("mu")) * F.log(F.col("x") / F.col("mu")), 9
    ).cast("decimal(38,9)")
    per_g = with_mu.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"),
        (
            F.sum(F.col("x").cast("decimal(38,6)")).cast("double")
        ).alias("s_g"),
        F.sum(term).cast("double").alias("t_g_sum"),
        F.min("n").alias("n"),
        F.min("mu").alias("mu"),
    )
    # share s = group total / grand total; T_g re-centers the global-mu
    # terms onto the group mean: ln(x/mu_g) = ln(x/mu) - ln(mu_g/mu), and
    # sum(x/(n_g*mu_g)) = 1, so T_g = (mu/mu_g)*(t_g_sum/n_g) - ln(mu_g/mu)
    mean_g = F.col("s_g") / F.col("n_g")
    share = F.col("s_g") / (F.col("n") * F.col("mu"))
    t_g = (F.col("mu") / mean_g) * (F.col("t_g_sum") / F.col("n_g")) - F.log(
        mean_g / F.col("mu")
    )
    rows = per_g.select(
        F.round(F.col("t_g_sum") / F.col("n"), 9)
        .cast("decimal(38,9)")
        .alias("tot_part"),
        F.round(share * t_g, 9).cast("decimal(38,9)").alias("within_part"),
        F.round(share * F.log(mean_g / F.col("mu")), 9)
        .cast("decimal(38,9)")
        .alias("between_part"),
    )
    # grouped-less agg: ALWAYS one row (NULL sums when per_g is empty),
    # so the mu_row anchor below emits the documented single row even
    # when every value was excluded
    parts = rows.agg(
        F.round(F.sum("tot_part").cast("double"), 6).alias("theil_total"),
        F.round(F.sum("within_part").cast("double"), 6).alias("theil_within"),
        F.round(F.sum("between_part").cast("double"), 6).alias("theil_between"),
    )
    return mu_row.select(
        "n", "n_excluded", F.round("mu", 6).alias("mean")
    ).crossJoin(F.broadcast(parts))


def jensen_shannon_pairs(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Pairwise Jensen–Shannon divergence (in bits, Lin 1991) between
    every pair of groups over an equi-width binning of ``value_col`` —
    the symmetric, always-finite drift metric next to :func:`psi_drift`
    (PSI explodes on empty bins; JSD's mixture midpoint never does):
    JSD(p,q) = ½·KL(p‖m) + ½·KL(q‖m), m = (p+q)/2; 0 ≤ JSD ≤ 1 bit.

    One scan bins values against the global (min, max) (one broadcast
    1-row agg), one hash-agg to (group, bin) shares, then a bin-equijoin
    of the |groups|·|bins| share table against itself (group_a <
    group_b). Every p·log₂(p/m) term is rounded to 9 dp and
    decimal-summed. Returns (group_a, group_b, jsd_bits) per pair.
    """

    def term(pa: Column, pb: Column) -> Column:
        m = (pa + pb) / 2
        # sum the UNHALVED 9-dp-rounded terms (a 9-dp value halved gains a
        # 10th-digit tie that HALF_UP/binary rounding resolve differently
        # across engines — caught live at sf0.1); the final x0.5 on the
        # decimal-exact sum is an exact binary operation in both engines
        return F.when(pa > 0, F.round(pa * F.log2(pa / m), 9)).otherwise(
            0
        ) + F.when(pb > 0, F.round(pb * F.log2(pb / m), 9)).otherwise(0)

    return (
        _binned_pair_terms(df, group_col, value_col, n_bins, term)
        .groupBy("group_a", "group_b")
        .agg(
            F.round(F.sum("t").cast("double") * 0.5, 6).alias("jsd_bits")
        )
        .orderBy("group_a", "group_b")
    )


def _binned_pair_terms(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int,
    term: Callable[[Column, Column], Column],
) -> DataFrame:
    """One (group_a < group_b, t) row per pair of groups per bin, with
    t = ``term(p_a, p_b)`` as DECIMAL(38,9) over the equi-width bin
    shares: the shared plan of :func:`jensen_shannon_pairs` and
    :func:`bhattacharyya_pairs`, which differ only in the term."""
    v = F.col(value_col).cast("double")
    vals = df.select(F.col(group_col).alias("g"), v.alias("v")).filter(
        F.col("g").isNotNull() & F.col("v").isNotNull()
    )
    scal = materialize_small(vals.agg(F.min("v").alias("lo"), F.max("v").alias("hi")))
    binned = vals.crossJoin(F.broadcast(scal)).select(
        "g",
        F.when(F.col("hi") == F.col("lo"), 0)
        .otherwise(
            F.least(
                F.floor(
                    (F.col("v") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * n_bins
                ).cast("int"),
                F.lit(n_bins - 1),
            )
        )
        .alias("bin"),
    )
    counts = binned.groupBy("g", "bin").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("g").agg(F.sum("c").alias("n_g"))
    shares = materialize_small(
        counts.join(tot, "g").select(
            "g", "bin", (F.col("c").cast("double") / F.col("n_g")).alias("p")
        )
    )
    # densify to the groups x observed-bins grid (ks_drift's trick) so a
    # bin one group lacks contributes share 0 instead of silently
    # disappearing from the pair join — |groups|·|bins| rows, tiny
    dense = (
        shares.select("g").distinct()
        .crossJoin(shares.select("bin").distinct())
        .join(shares, ["g", "bin"], "left")
        .select("g", "bin", F.coalesce("p", F.lit(0.0)).alias("p"))
    )
    return bucket_pairs(dense, "bin", id_col="g").select(
        F.col("a.g").alias("group_a"),
        F.col("b.g").alias("group_b"),
        term(F.col("a.p"), F.col("b.p")).cast("decimal(38,9)").alias("t"),
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    target_buckets: int = 4096,
) -> DataFrame:
    """EXACT 1-D Wasserstein-1 (earth mover's) distance between two
    groups — the integral companion of :func:`ks_2samp_exact` (KS is the
    SUP of the ECDF gap; W₁ is its integral, so it sees the whole shape
    difference, not just the worst point):
    W₁ = Σ over consecutive distinct values v_i < v_{i+1} of
    |F̂_a(v_i) − F̂_b(v_i)| · (v_{i+1} − v_i).

    SCALE SHAPE: one hash-agg to the (value, count_a, count_b) distinct
    table, running ECDFs through the BUCKETED two-phase prefix
    (:func:`_bucketed_value_prefix`, data-derived width) — and the
    successor value v_{i+1} is ALSO bucket-local: lead(v) inside the
    bucket, with the last row of each bucket handed the next non-empty
    bucket's MIN(v) via a broadcast of the |buckets|-row boundary table.
    No global ordered window anywhere. Each ECDF step is rounded to 9 dp
    (psi_drift discipline), each segment term to 9 dp before its decimal
    fold. Returns one row: (n_a, n_b, w1). NaN excluded like NULL.
    """
    lab = F.when(F.col(group_col) == group_a, "a").when(
        F.col(group_col) == group_b, "b"
    )
    per_v = (
        df.select(lab.alias("g"), F.col(value_col).cast("double").alias("v"))
        .filter(F.col("g").isNotNull() & F.col("v").isNotNull() & ~F.isnan("v"))
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("g") == "a", 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("g") == "b", 1).otherwise(0)).alias("cb"),
        )
    )
    tot = per_v.agg(
        F.sum("ca").cast("long").alias("n_a"), F.sum("cb").cast("long").alias("n_b")
    )
    # successor value: intra-bucket lead, bucket-boundary handoff from the
    # next non-empty bucket's MIN(v). Round 16 (guide §2.4): the per-bucket
    # min and its lead ride the SAME offsets aggregate + window the prefix
    # already computes (``_attach_next_min``) — round 15's separate
    # boundary-min aggregate (a second groupBy("__bkt") scan of the
    # bucketed table, its own lead window, and a second broadcast join)
    # collapsed into the exchange that was already there. Per-bucket
    # min(v) is determined by the bucketed table either way, so the
    # handoff values are identical.
    steps = _bucketed_value_prefix(
        per_v, ["ca", "cb"], target_buckets,
        _keep_bucket=True, _attach_next_min=True,
    )
    wnext = Window.partitionBy("__bkt").orderBy("v")
    seg = (
        steps.withColumn("__v_in", F.lead("v").over(wnext))
        .withColumn("__v_next", F.coalesce("__v_in", "__next_bucket_v"))
        .crossJoin(F.broadcast(tot))
    )
    gap = F.abs(
        F.round(F.col("cum_ca").cast("double") / F.col("n_a"), 9)
        - F.round(F.col("cum_cb").cast("double") / F.col("n_b"), 9)
    )
    term = F.round(gap * (F.col("__v_next") - F.col("v")), 9).cast(
        "decimal(38,9)"
    )
    return seg.groupBy("n_a", "n_b").agg(
        # coalesce: a single distinct value has no successor segment —
        # the distance is genuinely 0, not NULL. Gated on BOTH groups
        # being non-empty (round 15, ADVICE r14): with n_a or n_b = 0
        # every ECDF gap is NULL (divide by zero) and the old
        # unconditional coalesce reported w1 = 0 — "distributions
        # identical" — for a nonexistent group; NULL matches
        # ks_2samp_exact's d in the same case.
        F.round(
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                F.coalesce(F.sum(term), F.lit(0)),
            ).cast("double"),
            6,
        ).alias("w1")
    )


def hill_tail_exponent(
    df: DataFrame,
    value_col: str,
    xmin: float,
) -> DataFrame:
    """Hill (1975) MLE of a power-law tail exponent over the values above
    a FIXED threshold ``xmin``: α̂ = 1 + k / Σ ln(xᵢ/xmin) — the standard
    heavy-tail estimator for spend / document-length / degree
    distributions (a Zipf-profile companion that yields one calibrated
    number instead of a curve).

    One filtered moment aggregate: each ln term rounded to 9 dp and
    decimal-summed so both engines fold identically. ``xmin`` is a caller
    literal (data-derived thresholds would make the estimate
    non-reproducible across samples — callers pick the tail they mean).
    Returns one row: (k, xmin, alpha) — alpha NULL when the tail is
    empty or the log-sum is 0 (all values == xmin).
    """
    if xmin <= 0:
        raise ValueError(f"xmin must be positive: {xmin}")
    x = F.col(value_col).cast("double")
    tail = df.filter(x > xmin).select(
        F.round(F.log(x / F.lit(float(xmin))), 9)
        .cast("decimal(38,9)")
        .alias("t")
    )
    agg = tail.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("t").cast("double").alias("s"),
    )
    return agg.select(
        "k",
        F.lit(float(xmin)).alias("xmin"),
        F.round(
            F.when(F.col("s") > 0, 1 + F.col("k") / F.col("s")), 6
        ).alias("alpha"),
    )


def bhattacharyya_pairs(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Pairwise Bhattacharyya coefficient and distance (Bhattacharyya
    1943) between every pair of groups over an equi-width binning —
    :func:`jensen_shannon_pairs`' geometric-mean companion (BC measures
    distribution OVERLAP: 1 = identical, 0 = disjoint; D_B = −ln BC):
    BC(p,q) = Σ_i √(p_i·q_i).

    Identical scale shape to JSD: one global (min, max) 1-row agg, one
    hash-agg to (group, bin) shares, densified to the groups × bins grid,
    bin-equijoined pairwise (group_a < group_b). Each √(p·q) term is
    rounded to 9 dp and decimal-summed. Returns (group_a, group_b,
    bc, d_b) per pair; d_b NULL when BC rounds to 0 (disjoint supports).
    """
    return (
        _binned_pair_terms(
            df, group_col, value_col, n_bins,
            lambda pa, pb: F.round(F.sqrt(pa * pb), 9),
        )
        .groupBy("group_a", "group_b")
        .agg(
            F.round(F.sum("t").cast("double"), 6).alias("bc"),
            F.round(
                F.when(
                    F.sum("t") > 0, -F.log(F.sum("t").cast("double"))
                ),
                6,
            ).alias("d_b"),
        )
        .orderBy("group_a", "group_b")
    )
