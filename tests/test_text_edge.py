"""Edge cases for text operators: empty/whitespace/punctuation-only text."""

import pytest
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.dedup import simhash, word_shingles
from lakehouse_architecture_spark.operators.text import (
    char_stats,
    fingerprint,
    language_id,
    quality_score,
    token_count,
)

EDGE_ROWS = [
    (1, ""),
    (2, "   "),
    (3, "!!!"),
    (4, "one"),
    (5, "the the the"),
]


def _df(spark):
    return spark.createDataFrame(EDGE_ROWS, "doc_id int, text string")


def test_token_count_edges(spark):
    out = {
        r["doc_id"]: r["n"]
        for r in _df(spark).select("doc_id", token_count("text").alias("n")).collect()
    }
    assert out == {1: 0, 2: 0, 3: 1, 4: 1, 5: 3}


def test_char_stats_and_quality_no_nulls(spark):
    stats = char_stats(_df(spark)).collect()
    assert all(r["n_tokens"] is not None for r in stats)
    q = quality_score(_df(spark)).collect()
    assert all(r["quality"] is not None for r in q)
    empty = next(r for r in q if r["doc_id"] == 1)
    assert empty["mean_word_len"] == 0.0 and empty["stopword_ratio"] == 0.0


def test_language_id_edges(spark):
    out = {r["doc_id"]: r["pred_lang"] for r in language_id(_df(spark)).collect()}
    assert out[1] == "und" and out[2] == "und"  # no markers -> undetermined
    assert out[5] == "en"


def test_fingerprint_normalization_equivalence(spark):
    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "HELLO ... world")],
        "doc_id int, text string",
    )
    fps = [r["fp"] for r in fingerprint(df).collect()]
    assert fps[0] == fps[1] == fps[2]  # same after normalization


def test_shingles_and_simhash_short_docs(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "")], "doc_id int, text string")
    sh = word_shingles(df, "doc_id", "text", 3).collect()
    # a shorter-than-n doc has NO n-shingles (a truncated partial shingle
    # would give it a spurious similarity signature)
    assert sh == []
    sims = simhash(df, "doc_id", "text")
    assert {r["id"] for r in sims.collect()} == {1}  # empty doc has no tokens


def test_winnow_guarantee_and_short_doc(spark):
    from lakehouse_architecture_spark.operators.text import winnow_fingerprints

    shared = "zqxjkvbwp_COMMON_RUN_zzqqxxjj"  # len 29 >= k+w-1
    df = spark.createDataFrame(
        [
            (1, "aaa " + shared + " bbb"),
            (2, "ccc ddd " + shared),
            (3, "unrelated totally different text here"),
            (4, "tiny"),  # < k+w-1: must produce no rows, not a crash
        ],
        "doc_id int, text string",
    )
    fps = winnow_fingerprints(df, "doc_id", "text", k=8, w=4)
    by_doc = {
        r["id"]: set(x["fp"] for x in rows)
        for r in fps.select("id").distinct().collect()
        for rows in [fps.filter(fps.id == r["id"]).collect()]
    }
    # winnowing guarantee: a shared substring of length >= k+w-1 shares a fp
    assert by_doc[1] & by_doc[2]
    assert 4 not in by_doc
    # fingerprints are not all shared with the unrelated doc
    assert not (by_doc[1] & by_doc[3])


@pytest.mark.parametrize("generator", ["ngram_jaccard_pairs", "containment_pairs"])
def test_ngram_jaccard_max_df_drops_boilerplate_pairs(spark, generator):
    from lakehouse_architecture_spark.operators import dedup

    pairs = getattr(dedup, generator)
    boiler = "standard legal footer applies to every document here"
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa " + boiler),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa " + boiler),  # near-dup of 1
            (3, "one two three four five " + boiler),  # shares only boilerplate
            (4, "six seven eight nine ten " + boiler),
        ],
        "doc_id int, text string",
    )
    exact = pairs(df, "doc_id", "text", n=3, threshold=0.3)
    capped = pairs(df, "doc_id", "text", n=3, threshold=0.3, max_df=3)
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    # boilerplate-only pairs qualify without the cap, vanish with it
    assert (3, 4) in exact_pairs
    assert (3, 4) not in capped_pairs
    # the genuine near-dup survives the cap
    assert (1, 2) in capped_pairs


def test_stratified_sample_deterministic_under_repartition(spark):
    from lakehouse_architecture_spark.operators.curation import stratified_hash_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(300)], "doc_id long, lang string"
    )
    pick = lambda d: {r["doc_id"] for r in stratified_hash_sample(
        d, "lang", "doc_id", {"en": 0.5}, default_fraction=0.25).collect()}
    s1 = pick(df)
    s2 = pick(df.repartition(7))  # layout must not change the sample
    assert s1 == s2 and 0 < len(s1) < 300


def test_pack_token_budget_boundary(spark):
    from lakehouse_architecture_spark.operators.curation import pack_token_budget

    df = spark.createDataFrame(
        [(1, "en", 60, 9.0), (2, "en", 30, 8.0), (3, "en", 30, 7.0), (4, "de", 200, 1.0)],
        "doc_id long, lang string, n_tok long, q double",
    )
    kept = pack_token_budget(df, "lang", "n_tok", "q", "doc_id", budget=100)
    rows = {r["doc_id"]: r["running_tokens"] for r in kept.collect()}
    # en: 60 (q9) + 30 (q8) = 90 fits; doc 3 would reach 120 > 100 -> dropped
    # de: single 200-token doc exceeds the budget outright
    assert rows == {1: 60, 2: 90}


def test_frame_sample_byte_framing_non_ascii(spark):
    """Spark frames the payload by BYTES; the DuckDB oracle must agree on
    non-ASCII text where byte length != char count (é is 2 UTF-8 bytes)."""
    import duckdb

    from lakehouse_architecture_spark.operators.multimodal import sample_frames
    from lakehouse_architecture_spark.queries.textops import _Q_FRAME_SAMPLE_SQL

    text = "héllo wörld ünïcode" * 12  # 228 chars, 288 bytes
    assert len(text.encode()) != len(text)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = sorted(
        (r["frame_index"], r["frame_offset"], r["frame_len"], r["frame_head"])
        for r in sample_frames(
            df.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
            "payload", frame_bytes=64, every_k=2,
        ).collect()
    )
    con = duckdb.connect()
    con.register("documents", __import__("pandas").DataFrame({"doc_id": [1], "text": [text]}))
    want = sorted(
        (fi, off, fl, fh)
        for _, fi, off, fl, fh in con.sql(_Q_FRAME_SAMPLE_SQL).fetchall()
    )
    assert got == want and len(got) == 3  # ceil(288/64)=5 frames, every 2nd


def test_decontaminate_flags_benchmark_overlap(spark):
    from lakehouse_architecture_spark.operators.curation import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id int, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # verbatim benchmark copy
            (2, "prefix words alpha beta gamma suffix"),  # one shared 3-gram
            (3, "totally unrelated clean document text"),
        ],
        "doc_id int, text string",
    )
    hits = {r["id"]: r["n_overlap"] for r in decontaminate(
        docs, bench, "doc_id", "text", n=3, min_overlap=1).collect()}
    assert hits[1] == 4          # 6 tokens -> 4 shingles, all shared
    assert hits[2] == 1
    assert 3 not in hits
    strict = {r["id"] for r in decontaminate(
        docs, bench, "doc_id", "text", n=3, min_overlap=2).collect()}
    assert strict == {1}         # the single-shingle graze survives the screen


def test_repetition_stats_gopher_rule(spark):
    from lakehouse_architecture_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),        # one distinct 3-gram
            (2, "all words here are fully distinct ok"),
            (3, "a b"),                                   # < n tokens
        ],
        "doc_id int, text string",
    )
    out = {r["id"]: r for r in repetition_stats(df, "doc_id", "text", n=3).collect()}
    assert out[1]["n_ngrams"] == 4 and out[1]["n_distinct"] == 1
    assert out[1]["dup_frac"] == 0.75
    assert out[2]["dup_frac"] == 0.0 and out[2]["n_distinct"] == out[2]["n_ngrams"]
    assert out[3]["n_ngrams"] == 0 and out[3]["dup_frac"] == 0.0


def test_shard_manifest_deterministic_and_dense(spark):
    from lakehouse_architecture_spark.operators.curation import shard_manifest

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    m1 = {(r["doc_id"]): (r["shard"], r["pos"]) for r in shard_manifest(df, "doc_id", 8).collect()}
    m2 = {(r["doc_id"]): (r["shard"], r["pos"]) for r in shard_manifest(
        df.repartition(13), "doc_id", 8).collect()}
    assert m1 == m2                       # layout-independent manifest
    shards = {}
    for shard, pos in m1.values():
        assert 0 <= shard < 8
        shards.setdefault(shard, []).append(pos)
    for positions in shards.values():     # positions dense from 1 per shard
        assert sorted(positions) == list(range(1, len(positions) + 1))
    sizes = sorted(len(v) for v in shards.values())
    assert sizes[0] > 0                   # hash-balanced: every shard used


def test_mix_rebalance_hits_target_proportions(spark):
    """The limiting stratum keeps everything; others downsample toward the
    target weights; unlisted strata drop entirely."""
    from lakehouse_architecture_spark.operators.curation import mix_rebalance

    rows = [(i, "a" if i < 1000 else ("b" if i < 1500 else "c")) for i in range(2000)]
    df = spark.createDataFrame(rows, ["id", "src"])
    # b is limiting: T = min(1000/0.4, 500/0.4) = 1250 -> a keeps 500, b 500
    out = mix_rebalance(df, "src", "id", {"a": 0.4, "b": 0.4}).cache()
    by = {r.src: r.n for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "c" not in by
    assert by["b"] == 500  # limiting stratum keeps all
    assert abs(by["a"] - 500) < 40  # hash-ticket sampling, ~1e-6 resolution
    # deterministic: same call, same rows
    again = mix_rebalance(df, "src", "id", {"a": 0.4, "b": 0.4})
    assert {r.id for r in out.collect()} == {r.id for r in again.collect()}


def test_heuristic_flags_rules(spark):
    from lakehouse_architecture_spark.operators.text import heuristic_flags

    good = " ".join(f"word{i}" for i in range(60))
    rows = [
        (1, good),                                   # passes gopher, passes c4
        (2, "short doc"),                            # < 50 words
        (3, good + " {code}"),                       # curly -> c4
        (4, "Lorem Ipsum " + good),                  # lorem -> c4
        (5, " ".join(["###"] * 60)),                 # symbols, no alpha
        (6, "\n".join(["- item " + str(i) for i in range(60)])),  # bullets
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.fails_gopher, r.fails_c4) for r in heuristic_flags(df).collect()}
    assert got[1] == (False, False)
    assert got[2][0] is True
    assert got[3] == (False, True)
    assert got[4] == (False, True)
    assert got[5][0] is True
    assert got[6][0] is True  # >90% bullet lines
    # empty text: flagged, not a divide-by-zero crash
    empty = heuristic_flags(spark.createDataFrame([(9, "")], ["doc_id", "text"]))
    r = empty.collect()[0]
    assert r.fails_gopher is True and r.mean_word_len is None


def test_chunk_documents_windows_and_edges(spark):
    from lakehouse_architecture_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [
            (1, " ".join(str(i) for i in range(10))),  # 2 chunks (stride 6)
            (2, "a b c"),                               # short: 1 chunk
            (3, ""),                                    # empty: 0 chunks
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["chunk_index"]): (r["chunk_start"], r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(df, chunk_tokens=8, overlap=2).collect()
    }
    assert got[(1, 0)] == (0, 8, "0 1 2 3 4 5 6 7")
    assert got[(1, 1)] == (6, 4, "6 7 8 9")  # overlap of 2 with chunk 0
    assert got[(2, 0)] == (0, 3, "a b c")
    assert all(k[0] != 3 for k in got)
    import pytest

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_perceptual_hash_neardup_pairs(spark):
    from lakehouse_architecture_spark.operators.dedup import banded_hamming_pairs
    from lakehouse_architecture_spark.operators.multimodal import (
        perceptual_hash_fake,
    )

    blob = bytes(range(200))
    near = bytes([b if i != 100 else 250 for i, b in enumerate(blob)])
    df = spark.createDataFrame(
        [(1, blob), (2, blob), (3, near), (4, bytes(reversed(blob))), (5, b"")],
        "img_id long, payload binary",
    )
    ph = perceptual_hash_fake(df, "payload")
    got = {r["img_id"]: r["phash"] for r in ph.collect()}
    assert got[1] == got[2] and got[5] is None
    assert got[1] != got[4]
    # payload pruned from the output (shuffle hygiene)
    assert "payload" not in ph.columns

    pairs = banded_hamming_pairs(
        ph.filter("phash is not null"), "img_id", "phash", 60, 4, 3
    )
    got_pairs = sorted((r.id_a, r.id_b, r.hamming) for r in pairs.collect())
    # identical -> 0; one flipped byte -> 1 gradient bit; reversed -> no pair
    assert got_pairs == [(1, 2, 0), (1, 3, 1), (2, 3, 1)]
