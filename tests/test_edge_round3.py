"""Edge-input behavior of the round-3 operators: degenerate corpora and
groups must yield empty/identity results, never errors."""

from lakehouse_architecture_spark.operators.features import loo_target_encode
from lakehouse_architecture_spark.operators.pq import pq_codebooks, pq_encode
from lakehouse_architecture_spark.operators.profiling import (
    key_skew_profile,
    ks_drift,
    pmi_collocations,
    source_overlap,
    vocab_coverage,
)


def test_pq_fewer_vectors_than_codebook(spark):
    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [2.0] * 8)], "vec_id long, embedding array<float>"
    )
    cb = pq_codebooks(df, m=4, ksub=16, iters=0)
    # codebook truncates to the available vectors, codes stay dense 0..1
    assert cb.count() == 4 * 2
    codes = pq_encode(df, cb, m=4)
    assert {tuple(r["codes"]) for r in codes.collect()} <= {(0, 0, 0, 0), (1, 1, 1, 1)}


def test_pmi_empty_after_min_count(spark):
    df = spark.createDataFrame(
        [("unique words only here",), ("nothing repeats twice",)], "text string"
    )
    assert pmi_collocations(df, "text", min_count=5, k=10).count() == 0


def test_ks_drift_single_value_group(spark):
    df = spark.createDataFrame(
        [("only", 1.0)], "event_type string, value double"
    )
    out = ks_drift(df).collect()
    assert len(out) == 1 and out[0]["ks_stat"] == 0.0


def test_source_overlap_single_source_empty(spark):
    df = spark.createDataFrame(
        [("a", "one two three four five six")], "source string, text string"
    )
    assert source_overlap(df).count() == 0


def test_vocab_coverage_empty_corpus(spark):
    df = spark.createDataFrame([("",), ("   ",)], "text string")
    assert vocab_coverage(df, "text").count() == 0


def test_key_skew_profile_empty_input(spark):
    df = spark.createDataFrame([], "user_id long")
    assert key_skew_profile(df, "user_id").count() == 0


def test_loo_encode_all_singletons_fall_back_to_global_mean(spark):
    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, "b", 4.0)], "id long, k string, y double"
    )
    out = {r["id"]: r["loo_encoding"] for r in loo_target_encode(df, "k", "y").collect()}
    assert out == {1: 3.0, 2: 3.0}


def test_loo_encode_keeps_null_key_rows(spark):
    out = loo_target_encode(
        spark.createDataFrame(
            [(1, "a", 2.0), (2, "a", 4.0), (3, None, 6.0)],
            "id long, k string, y double",
        ),
        "k",
        "y",
    )
    got = {r["id"]: r["loo_encoding"] for r in out.collect()}
    # NULL keys form their own (here singleton) group -> global mean
    assert set(got) == {1, 2, 3}
    assert got[3] == 4.0  # (2+4+6)/3
    assert got[1] == 4.0 and got[2] == 2.0


def test_ks_drift_null_groups_do_not_skew_bins(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), (None, 100.0), (None, 200.0)],
        "event_type string, value double",
    )
    out = ks_drift(df, nbins=20).collect()
    # null-group rows are excluded entirely: 'a' spans the full (1,2)
    # range instead of being squeezed into one bin by the 200 outlier
    assert len(out) == 1
    assert out[0]["event_type"] == "a" and out[0]["ks_stat"] == 0.0


def test_pq_mixed_dimension_vectors_excluded(spark):
    from lakehouse_architecture_spark.operators.pq import pq_adc_knn

    df = spark.createDataFrame(
        [(1, [1.0] * 16), (2, [2.0] * 16), (3, [9.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    cb = pq_codebooks(df, m=8, ksub=4, iters=0)
    codes = pq_encode(df, cb, m=8)
    # the 8-dim vector has no well-defined codes against a 16-dim codebook
    assert {r["vec_id"] for r in codes.collect()} == {1, 2}
    out = pq_adc_knn(codes, cb, [1.0] * 16, k=5)
    assert {r["vec_id"] for r in out.collect()} == {1, 2}


def test_pq_empty_codebooks_raise_cleanly(spark):
    import pytest

    from lakehouse_architecture_spark.operators.pq import pq_adc_knn

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        pq_codebooks(empty, m=4, ksub=4)
    cb = spark.createDataFrame([], "sub int, code long, cvec array<double>")
    with pytest.raises(ValueError, match="empty codebooks"):
        pq_encode(empty, cb, m=4)
    codes = spark.createDataFrame([], "vec_id long, codes array<int>")
    with pytest.raises(ValueError, match="empty codebooks"):
        pq_adc_knn(codes, cb, [1.0] * 4, k=5)


def test_versioned_table_constraints_check_staged_bytes(spark, tmp_path):
    import pytest

    from lakehouse_architecture_spark.pipeline.expectations import (
        ExpectationsViolated,
    )
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "vt"), keys=["k"])
    t.set_check_constraints({"pos": "v > 0"})
    with pytest.raises(ExpectationsViolated):
        t.write(spark.createDataFrame([(1, -1.0)], "k long, v double"))
    # the violating staging dir is cleaned up, nothing committed
    assert t.versions() == []
    import os

    assert os.listdir(str(tmp_path / "vt")) == ["_constraints.json"]
