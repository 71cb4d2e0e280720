"""The bucket self-join kernel and hot-key guard every pair generator uses."""

from collections import Counter

from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.buckets import (
    bucket_pairs,
    drop_hot_keys,
    hot_keys,
)


def _pairs(spark, rows, key, id_col="id"):
    df = spark.createDataFrame(rows, f"{id_col} int, band int, sig string")
    out = bucket_pairs(df, key, id_col).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    return Counter((r.id_a, r.id_b) for r in out.collect())


def test_pair_appears_once_per_shared_key(spark):
    # ids 1 and 2 share two (band, sig) buckets; minhash_lsh_candidates
    # counts n_shared_bands from exactly this multiplicity
    rows = [(2, 0, "x"), (1, 0, "x"), (1, 1, "y"), (2, 1, "y"), (3, 1, "z")]
    assert _pairs(spark, rows, ["band", "sig"]) == {(1, 2): 2}


def test_no_self_pairs_and_lower_id_on_a_side(spark):
    rows = [(i, 0, "k") for i in (5, 3, 9, 1)] + [(7, 0, "other")]
    got = _pairs(spark, rows, "sig")
    assert all(a < b for a, b in got)
    assert set(got) == {(1, 3), (1, 5), (1, 9), (3, 5), (3, 9), (5, 9)}
    assert set(got.values()) == {1}
    # the id column is a parameter, not a fixed name
    assert _pairs(spark, rows, "sig", id_col="n") == got


def test_hot_keys_limit_is_inclusive(spark):
    limit = 3
    df = spark.createDataFrame(
        [(i, "at_limit") for i in range(limit)]
        + [(i, "over_limit") for i in range(limit + 1)],
        "id int, k string",
    )
    assert [r.k for r in hot_keys(df, "k", limit).collect()] == ["over_limit"]
    kept = drop_hot_keys(df, "k", limit).collect()
    assert {r.k for r in kept} == {"at_limit"} and len(kept) == limit


def test_drop_hot_keys_without_limit_is_a_no_op(spark):
    df = spark.createDataFrame([(1, "a"), (2, "a")], "id int, k string")
    assert drop_hot_keys(df, "k", None) is df
