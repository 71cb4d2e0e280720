"""Property tests for driver-side hive-partition pruning (round 9).

``Catalog._partition_admitted_files`` was rewritten in round 9 to compare
numeric partition layouts numerically (the old lexicographic compare
silently dropped ``hour=10`` from ``hour BETWEEN 2 AND 10``). Pruning's
safety contract is CONSERVATIVE SUPERSET: for every partition whose value
satisfies the predicate under Spark's residual semantics, the partition's
files must be admitted — or the function must return ``None`` (no pruning
= full scan + residual). Dropping a satisfying partition is the only
failure mode that loses rows; admitting extra partitions is always safe.

These tests drive the pure path-walk logic with hypothesis-generated
layouts and predicates against a reference model of Spark's semantics —
no SparkSession needed (the method only walks directories), so hundreds
of cases run in seconds.

Spark-semantics model notes:
* a layout whose values all parse as numbers is inferred numeric; the
  residual compares numerically (float conversion is monotone, so float
  rounding can only spuriously ADMIT near 2^53 boundaries, never drop);
* a string layout compares lexicographically — but only string bounds
  have defined parity, anything else must degrade to no-prune;
* ``__HIVE_DEFAULT_PARTITION__`` rows are NULL keys: no range or IN
  predicate keeps them (except the degenerate unbounded range, which is
  not a filter at all and must not prune).
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lakehouse_architecture_spark.catalog import Catalog, TableSpec

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# layout values: unpadded ints, zero-padded ints, floats, ISO-date-ish
# strings, arbitrary words, and the hive null marker — plus (round 10)
# the adversarial spellings ADVICE r9 flagged: Java-lenient numerics
# (Infinity, whitespace padding, d/f suffixes), Python-only numerics
# (underscores), non-canonical dates, and values Spark hive-escapes on
# write (':', '#', '%', spaces)
_num_vals = st.one_of(
    st.integers(0, 10_000).map(str),
    st.integers(0, 99).map(lambda i: f"{i:02d}"),
    st.floats(0, 100, allow_nan=False).map(lambda f: f"{f:.2f}"),
)
_str_vals = st.one_of(
    st.sampled_from(["2024-01-05", "2024-01-10", "2024-02-01", "a5", "b1"]),
    st.text(
        alphabet="abcxyz0123456789", min_size=1, max_size=6
    ).filter(lambda s: not s.isdigit()),
)
_tricky_vals = st.sampled_from(
    [
        "Infinity",
        "-Infinity",
        "NaN",
        " 5 ",
        "1.5d",
        "1_000",
        "9_0",
        "0x1p3",
        "2024-1-5",  # non-canonical date: Spark renders it zero-padded
        "a b",  # escaped on write
        "x:y",
        "100%",
        "k=v",
    ]
)
_values = st.lists(
    st.one_of(_num_vals, _str_vals, _tricky_vals, st.just(HIVE_NULL)),
    min_size=1,
    max_size=8,
    unique=True,
)
_bound = st.one_of(
    st.none(),
    st.integers(-5, 10_000),
    st.floats(-5, 200, allow_nan=False),
    st.sampled_from(
        ["2024-01-07", "2024-1-7", "5", "a5", "zz", "a b", "Infinity"]
    ),
)

# the strict grammar the implementation types layouts with — the model
# must use the SAME typing or it would grade numeric layouts as string
_STRICT_NUM = Catalog._STRICT_NUM


def _is_num(v: str) -> bool:
    return bool(_STRICT_NUM.match(v))


# Spark's ExternalCatalogUtils.escapePathName character set (Linux) —
# layouts on disk hold ESCAPED values; the logical value is what the
# residual filter sees
_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^') | {
    chr(i) for i in range(1, 0x20)
}


def _escape_hive(v: str) -> str:
    return "".join(
        f"%{ord(c):02X}" if c in _ESCAPE_CHARS else c for c in v
    )


def _model_satisfies(val: str, pred: tuple, numeric_layout: bool) -> bool:
    """Would a row in partition ``val`` survive Spark's residual filter?
    Returns True when the model is unsure (forcing the superset check)."""
    if len(pred) == 2:  # IN-list
        if val == HIVE_NULL:
            return False  # NULL IN (...) is never true
        if numeric_layout:
            want = set()
            for x in pred[1]:
                try:
                    want.add(float(x))
                except (TypeError, ValueError):
                    pass
            return float(val) in want
        return val in {x for x in pred[1] if isinstance(x, str)}
    _, lo, hi = pred
    if lo is None and hi is None:
        return True  # not a filter: every row (incl. NULL keys) survives
    if val == HIVE_NULL:
        return False  # NULL satisfies no bounded range
    if numeric_layout:
        try:
            v = float(val)
            return (lo is None or v >= float(lo)) and (
                hi is None or v <= float(hi)
            )
        except (TypeError, ValueError):
            return True  # unparseable bound on numeric layout: unsure
    if all(b is None or isinstance(b, str) for b in (lo, hi)):
        return (lo is None or val >= lo) and (hi is None or val <= hi)
    return True  # mixed-type compare on string layout: unsure


def _build_layout(tmp_path, values: list[str]) -> TableSpec:
    """Write the layout the way Spark would: LOGICAL values are hive-
    escaped into the directory names (the hive null marker is itself a
    literal directory name, never escaped)."""
    spec = TableSpec(name="t", path=str(tmp_path / "t"), partition_by=("k",))
    for i, v in enumerate(values):
        disk = v if v == HIVE_NULL else _escape_hive(v)
        d = os.path.join(spec.path, f"k={disk}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"part-{i}.parquet"), "w") as f:
            f.write("x")
    return spec


@settings(
    max_examples=300,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=_values, lo=_bound, hi=_bound)
def test_range_pruning_never_drops_a_satisfying_partition(
    tmp_path_factory, values, lo, hi
):
    tmp = tmp_path_factory.mktemp("prune")
    spec = _build_layout(tmp, values)
    cat = Catalog(None)
    admitted = cat._partition_admitted_files(spec, ("k", lo, hi))
    if admitted is None:
        return  # no pruning: trivially safe
    numeric = all(_is_num(v) for v in values if v != HIVE_NULL) and any(
        v != HIVE_NULL for v in values
    )
    for v in values:
        if _model_satisfies(v, ("k", lo, hi), numeric):
            disk = v if v == HIVE_NULL else _escape_hive(v)
            expect = os.path.join(spec.path, f"k={disk}")
            assert any(
                f.startswith(expect + os.sep) for f in admitted
            ), f"satisfying partition k={v} dropped for bounds ({lo!r},{hi!r})"


@settings(
    max_examples=300,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=_values,
    inlist=st.lists(
        st.one_of(
            st.integers(0, 10_000),
            st.sampled_from(
                [
                    "7",
                    "07",
                    "2024-01-05",
                    "2024-1-5",
                    "a5",
                    "a b",
                    "x:y",
                    "100%",
                    "Infinity",
                ]
            ),
        ),
        min_size=0,
        max_size=5,
    ),
)
def test_inlist_pruning_never_drops_a_satisfying_partition(
    tmp_path_factory, values, inlist
):
    tmp = tmp_path_factory.mktemp("prune_in")
    spec = _build_layout(tmp, values)
    cat = Catalog(None)
    admitted = cat._partition_admitted_files(spec, ("k", inlist))
    if admitted is None:
        return
    numeric = all(_is_num(v) for v in values if v != HIVE_NULL) and any(
        v != HIVE_NULL for v in values
    )
    for v in values:
        if _model_satisfies(v, ("k", inlist), numeric):
            disk = v if v == HIVE_NULL else _escape_hive(v)
            expect = os.path.join(spec.path, f"k={disk}")
            assert any(
                f.startswith(expect + os.sep) for f in admitted
            ), f"satisfying partition k={v} dropped for IN {inlist!r}"


# --- compound pruning: partition x stats x bloom INTERSECT (round 10) ----
#
# The production path (catalog.read) INTERSECTS the per-predicate file
# sets. Intersecting per-predicate supersets is a superset of the
# satisfying set BY set algebra, but only if each individual admission
# really is a superset — this end-to-end property pins the whole
# composition: for hypothesis-generated multi-predicate where-clauses of
# >=2 kinds, the pruned read returns EXACTLY the rows of a full scan with
# the same residual (pruning may read extra files; the shared residual
# then equalizes the row sets, so any difference means pruning LOST rows).

import pytest

_D_VALS = ["0", "1", "2", "x:y", "a b"]  # incl. hive-escaped spellings


@pytest.fixture(scope="module")
def compound_table(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.catalog import Catalog

    root = str(tmp_path_factory.mktemp("compound"))
    cat = Catalog(spark, root)
    cat.define("ct", partition_by=("d",), stats_cols=("v",), bloom_cols=("u",))
    df = spark.range(2000).select(
        F.col("id").alias("rid"),
        F.element_at(
            F.array(*[F.lit(v) for v in _D_VALS]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("d"),
        (F.col("id") % 400).cast("double").alias("v"),
        F.concat(F.lit("u-"), (F.col("id") % 97).cast("string")).alias("u"),
    )
    # value-ranged files so the stats manifest has tight boxes
    df.repartitionByRange(4, "v").write.partitionBy("d").parquet(
        cat.table_spec("ct").path
    )
    rows = [
        (r["rid"], r["d"], r["v"], r["u"])
        for r in spark.read.parquet(cat.table_spec("ct").path).collect()
    ]
    return cat, rows


_part_pred = st.one_of(
    st.lists(st.sampled_from(_D_VALS + ["9", "zz"]), min_size=1, max_size=3)
    .map(lambda vs: ("d", vs)),
    st.tuples(
        st.sampled_from(["0", "1", "2", "a", "x"]),
        st.sampled_from(["1", "2", "z", "x:z"]),
    ).map(lambda t: ("d", min(t), max(t))),
)
_stats_pred = st.tuples(
    st.floats(-10, 400, allow_nan=False),
    st.floats(-10, 420, allow_nan=False),
).map(lambda t: ("v", min(t), max(t)))
_bloom_pred = st.one_of(
    st.integers(0, 110).map(lambda i: ("u", f"u-{i}", f"u-{i}")),
    st.lists(
        st.integers(0, 110).map(lambda i: f"u-{i}"), min_size=1, max_size=3
    ).map(lambda vs: ("u", vs)),
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    preds=st.lists(
        st.one_of(_part_pred, _stats_pred, _bloom_pred),
        min_size=2,
        max_size=3,
    ).filter(lambda ps: len({p[0] for p in ps}) >= 2)
)
def test_compound_pruned_read_equals_full_scan_residual(
    spark, compound_table, preds
):
    # Ground truth = the engine residual over an UNPRUNED scan of the
    # same parquet — live Spark semantics, no hand model (round 11: a
    # Python IEEE model diverged on a fuzzed -0.0 bound, where Spark's
    # OWN parquet pushdown drops the 0.0 row groups on full and pruned
    # scans alike; see test_stats_pruning_negzero_parity_with_pushdown).
    cat, _rows = compound_table
    got = {r["rid"] for r in cat.read("ct", where=preds).collect()}
    full = spark.read.parquet(cat.table_spec("ct").path)
    want = {
        r["rid"] for r in Catalog._apply_residual(full, preds).collect()
    }
    assert got == want, (
        f"compound pruning changed the result for {preds!r}: "
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )


# --- unescape round-trip (round 10) ---------------------------------------


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet=st.characters(min_codepoint=1, max_codepoint=0x7E),
        min_size=0,
        max_size=12,
    )
)
def test_unescape_inverts_spark_escaping(v):
    """unescape(escape(v)) == v for every ASCII value — the pair of
    functions must agree on the %XX grammar exactly or pruning compares
    a different value than Spark's residual."""
    assert Catalog._unescape_hive(_escape_hive(v)) == v


def test_unescape_leaves_non_escape_percents_alone():
    # '%' not followed by two hex digits passes through — Spark's
    # unescapePathName behaves identically, so external layouts with raw
    # percent signs compare consistently
    assert Catalog._unescape_hive("100%") == "100%"
    assert Catalog._unescape_hive("%zz") == "%zz"
    assert Catalog._unescape_hive("a%2") == "a%2"
    assert Catalog._unescape_hive("a%25b") == "a%b"
    assert Catalog._unescape_hive("x%3Ay") == "x:y"
    assert Catalog._unescape_hive("x%3ay") == "x:y"  # lowercase hex too


# --- date-partitioned reads under fuzzed bound spellings (round 10) -------


@pytest.fixture(scope="module")
def date_table(spark, tmp_path_factory):
    from lakehouse_architecture_spark.catalog import Catalog

    root = str(tmp_path_factory.mktemp("dates"))
    cat = Catalog(spark, root)
    cat.define("dt", partition_by=("d",))
    rows = [
        (i, f"2024-{m:02d}-{dd:02d}")
        for i, (m, dd) in enumerate(
            [(1, 5), (1, 10), (1, 28), (2, 1), (2, 14), (3, 3)]
        )
    ]
    df = spark.createDataFrame(rows, "rid int, d string")
    df.write.partitionBy("d").parquet(cat.table_spec("dt").path)
    return cat, rows


_fuzz_dates = st.dates(
    min_value=__import__("datetime").date(2023, 12, 1),
    max_value=__import__("datetime").date(2024, 4, 1),
)
_fuzz_datetimes = st.datetimes(
    min_value=__import__("datetime").datetime(2023, 12, 1, 0, 0, 0),
    max_value=__import__("datetime").datetime(2024, 4, 1, 23, 59, 59),
).map(lambda t: t.replace(microsecond=0))

_date_bound = st.one_of(
    st.none(),
    _fuzz_dates,
    _fuzz_dates.map(lambda d: d.isoformat()),
    # non-canonical spelling: Spark casts it to the same date in the
    # residual; the engine must degrade to no-prune rather than compare
    # it lexicographically
    st.dates(
        min_value=__import__("datetime").date(2024, 1, 1),
        max_value=__import__("datetime").date(2024, 3, 28),
    ).map(lambda d: f"{d.year}-{d.month}-{d.day}"),
    # timestamp-spelled strings (ADVICE r10): space- and T-separated,
    # midnight and arbitrary times, with and without fractional seconds —
    # the spellings whose cross-form cast exposed the lexicographic bug
    _fuzz_datetimes.map(lambda t: t.strftime("%Y-%m-%d %H:%M:%S")),
    _fuzz_datetimes.map(lambda t: t.strftime("%Y-%m-%dT%H:%M:%S")),
    _fuzz_dates.map(lambda d: f"{d.isoformat()} 00:00:00"),
    _fuzz_datetimes.map(lambda t: t.strftime("%Y-%m-%d %H:%M:%S") + ".500"),
    # datetime OBJECTS flip the cast direction (the column casts up to a
    # midnight timestamp) — a different admit rule from ts-spelled strings
    _fuzz_datetimes,
    _fuzz_datetimes.map(lambda t: t.replace(microsecond=250000)),
    # ancient years (strftime('%Y') does not zero-pad below 1000 — the
    # r11 rendering bug) and timezone-AWARE instants (must degrade to
    # no-prune; the residual is still the ground truth either way)
    st.sampled_from(
        [
            __import__("datetime").datetime(999, 6, 15, 10, 0, 0),
            __import__("datetime").datetime(99, 12, 31, 23, 59, 59),
        ]
    ),
    _fuzz_datetimes.map(
        lambda t: t.replace(
            tzinfo=__import__("datetime").timezone(
                __import__("datetime").timedelta(hours=7)
            )
        )
    ),
)


def _residual_truth(spark_df, where):
    """Ground truth = the ENGINE's residual applied to an unpruned scan:
    exactly live Spark's typing + coercion, with no hand model to drift."""
    return {r["rid"] for r in Catalog._apply_residual(spark_df, [where]).collect()}


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lo=_date_bound, hi=_date_bound)
def test_date_partition_range_matches_spark_residual(spark, date_table, lo, hi):
    """The pruned read over a DATE-typed partition layout must return
    exactly the rows Spark's own residual keeps on a full scan, for every
    bound spelling: date/datetime objects, canonical ISO strings,
    timestamp-spelled strings in every separator/fraction form (all may
    prune under the form-typed canonicalization), and non-canonical
    strings (must degrade to no-prune)."""
    cat, rows = date_table
    where = ("d", lo, hi)
    got = {r["rid"] for r in cat.read("dt", where=where).collect()}
    full = spark.read.parquet(cat.table_spec("dt").path)
    want = _residual_truth(full, where)
    assert got == want, (lo, hi, sorted(got), sorted(want))


@pytest.fixture(scope="module")
def ts_table(spark, tmp_path_factory):
    from lakehouse_architecture_spark.catalog import Catalog

    root = str(tmp_path_factory.mktemp("tstamps"))
    cat = Catalog(spark, root)
    cat.define("tt", partition_by=("t",))
    vals = [
        "2024-01-05 00:00:00",
        "2024-01-05 10:30:00",
        "2024-01-28 23:59:59",
        "2024-02-14 08:00:00",
        "2024-03-03 12:00:01",
    ]
    rows = list(enumerate(vals))
    df = spark.createDataFrame(rows, "rid int, t string")
    df.write.partitionBy("t").parquet(cat.table_spec("tt").path)
    return cat, rows


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lo=_date_bound, hi=_date_bound)
def test_ts_partition_range_matches_spark_residual(spark, ts_table, lo, hi):
    """Same contract over a TIMESTAMP-typed layout (ADVICE r10 low: the
    fixture the old suite lacked), fuzzed with bare-date bounds (cast to
    midnight), timestamp strings, T-forms, fractions, and date/datetime
    objects."""
    cat, rows = ts_table
    where = ("t", lo, hi)
    got = {r["rid"] for r in cat.read("tt", where=where).collect()}
    full = spark.read.parquet(cat.table_spec("tt").path)
    want = _residual_truth(full, where)
    assert got == want, (lo, hi, sorted(got), sorted(want))


# --- compound pruning over a TEMPORAL partition column (round 11) ---------
#
# Same composition property, but the partition dimension is a DATE-typed
# layout fuzzed with every cross-form bound spelling from _date_bound
# (ADVICE r10) — ground truth is the engine residual on a full scan, so
# the test needs no hand model of Spark's cast directionality.


@pytest.fixture(scope="module")
def compound_temporal_table(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("compound_t"))
    cat = Catalog(spark, root)
    cat.define(
        "ctt", partition_by=("day",), stats_cols=("v",), bloom_cols=("u",)
    )
    df = spark.range(2000).select(
        F.col("id").alias("rid"),
        F.date_format(
            F.date_add(
                F.lit("2024-01-01").cast("date"),
                (F.col("id") % 6 * 9).cast("int"),
            ),
            "yyyy-MM-dd",
        ).alias("day"),
        (F.col("id") % 400).cast("double").alias("v"),
        F.concat(F.lit("u-"), (F.col("id") % 97).cast("string")).alias("u"),
    )
    df.repartitionByRange(4, "v").write.partitionBy("day").parquet(
        cat.table_spec("ctt").path
    )
    return cat


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lo=_date_bound,
    hi=_date_bound,
    other=st.one_of(_stats_pred, _bloom_pred),
)
def test_compound_temporal_pruned_read_equals_residual(
    spark, compound_temporal_table, lo, hi, other
):
    cat = compound_temporal_table
    preds = [("day", lo, hi), other]
    got = {r["rid"] for r in cat.read("ctt", where=preds).collect()}
    full = spark.read.parquet(cat.table_spec("ctt").path)
    want = {
        r["rid"] for r in Catalog._apply_residual(full, preds).collect()
    }
    assert got == want, (
        f"temporal compound pruning changed the result for {preds!r}: "
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )


# --- catalog op-sequence fuzz: writes x appends x refresh x pruned reads --
#
# The manifests and the partition index are CACHES with an invalidation
# contract: Catalog.write drops them, out-of-band appends require
# refresh_stats. Single-scenario tests pin each contract edge; this fuzz
# composes them — random sequences of engine writes (overwrite + append),
# out-of-band appends (followed by the contractual refresh_stats), and
# pruned reads on the partition column (cross-form temporal bounds
# included), the stats column, and the bloom column. Every read must
# return exactly what the engine residual keeps on a fresh full scan.

_seq_day = st.sampled_from(
    ["2024-01-05", "2024-01-10", "2024-01-28", "2024-02-01"]
)
_seq_rows = st.lists(
    st.tuples(st.integers(0, 10_000), _seq_day, st.floats(0, 400, allow_nan=False), st.integers(0, 20)),
    min_size=1,
    max_size=6,
)
_seq_read = st.one_of(
    st.tuples(
        st.just("day"),
        st.sampled_from(
            [
                ("2024-01-05", "2024-01-28"),
                ("2024-01-05 10:00:00", "2024-02-01 00:00:00"),
                ("2024-01-04T00:00:00", "2024-01-28T23:59:59"),
                (None, "2024-01-10"),
            ]
        ),
    ),
    st.tuples(st.just("v"), st.tuples(st.floats(0, 200, allow_nan=False), st.floats(200, 420, allow_nan=False))),
    st.tuples(st.just("u"), st.lists(st.integers(0, 25), min_size=1, max_size=3)),
)
_seq_ops = st.lists(
    st.one_of(
        st.tuples(st.just("write"), _seq_rows),
        st.tuples(st.just("append"), _seq_rows),
        st.tuples(st.just("oob_append"), _seq_rows),
        st.tuples(st.just("read"), _seq_read),
    ),
    min_size=2,
    max_size=5,
)


def _seq_df(spark, rows):
    return spark.createDataFrame(
        [(rid, d, v, f"u-{u}") for rid, d, v, u in rows],
        "rid int, day string, v double, u string",
    )


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_seq_ops, first=_seq_rows)
def test_catalog_op_sequences_reads_match_residual(
    spark, tmp_path_factory, ops, first
):
    import tempfile as _tf
    import shutil as _sh

    root = _tf.mkdtemp(prefix="cat_seq_")
    try:
        cat = Catalog(spark, root)
        spec = cat.define(
            "sq", partition_by=("day",), stats_cols=("v",), bloom_cols=("u",)
        )
        cat.write(_seq_df(spark, first), "sq")
        for op in ops:
            kind = op[0]
            if kind == "write":
                cat.write(_seq_df(spark, op[1]), "sq")
            elif kind == "append":
                cat.write(_seq_df(spark, op[1]), "sq", mode="append")
            elif kind == "oob_append":
                # out-of-band: bypass the catalog, then honor the contract
                _seq_df(spark, op[1]).write.mode("append").partitionBy(
                    "day"
                ).parquet(spec.path)
                cat.refresh_stats("sq")
            else:
                col, arg = op[1]
                if col == "day":
                    where = ("day", arg[0], arg[1])
                elif col == "v":
                    where = ("v", min(arg), max(arg))
                else:
                    where = ("u", [f"u-{i}" for i in arg])
                got = sorted(
                    r["rid"] for r in cat.read("sq", where=where).collect()
                )
                full = spark.read.parquet(spec.path)
                want = sorted(
                    r["rid"]
                    for r in Catalog._apply_residual(full, [where]).collect()
                )
                assert got == want, (where, got[:8], want[:8])
    finally:
        _sh.rmtree(root, ignore_errors=True)


# Round 16 (VERDICT r15 #1): heavy plan-executing / randomized-fuzz
# suite, gated out of the default (driver-budget) run; run with
# pytest -m slow  (or -m 'slow or not slow' for everything).
# See pytest.ini.
pytestmark = pytest.mark.slow
