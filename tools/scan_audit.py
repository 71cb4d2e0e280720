"""Counts the file scans a query's executed plan runs: a plan that
references a subtree N times scans its source N times unless the
intermediate is materialized, and exchange reuse alone does not collapse
them all (the metric behind the round-6 exact_quantiles fix).

``scan_counts`` walks the final adaptive physical plan TREE of an
already-executed DataFrame over py4j (round 7; a plan-string parser
miscounted sections re-printed inside InMemoryRelation).
``InMemoryTableScanExec`` and ``ReusedExchangeExec`` subtrees count as
cached lineage, not live scans: the cache is populated at most once, and a
reused shuffle was counted on its primary branch. ``AdaptiveSparkPlanExec``
and query stages recurse into their current plans. A
``localCheckpoint``-pinned subtree is a ``Scan ExistingRDD`` leaf, not a
file scan (lakehouse_architecture_spark/materialize.py).

Registry-wide audit: ``python tools/measure.py --parquet --runs 1 SF_DIR``.
"""

from __future__ import annotations

#: Physical scan leaves that read source files.
_FILE_SCAN_CLASSES = {"FileSourceScanExec", "BatchScanExec"}


def _walk(node, live: bool, counts: dict) -> None:
    cls = node.getClass().getSimpleName()
    if cls in _FILE_SCAN_CLASSES:
        counts["total"] += 1
        if live:
            counts["live"] += 1
        return
    if cls == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), live, counts)
        return
    if cls.endswith("QueryStageExec"):
        _walk(node.plan(), live, counts)
        return
    if cls.startswith("ReusedExchange") or cls.startswith("ReusedSubquery"):
        counts["reused"] += 1
        # its subtree executes on the primary branch only — walk it as
        # non-live so cached-lineage totals stay comparable
        live = False
    if cls == "InMemoryTableScanExec":
        # cached: lineage below populates the cache at most once
        live = False
        rel = node.relation().cachedPlan()
        _walk(rel, live, counts)
        return
    ch = node.children()
    for i in range(ch.size()):
        _walk(ch.apply(i), live, counts)


def scan_counts(df) -> dict:
    """Counts over the executed physical plan of an already-executed
    DataFrame: ``live`` = file scans that execute when this plan runs,
    ``total`` = live + scans inside cached/reused subtrees, ``reused`` =
    reuse nodes encountered."""
    counts = {"live": 0, "total": 0, "reused": 0}
    _walk(df._jdf.queryExecution().executedPlan(), True, counts)
    return counts


def live_scan_count(df) -> int:
    """File-source scan leaves that EXECUTE in this DataFrame's final
    plan (cached / reused subtrees excluded). Takes the DataFrame (round
    7: tree walk), not a plan string."""
    return scan_counts(df)["live"]
