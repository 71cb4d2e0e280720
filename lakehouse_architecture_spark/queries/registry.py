"""Assembles the full query registry consumed by __spark_entry__.py."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from lakehouse_architecture_spark.queries.analytics import ANALYTICS_QUERIES
from lakehouse_architecture_spark.queries.analytics2 import ANALYTICS2_QUERIES
from lakehouse_architecture_spark.queries.analytics3 import ANALYTICS3_QUERIES
from lakehouse_architecture_spark.queries.features import FEATURES_QUERIES
from lakehouse_architecture_spark.queries.quality import QUALITY_QUERIES
from lakehouse_architecture_spark.queries.base import QuerySpec
from lakehouse_architecture_spark.queries.corpus import CORPUS_QUERIES
from lakehouse_architecture_spark.queries.corpus2 import CORPUS2_QUERIES
from lakehouse_architecture_spark.queries.events import EVENTS_QUERIES
from lakehouse_architecture_spark.queries.relational import RELATIONAL_QUERIES
from lakehouse_architecture_spark.queries.relational2 import RELATIONAL2_QUERIES
from lakehouse_architecture_spark.queries.relational3 import RELATIONAL3_QUERIES
from lakehouse_architecture_spark.queries.relational4 import RELATIONAL4_QUERIES
from lakehouse_architecture_spark.queries.relational5 import RELATIONAL5_QUERIES
from lakehouse_architecture_spark.queries.analytics4 import ANALYTICS4_QUERIES
from lakehouse_architecture_spark.queries.analytics5 import ANALYTICS5_QUERIES
from lakehouse_architecture_spark.queries.analytics6 import ANALYTICS6_QUERIES
from lakehouse_architecture_spark.queries.analytics7 import ANALYTICS7_QUERIES
from lakehouse_architecture_spark.queries.analytics8 import ANALYTICS8_QUERIES
from lakehouse_architecture_spark.queries.analytics9 import ANALYTICS9_QUERIES
from lakehouse_architecture_spark.queries.analytics10 import ANALYTICS10_QUERIES
from lakehouse_architecture_spark.queries.analytics11 import ANALYTICS11_QUERIES
from lakehouse_architecture_spark.queries.storage import STORAGE_QUERIES
from lakehouse_architecture_spark.queries.textops2 import TEXTOPS2_QUERIES
from lakehouse_architecture_spark.queries.textops import TEXTOPS_QUERIES
from lakehouse_architecture_spark.queries.timeseries import TIMESERIES_QUERIES

_SPECS: tuple[QuerySpec, ...] = (
    *RELATIONAL_QUERIES,
    *RELATIONAL2_QUERIES,
    *RELATIONAL3_QUERIES,
    *RELATIONAL4_QUERIES,
    *EVENTS_QUERIES,
    *TEXTOPS_QUERIES,
    *TIMESERIES_QUERIES,
    *CORPUS_QUERIES,
    *CORPUS2_QUERIES,
    *RELATIONAL5_QUERIES,  # appended last: registry-ordering note in corpus2.py
    *ANALYTICS_QUERIES,  # round-3 additions, same ordering rationale
    *ANALYTICS2_QUERIES,  # round-3 profiling additions, appended last
    *QUALITY_QUERIES,  # expectations engine; after the 50-slot window
    *FEATURES_QUERIES,  # feature engineering; after the 50-slot window
    *ANALYTICS3_QUERIES,  # batch-analytics tail; after the 50-slot window
    *STORAGE_QUERIES,  # round-4 storage layer; appended last, same rationale
    *ANALYTICS4_QUERIES,  # round-4 analytics tail
    *TEXTOPS2_QUERIES,  # round-4 text tail
    *ANALYTICS5_QUERIES,  # round-4 closing batch (fills the 50-slot window)
    *ANALYTICS6_QUERIES,  # round-4 audited overflow (LOCAL_ORACLE.json rows)
    *ANALYTICS7_QUERIES,  # round-11 depth block (OPH, closure, bootstrap...)
    *ANALYTICS8_QUERIES,  # round-12 depth block (k-core, CDC diff, CUPED...)
    *ANALYTICS9_QUERIES,  # round-12 closing block (Spearman, burstiness...)
    *ANALYTICS10_QUERIES,  # round-13 block (budgeted via max_safe_additions)
    *ANALYTICS11_QUERIES,  # round-14 block (budget: max_safe_additions = 50)
)

# The per-round correctness harness checks only the FIRST 50 registry
# entries, so ordering IS verification coverage. Each round, queries are
# sorted least-verified-first from the accumulated CORRECTNESS_r*.json
# records: never-green queries lead, then fewest green rounds, then oldest
# last-green round. The result is an automatic rotation — every query cycles
# through the checked window, and no regression can hide behind the cap for
# more than a round or two.
#
# REGISTRY-GROWTH BUDGET (round 13, VERDICT r12 #2). At N queries and a
# 50-slot window the re-confirmation cadence is ceil(N/50) rounds; every
# never-green addition preempts a window slot and stretches the once-green
# tail's cadence past that. Round 12 demonstrated the failure live: 15 new
# queries + 2 gate queries consumed 17 slots and pushed q_retention's
# re-confirmation lag to 6 rounds. Policy, enforced by
# tests/test_registry_rotation.py:
#   1. The staleness bound is GROWTH-AWARE — :func:`staleness_bound` is
#      ceil(N/window) plus one extra round per window-full of queries that
#      first went driver-green inside the lookback (those were never-green
#      and preempted slots the tail would otherwise have used).
#   2. Additions are BUDGETED — before declaring new QuerySpecs, run
#      :func:`max_safe_additions`; it simulates the rotation forward and
#      returns the largest addition count that keeps every once-green
#      query inside the bound. Adding more than it allows is a test
#      failure in the SAME commit, not a driver-round surprise.

WINDOW = 50  # the driver's per-round correctness window size


def _first_green_rounds(repo: str | None = None) -> dict[str, int]:
    """Per query: the FIRST driver round with a green row — the round the
    query stopped being never-green and stopped preempting window slots."""
    first: dict[str, int] = {}
    for rnd, green in sorted(_correctness_rounds(repo).items()):
        for name in green:
            first.setdefault(name, rnd)
    return first


def _correctness_rounds(repo: str | None = None) -> dict[int, set[str]]:
    """Round -> the queries with a green row in that round's
    CORRECTNESS_r<round>.json at the repo root. A row is green when it has
    no error and no failed check (rows-only records pass with null checks).
    An unparseable file is a round with no green row; with no files at all,
    ordering degrades to the declared family order."""
    import glob
    import json
    import os
    import re

    if repo is None:
        repo = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    rounds: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        green = rounds.setdefault(int(m.group(1)), set())
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            checks = (row.get("rows_match"), row.get("schema_match"), row.get("hash_match"))
            if False not in checks:
                green.add(name)
    return rounds


def staleness_bound(
    n_queries: int,
    first_green: dict[str, int],
    head_round: int,
    window: int = WINDOW,
) -> int:
    """Growth-aware re-confirmation bound (rounds) for once-green queries.

    Base cadence is ceil(N/window). Queries whose FIRST green round falls
    inside the last base-cadence rounds were never-green during the
    lookback and preempted slots ahead of the once-green tail (the
    rotation is deliberately never-green-first); each window-full of them
    delays the tail by one extra round. Round 12's breach instantiates
    the formula: N=249 -> base 5, 33 first-greens in rounds 8-12 -> +1,
    bound 6, which is exactly the lag q_retention reached."""
    import math

    base = math.ceil(n_queries / window)
    preempted = sum(1 for r in first_green.values() if r > head_round - base)
    return base + math.ceil(preempted / window)


def max_safe_additions(
    last_green: dict[str, int],
    n_never_green_permanent: int,
    head_round: int,
    window: int = WINDOW,
    horizon: int = 12,
) -> int:
    """Largest number of new (never-green) registry entries that can be
    declared this round without any once-green query's driver lag ever
    exceeding :func:`staleness_bound` — computed by simulating the
    rotation forward ``horizon`` rounds.

    ``last_green`` is {query: last driver-green round} for the once-green
    population; ``n_never_green_permanent`` counts entries that occupy a
    window slot every round but never green (declared rows-only queries —
    none since round 14 retired q_pca_whiten, but the parameter stays for
    any future genuinely non-SQL entry). New additions green on first check
    (the local oracle gate makes that the norm). Pure function; callers
    feed it :func:`_verification_history` / the registry size."""
    first_green = dict.fromkeys(last_green, 0)  # pre-lookback: no preemption

    def safe(k: int) -> bool:
        last = dict(last_green)
        fg = dict(first_green)
        pending = k  # new never-green entries waiting for a first check
        for rnd in range(head_round + 1, head_round + 1 + horizon):
            slots = window - n_never_green_permanent
            checked_new = min(pending, slots)
            pending -= checked_new
            for i in range(checked_new):
                name = f"__new_{rnd}_{i}"
                last[name] = rnd
                fg[name] = rnd
            slots -= checked_new
            for name in sorted(last, key=lambda n: last[n])[:slots]:
                last[name] = rnd
            n = len(last) + pending + n_never_green_permanent
            bound = staleness_bound(n, fg, rnd, window)
            if any(rnd - lg > bound for lg in last.values()):
                return False
        return True

    lo = 0
    for k in range(window, -1, -1):
        if safe(k):
            lo = k
            break
    return lo


def rotation_forecast(window: int = WINDOW) -> dict[str, int]:
    """Per query: the NEXT driver round expected to produce a green row,
    read off the committed rotation order (position p is inside the window
    of round head+1+p//window). VERDICT r12 #7: the full oracle run stamps
    this into LOCAL_ORACLE.__meta__ so a future staleness breach is
    visible one round before the guard fires."""
    head = max(_correctness_rounds(), default=0)
    return {
        name: head + 1 + pos // window
        for pos, name in enumerate(ALL_QUERIES)
    }


def _verification_history(repo: str | None = None) -> dict[str, tuple[int, int]]:
    """Per query: (green rounds count, last green round)."""
    hist: dict[str, tuple[int, int]] = {}
    # numeric round order, not file order: glob sorts r100 before r11
    for rnd, green in sorted(_correctness_rounds(repo).items()):
        for name in green:
            hist[name] = (hist.get(name, (0, 0))[0] + 1, rnd)
    return hist


def _rotation_order(specs: tuple[QuerySpec, ...]) -> list[QuerySpec]:
    hist = _verification_history()

    def key(s: QuerySpec):
        # never-green first (the driver has NO evidence about them at
        # all), then least/oldest green
        n, last = hist.get(s.name, (0, -2))
        return (n, last, specs.index(s))

    return sorted(specs, key=key)


ALL_QUERIES: dict[str, QuerySpec] = {
    spec.name: spec for spec in _rotation_order(_SPECS)
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.build for name, spec in ALL_QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in ALL_QUERIES.items()
        if spec.oracle is not None
    }
