"""Amplified-scale probe — measures how headline plans absorb N× data.

Builds an amplified copy of the testdata (facts replicated with shifted
primary keys so joins keep their semantics; dimensions stay fixed, as they
do in a real warehouse; documents replicated verbatim so dedup operators
see true duplicate mass), then times headline queries on both the base and
amplified directories. A plan that scales linearly should cost ≈N× the
task-seconds but, with fixed parallelism, ≤N× wall; a plan hiding a
quadratic stage or a driver bottleneck blows past that.

Usage: python tools/scale_probe.py [factor] [sf_dir] [query ...]
Prints one JSON line per query: base_sec, amplified_sec, ratio.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lakehouse_architecture_spark.materialize import release_small_pins
from lakehouse_architecture_spark.session import SessionFactory
from perfbench.spans import Tracer
from tools.measure import timed_runs

DEFAULT_QUERIES = [
    "q01_pricing_summary",
    "q05_nation_revenue",
    "q18_large_orders",
    "q_minhash_lsh",
    "q_dedup_keep_first",
    "q_funnel",
    # round-3 families, one representative each
    "q_pmi_collocations",
    "q_dq_summary",
    "q_pq_knn",
    "q_kaplan_meier",
    "q_multi_touch",
    # round-13 family representative: bucketed two-phase midranks over
    # the distinct-value table — the rewrite that replaced the
    # single-task global window (COVERAGE.md round-13 self-audit)
    "q_mann_whitney",
    # round-14 family representative: the W1 integral adds the
    # bucket-local successor handoff and the pinned collapsed table
    "q_wasserstein",
]

#: fact table -> integer key columns to shift per replica (PK + the FKs
#: that reference another amplified fact, NOT dimension FKs)
_FACT_KEYS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def amplify(spark, sf_dir: str, out_dir: str, factor: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for fname in sorted(os.listdir(sf_dir)):
        if not fname.endswith(".parquet"):
            continue
        name = fname[: -len(".parquet")]
        src = os.path.join(sf_dir, fname)
        dst = os.path.join(out_dir, fname)
        df = spark.read.parquet(src)
        if name in _FACT_KEYS:
            shift = (
                df.agg(*[(F.max(k) + 1).alias(k) for k in _FACT_KEYS[name]])
                .collect()[0]
                .asDict()
            )
            rep = df.withColumn(
                "__rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
            )
            for k, off in shift.items():
                rep = rep.withColumn(k, F.col(k) + F.col("__rep") * F.lit(off))
            rep.drop("__rep").write.mode("overwrite").parquet(dst)
        else:
            df.write.mode("overwrite").parquet(dst)


def _time(spark, tracer: Tracer, name: str, sf_dir: str) -> float:
    """Best of two timed runs (``tools.measure.timed_runs``)."""
    best = min(r["wall_s"] for r in timed_runs(spark, tracer, name, sf_dir, 2))
    release_small_pins(spark)
    return best


def main() -> int:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    queries = sys.argv[3:] or DEFAULT_QUERIES

    spark = SessionFactory(app_name="scale_probe").get_or_create()
    tracer = Tracer(spark, enabled=True)
    amp_dir = f"/tmp/scale_probe_x{factor}"
    amplify(spark, sf_dir, amp_dir, factor)
    try:
        for name in queries:
            base = _time(spark, tracer, name, sf_dir)
            amped = _time(spark, tracer, name, amp_dir)
            print(
                json.dumps(
                    {
                        "query": name,
                        "factor": factor,
                        "base_sec": base,
                        "amplified_sec": amped,
                        "ratio": round(amped / base, 2) if base else None,
                    }
                )
            )
    finally:
        shutil.rmtree(amp_dir, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
