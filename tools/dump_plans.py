"""Dump full `.explain("formatted")` output for named queries into
plans/<round>/<query>_<tag>.txt — the before/after evidence files of an
optimization pass.

Usage: python tools/dump_plans.py <round> <before|after> <query> [query ...]
(tables from $SPARK_GRAFT_SF_DIR, default the sf0.001 test data)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_architecture_spark.plans.inspect import formatted_plan
from lakehouse_architecture_spark.queries.registry import ALL_QUERIES
from lakehouse_architecture_spark.session import SessionFactory


def main() -> int:
    if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
        print(__doc__.strip().splitlines()[-2], file=sys.stderr)
        return 2
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = SessionFactory(app_name="dump_plans").get_or_create()
    for name in names:
        df = ALL_QUERIES[name].build(spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
