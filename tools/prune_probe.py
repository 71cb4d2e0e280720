"""Measures what the storage-pruning layer actually buys.

Writes a z-ordered copy of lineitem (64 files, clustered on
(l_extendedprice, l_orderkey % 4096)) as a catalog table with a stats
manifest on l_extendedprice and a bloom manifest on l_orderkey, then times
three ways to answer a narrow range predicate and a point lookup:

* full scan + filter (what a naive reader pays),
* manifest-pruned ``Catalog.read`` (min/max boxes -> explicit file list),
* bloom-pruned ``Catalog.read`` (per-file blooms, equality only),

reporting wall seconds and the number of files each plan opened. The
point at 100 TB: the pruned paths' cost tracks the SELECTED data, the
full scan's tracks the table.

Usage: python tools/prune_probe.py [sf_dir] [n_files] [mult]
Prints one JSON line per measurement. ``mult`` replicates lineitem with
shifted keys to probe the scan-vs-prune crossover (at sf0.1 alone the
full scan is ~0.2 s, so wall savings only appear once the table outgrows
the driver-side pruning overhead; the files-opened column is the
scale-invariant signal).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lakehouse_architecture_spark.catalog import Catalog
from lakehouse_architecture_spark.operators.partitioning import zordered_write
from lakehouse_architecture_spark.session import SessionFactory
from lakehouse_architecture_spark.sources.manifest import (
    bloom_admitted_files,
    pruned_files,
)


def timed(fn, reps: int = 3):
    best = float("inf")
    out = None
    for _ in range(reps):
        t0 = time.time()
        out = fn()
        best = min(best, time.time() - t0)
    return best, out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    mult = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    spark = SessionFactory(app_name="prune_probe").get_or_create()
    work = tempfile.mkdtemp(prefix="prune_probe_")
    try:
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
            "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
        )
        if mult > 1:
            li = li.crossJoin(
                F.broadcast(spark.range(mult).select(F.col("id").alias("__rep")))
            ).withColumn(
                "l_orderkey", F.col("l_orderkey") * mult + F.col("__rep")
            ).drop("__rep")
        cat = Catalog(spark, work)
        path = cat.define(
            "zli", stats_cols=("l_extendedprice",), bloom_cols=("l_orderkey",)
        ).path
        # zorder_cluster min-max scales dimensions into the Morton grid
        # itself; the key is mod-folded only to give the second dimension
        # bounded cardinality
        scaled = li.withColumn("okmod", F.col("l_orderkey") % 1024)
        zordered_write(
            scaled, path, ["l_extendedprice", "okmod"], n_files=n_files, bits=10
        )
        man = cat.manifest("zli")
        bloom = cat.bloom_manifest("zli", "l_orderkey")

        lo, hi = 50_000.0, 52_000.0

        t_full, n_full = timed(
            lambda: spark.read.parquet(path)
            .filter(F.col("l_extendedprice").between(lo, hi))
            .count()
        )
        t_pruned, n_pruned = timed(
            lambda: cat.read("zli", where=("l_extendedprice", lo, hi)).count()
        )
        files_hit = len(pruned_files(man, "l_extendedprice", lo, hi))
        assert n_full == n_pruned, (n_full, n_pruned)
        print(json.dumps({
            "probe": "range", "rows": n_full, "n_files": n_files,
            "files_after_prune": files_hit,
            "full_scan_sec": round(t_full, 3),
            "pruned_sec": round(t_pruned, 3),
            "speedup": round(t_full / t_pruned, 2),
        }))

        key = li.agg(F.max("l_orderkey")).first()[0] // 2
        t_fulleq, n_fulleq = timed(
            lambda: spark.read.parquet(path)
            .filter(F.col("l_orderkey") == key)
            .count()
        )
        t_bloom, n_bloom = timed(
            lambda: cat.read("zli", where=("l_orderkey", key, key)).count()
        )
        bfiles = len(bloom_admitted_files(bloom, [key]))
        assert n_fulleq == n_bloom, (n_fulleq, n_bloom)
        print(json.dumps({
            "probe": "equality", "rows": n_fulleq, "n_files": n_files,
            "files_after_bloom": bfiles,
            "full_scan_sec": round(t_fulleq, 3),
            "bloom_sec": round(t_bloom, 3),
            "speedup": round(t_fulleq / t_bloom, 2),
        }))

        # measured bloom FPR: keys guaranteed absent (beyond max orderkey)
        # probed against every file's filter; admission rate = FPR, since
        # the true answer for every (file, absent key) pair is "no".
        # Diagnostic-only: collect the manifest ONCE and test bits locally
        # (the engine's read path never collects blooms — see
        # sources/manifest.bloom_admitted_files)
        from lakehouse_architecture_spark.sources.manifest import _bloom_positions

        max_key = li.agg(F.max("l_orderkey")).first()[0]
        absent = [max_key + 10_000 + i for i in range(500)]
        rows = bloom.select("file", "bloom", "num_bits", "num_hashes").collect()
        admitted = 0
        for r in rows:
            b, nb, nh = r["bloom"], r["num_bits"], r["num_hashes"]
            for k in absent:
                pos = _bloom_positions(k, nb, nh)
                admitted += all(b[p // 8] & (1 << (p % 8)) for p in pos)
        fpr = admitted / (len(absent) * n_files)
        print(json.dumps({
            "probe": "bloom_fpr", "n_files": n_files,
            "absent_keys_probed": len(absent),
            "measured_fpr": round(fpr, 5),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
