"""One measurement loop for registry queries: wall time per run, the Spark
work each run caused, and each query's scan and shuffle audit.

    python tools/measure.py [--runs N] SF_DIR [QUERY ...]            # warm cached tables
    python tools/measure.py --parquet [--runs N] SF_DIR [QUERY ...]  # the parquet files
    python tools/measure.py --bench [FILE.jsonl] [--runs N]          # bench.py band
    python tools/measure.py --budget [--runs N] SF_DIR [QUERY ...]   # PLAN_BUDGET.json

No query names means the whole registry; ``--runs`` defaults to 2.

Cached tables are decoded once by ``queries.base.warm_cached_tables`` (what
``bench.py`` times against), then each query gets one untimed settling run,
so the first timed run does not pay the cached plan's codegen. On the
parquet files an untimed ``collect()`` of a fresh build takes its place, and
that executed plan gives the live scans (``tools.scan_audit.scan_counts``)
and ``inputFiles()`` the scanned bytes. A DataFrame written to the noop sink
is never walked: the write runs its own QueryExecution, so the DataFrame
keeps the unexecuted adaptive plan, which counts scans that never run.

Then N timed runs, each a ``build`` span (``QuerySpec.build`` and any eager
jobs it starts) and an ``execute`` span (the noop sink), whose jobs, stages,
tasks, executor time and shuffle/spill MB ``perfbench.spans.Tracer`` reads
from Spark's in-process status store, UI off. Pins are released after the
last run, outside the timed window. One JSON line per query, then a summary:
``summarize`` over the runs, max live scans, total spill MB (last runs) and
the worst shuffle-write MB (last execute) per scanned MB.

``--bench`` runs ``bench.py`` N times in fresh processes, or reads a file of
its JSON lines (``bench_runs/``), and prints ``summarize`` over them. Only
multi-run per-query minima compare across runs.

``--budget`` writes ``PLAN_BUDGET.json``, the committed plan budget that
``tests/test_plan_budget.py`` holds every query to: ``budget_rows`` keeps
each counter's maximum over N passes of the named queries in a new session
with the test fixture's confs (``local[8]``, 8 shuffle partitions). Named queries replace only their own rows. The budget is taken at
sf0.001 with a fresh ``TMPDIR`` and ``--runs 5``: a query's first use of a
temp directory can start extra build jobs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from lakehouse_architecture_spark.materialize import release_small_pins  # noqa: E402
from lakehouse_architecture_spark.queries.base import tables, warm_cached_tables  # noqa: E402
from lakehouse_architecture_spark.queries.registry import ALL_QUERIES  # noqa: E402
from lakehouse_architecture_spark.session import SessionFactory  # noqa: E402
from perfbench.spans import STAGE_FIELDS, Tracer  # noqa: E402
from tools.scan_audit import scan_counts  # noqa: E402

_MB = 1024.0 * 1024.0
BUDGET = os.path.join(REPO, "PLAN_BUDGET.json")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _counters(span: dict) -> dict:
    return {
        "s": round(span["end"] - span["start"], 3),
        "jobs": span["jobs"],
        "stages": span["stages"],
        **{k: round(span[k], 3) for k in STAGE_FIELDS},
    }


def timed_runs(spark, tracer: Tracer, name: str, sf_dir: str, n: int) -> list[dict]:
    """``n`` timed runs of one query: a fresh build, then the noop sink."""
    out = []
    for _ in range(n):
        with tracer.span("build") as build:
            df = ALL_QUERIES[name].build(spark, sf_dir)
        with tracer.span("execute") as execute:
            _noop(df)
        b, e = _counters(build), _counters(execute)
        out.append({"wall_s": round(b["s"] + e["s"], 3), "build": b, "execute": e})
    return out


def record(spark, tracer: Tracer, name: str, sf_dir: str, runs: int, parquet: bool) -> dict:
    """One query's record: over the parquet files with a scan audit when
    ``parquet``, else over tables ``warm_cached_tables`` already cached."""
    rec: dict = {"query": name, "scans": None, "scanned_mb": None}
    if parquet:
        df = ALL_QUERIES[name].build(spark, sf_dir)
        df.collect()
        rec["scans"] = scan_counts(df)
        paths = {f.removeprefix("file:") for f in df.inputFiles()}
        size = sum(os.path.getsize(p) for p in paths if os.path.exists(p))
        rec["scanned_mb"] = round(size / _MB, 3)
    else:
        _noop(ALL_QUERIES[name].build(spark, sf_dir))
    release_small_pins(spark)
    rec["runs"] = timed_runs(spark, tracer, name, sf_dir, runs)
    rec["pins"] = release_small_pins(spark)
    last = rec["runs"][-1]
    rec["spill_mb"] = round(last["build"]["spill_mb"] + last["execute"]["spill_mb"], 3)
    shuffled = last["execute"]["shuffle_write_mb"]
    rec["shuffle_over_scan"] = round(shuffled / rec["scanned_mb"], 4) if rec["scanned_mb"] else None
    return rec


def budget_row(spark, tracer: Tracer, name: str, sf_dir: str) -> dict:
    """One query's plan budget counters from a fresh build and ``collect()``
    over the parquet files: live file ``scans`` of the executed plan, the
    ``build_jobs`` started inside ``QuerySpec.build``, ``jobs`` and
    ``stages`` of build plus collect, and the ``pins`` released after it.
    The tables load first, outside the spans, so a first query does not
    count the catalog's load jobs. Each row starts with no pins and an empty
    cache: a ``cache_once`` table that an earlier query left behind (the
    shingle index ``q_ngram_jaccard`` shares with ``q_dedup_components``)
    would otherwise make a row depend on which queries ran before it."""
    tables(spark, sf_dir)
    release_small_pins(spark)
    spark.catalog.clearCache()
    try:
        with tracer.span("build") as build:
            df = ALL_QUERIES[name].build(spark, sf_dir)
        with tracer.span("collect") as run:
            df.collect()
        scans = scan_counts(df)["live"]
    finally:
        pins = release_small_pins(spark)
    return {
        "scans": scans,
        "build_jobs": build["jobs"],
        "jobs": build["jobs"] + run["jobs"],
        "stages": build["stages"] + run["stages"],
        "pins": pins,
    }


def budget_rows(sf_dir: str, names: list[str], runs: int) -> dict[str, dict]:
    """Each counter's maximum over ``runs`` passes of ``names``, in a new
    session with the test fixture's confs (``local[8]``, 8 shuffle
    partitions). Every row goes to stderr as it is measured."""
    spark = SessionFactory(app_name="measure", master="local[8]", shuffle_partitions=8).get_or_create()
    tracer = Tracer(spark, enabled=True)
    rows: dict[str, dict] = {}
    try:
        for _ in range(runs):
            for name in names:
                row = budget_row(spark, tracer, name, sf_dir)
                print(json.dumps({"query": name, **row}), file=sys.stderr)
                prev = rows.get(name, row)
                rows[name] = {k: max(v, prev[k]) for k, v in row.items()}
    finally:
        spark.stop()
    return rows


def write_budget(rows: dict[str, dict]) -> None:
    """Replace these rows of ``PLAN_BUDGET.json``; other rows stay as they
    are."""
    budget = {}
    if os.path.exists(BUDGET):
        with open(BUDGET) as f:
            budget = json.load(f)
    budget.update(rows)
    lines = [f"  {json.dumps(q)}: {json.dumps(budget[q])}" for q in ALL_QUERIES if q in budget]
    with open(BUDGET, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


def summarize(runs: list[dict]) -> dict:
    """Band of ``bench.py``-shaped runs: ``value``, ``queries`` and,
    optionally, ``cold_scan_total`` and ``cold_queries``."""
    cold = [r["cold_scan_total"] for r in runs if r.get("cold_scan_total") is not None]
    per_q = {
        q: sorted(r["queries"][q] for r in runs if q in r["queries"])
        for q in runs[0]["queries"]
    }
    out = {
        "n_runs": len(runs),
        "warm_totals": sorted(r["value"] for r in runs),
        "cold_totals": sorted(cold),
        "warm_min_sum": round(sum(v[0] for v in per_q.values()), 3),
        "per_query": {
            q: {"min": v[0], "median": round(statistics.median(v), 3), "max": v[-1]}
            for q, v in per_q.items()
        },
    }
    if cold and all("cold_queries" in r for r in runs):
        mins = (min(r["cold_queries"][q] for r in runs) for q in runs[0]["cold_queries"])
        out["cold_min_sum"] = round(sum(mins), 3)
    return out


def summary(records: list[dict], runs: int) -> dict:
    """``summarize`` over the timed runs, plus the scan and byte audit."""
    ok = [r for r in records if "error" not in r]
    passes = [
        {
            "value": round(sum(r["runs"][i]["wall_s"] for r in ok), 3),
            "queries": {r["query"]: r["runs"][i]["wall_s"] for r in ok},
        }
        for i in range(runs)
    ]
    scans = [r["scans"]["live"] for r in ok if r["scans"] is not None]
    ratios = [r for r in ok if r["shuffle_over_scan"] is not None]
    worst = max(ratios, key=lambda r: r["shuffle_over_scan"], default=None)
    return {
        **summarize(passes),
        "errors": [r["query"] for r in records if "error" in r],
        "max_live_scans": max(scans, default=None),
        "total_spill_mb": round(sum(r["spill_mb"] for r in ok), 3),
        "worst_shuffle_over_scan": worst and {"query": worst["query"], "ratio": worst["shuffle_over_scan"]},
    }


def bench_band(path: str, runs: int) -> dict:
    """``summarize`` over the JSON lines in ``path``, or, when ``path`` is
    empty, over ``runs`` fresh ``bench.py`` processes."""
    if path:
        with open(path) as f:
            return summarize([json.loads(line) for line in f if line.strip()])
    lines = []
    for i in range(runs):
        print(f"run {i + 1}/{runs} ...", file=sys.stderr)
        proc = subprocess.run([sys.executable, "bench.py"], capture_output=True, text=True, cwd=REPO)
        out = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not out:
            tail = "\n".join(proc.stderr.strip().splitlines()[-20:])
            raise RuntimeError(f"bench.py run {i + 1} exited {proc.returncode} with no JSON line:\n{tail}")
        lines.append(out[-1])
        print(lines[-1])
    return summarize([json.loads(line) for line in lines])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parquet", action="store_true", help="read the parquet files, not cached tables")
    p.add_argument("--runs", type=int, default=2, help="timed runs per query, bench.py runs, or budget passes")
    p.add_argument("--bench", nargs="?", const="", metavar="FILE", help="summarize bench.py runs")
    p.add_argument("--budget", action="store_true", help="write PLAN_BUDGET.json rows")
    p.add_argument("sf_dir", nargs="?")
    p.add_argument("queries", nargs="*")
    args = p.parse_args()
    if args.runs < 1:
        p.error("--runs must be at least 1")
    if args.bench is not None:
        print(json.dumps(bench_band(args.bench, args.runs)))
        return 0
    if args.sf_dir is None:
        p.error("SF_DIR is required")

    if args.budget:
        write_budget(budget_rows(args.sf_dir, args.queries or list(ALL_QUERIES), args.runs))
        return 0
    spark = SessionFactory(app_name="measure").get_or_create()
    tracer = Tracer(spark, enabled=True)
    if not args.parquet:
        warm_cached_tables(spark, args.sf_dir)
    records = []
    for name in args.queries or list(ALL_QUERIES):
        try:
            rec = record(spark, tracer, name, args.sf_dir, args.runs, args.parquet)
        except Exception as e:  # noqa: BLE001 - one broken query must not end an audit
            traceback.print_exc()
            release_small_pins(spark)
            first_line = str(e).partition("\n")[0][:160]
            rec = {"query": name, "error": f"{type(e).__name__}: {first_line}"}
        records.append(rec)
        print(json.dumps(rec))
    print(json.dumps(summary(records, args.runs)))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
