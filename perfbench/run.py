"""Lakehouse benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload headline_cached --seed 1 --seconds 20 --trace 0

Run from the repository root. The engine package is imported from the
directory above this one; every input is generated from ``--seed`` into a
scratch directory under ``perfbench/.work`` (removed at the end), and Spark's
local, temporary and warehouse directories are pointed there too. One driver
process runs ``local[$SPARK_GRAFT_CPUS]`` as one closed-loop client.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones (the traced run
also writes its spans to ``perfbench/.traces/``). Lines before it print
every metric the workload measured, by name and unit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: workload -> (module, function) with ``function(Run, seed, seconds) -> dict``
WORKLOADS = {
    "headline_cached": ("headline", "run"),
    "ingest_upsert": ("ingest", "run"),
}

END_TO_END = {
    "pass_s": "s",
    "setup_s": "s",
}

#: Span names whose wall is driver-side plan construction, and those whose
#: wall is the action that executes a plan.
BUILD_SPANS = ("queries.build", "streaming.build", "table_format.read")
EXEC_SPANS = ("operators.execute", "streaming.run")
SETUP_TABLE_SPANS = ("session.ship", "catalog.load", "catalog.cache", "table_format.seed")

PER_LAYER = {
    "session.start_s": "s",
    "tables.load_s": "s",
    "first_pass.input_mb": "MB",
    "plans.live_scans": "count",
    "driver.build_s": "s",
    "driver.build_jobs": "count",
    "driver.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.busy_frac": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.input_mb": "MB",
    "spark.gc_s": "s",
}


def per_layer(r, n_passes: int, cores: int) -> dict[str, float]:
    """Layer metrics from the traced run's spans: set-up and first-pass
    totals, then per timed pass."""
    spans = r.tracer.spans

    def wall(ss, names) -> float:
        return sum(s["end"] - s["start"] for s in ss if s["name"] in names)

    (first,) = [s for s in spans if s["name"] == "first_pass"]
    in_first = [s for s in spans if first["start"] <= s["start"] and s["end"] <= first["end"]]
    timed = r.tracer.timed_spans()
    roots = [s for s in timed if s["parent"] is None]
    root_wall = sum(s["end"] - s["start"] for s in roots)

    def total(key: str, names=None) -> float:
        return sum(s.get(key, 0) for s in timed if names is None or s["name"] in names)

    n = max(1, n_passes)
    return {
        "session.start_s": wall(spans, ("session.start",)),
        "tables.load_s": wall([s for s in spans if s["trace"] == 0], SETUP_TABLE_SPANS),
        "first_pass.input_mb": sum(s.get("input_mb", 0) for s in in_first),
        "plans.live_scans": r.info["plans.live_scans"][0],
        "driver.build_s": wall(timed, BUILD_SPANS) / n,
        "driver.build_jobs": total("jobs", BUILD_SPANS) / n,
        "driver.exec_s": wall(timed, EXEC_SPANS) / n,
        "spark.jobs": total("jobs") / n,
        "spark.stages": total("stages") / n,
        "spark.tasks": total("tasks") / n,
        "spark.executor_run_s": total("run_s") / n,
        "spark.executor_cpu_s": total("cpu_s") / n,
        "spark.busy_frac": total("run_s") / (root_wall * cores),
        "spark.shuffle_read_mb": total("shuffle_read_mb") / n,
        "spark.shuffle_write_mb": total("shuffle_write_mb") / n,
        "spark.input_mb": total("input_mb") / n,
        "spark.gc_s": total("gc_s") / n,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lakehouse_architecture_spark", "__init__.py")):
        print(f"perfbench: no engine package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp  # Python workers and the engine's package zip
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None

    from common import Run

    module, func = WORKLOADS[args.workload]
    workload = getattr(importlib.import_module(module), func)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    r = Run(work, traced=bool(args.trace))
    try:
        res = workload(r, args.seed, args.seconds)
        r.rss.sample()
        layers = per_layer(r, res["n_passes"], cores) if args.trace else {}
    finally:
        r.close()
        shutil.rmtree(work, ignore_errors=True)

    e2e = {k: res[k] for k in END_TO_END}
    r.info["peak_rss_mb"] = (r.rss.peak_mb(), "MB")
    r.info["jvm_peak_rss_mb"] = (r.rss.jvm_peak_mb(), "MB")
    for k, v in e2e.items():
        print(f"{k:32s} {v:12.4f} {END_TO_END[k]}")
    for k, (v, unit) in sorted(r.info.items()):
        if k in layers:
            continue
        print(f"{k:32s} {v:12.4f} {unit}")
    if args.trace:
        from spans import layer_table

        for k, v in layers.items():
            print(f"{k:32s} {v:12.4f} {PER_LAYER[k]}")
        print("span                         calls   wall_s   self_s  jobs stages")
        for name, row in layer_table(r.tracer.timed_spans()).items():
            print(
                f"{name:28s} {row['calls']:5d} {row['wall_s']:8.3f} {row['self_s']:8.3f}"
                f" {row['jobs']:5d} {row['stages']:6d}"
            )
        out = os.path.join(HERE, ".traces")
        os.makedirs(out, exist_ok=True)
        r.tracer.write(os.path.join(out, f"{args.workload}-seed{args.seed}-{int(time.time())}.json"))
    metrics, units = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)
    print(
        json.dumps(
            {
                "correct": r.failed == 0,
                "attempted": r.attempted,
                "failed": r.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
