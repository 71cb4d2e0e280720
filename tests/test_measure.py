"""tools/measure.py: the per-query record, read from Spark's status store
with the UI off, and the run summary; plus an import guard for tools/."""

import glob
import importlib
import json
import os

import pytest

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_band_summary_unchanged():
    """Summarizing a committed band reproduces, key for key, the summary the
    retired tools/bench_band.py printed for it (tests/data)."""
    from tools.measure import bench_band

    got = bench_band(os.path.join(REPO, "bench_runs", "r16_head_post_6runs.jsonl"), 1)
    with open(os.path.join(REPO, "tests", "data", "bench_band_r16_head_post_6runs.json")) as f:
        want = json.load(f)
    assert list(got) == list(want)
    assert got == want
    assert (got["n_runs"], len(got["per_query"])) == (6, 36)
    assert (got["warm_min_sum"], got["cold_min_sum"]) == (27.521, 51.038)


@pytest.mark.parametrize("code, out", [(1, "warming up\n"), (0, "")])
def test_bench_band_reports_a_run_without_output(monkeypatch, code, out):
    """A bench.py run that exits non-zero or prints no JSON line fails with
    its stderr tail, not a bare IndexError."""
    import subprocess

    from tools import measure

    def run(*args, **kwargs):
        return subprocess.CompletedProcess(args, code, out, "Traceback ...\nMemoryError: boom\n")

    monkeypatch.setattr(measure.subprocess, "run", run)
    with pytest.raises(RuntimeError, match=f"run 1 exited {code} with no JSON line:\n(.|\n)*MemoryError: boom"):
        measure.bench_band("", 2)


def test_tools_import_without_running():
    """Every tools/ script imports cleanly (its main stays behind the
    ``__main__`` guard), and the two names perfbench imports from outside
    its own directory exist."""
    for path in sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))):
        importlib.import_module(f"tools.{os.path.basename(path)[:-3]}")
    from tools.oracle_check import canonical
    from tools.scan_audit import live_scan_count

    assert callable(canonical) and callable(live_scan_count)


@pytest.fixture(scope="module")
def tracer(spark):
    from perfbench.spans import Tracer

    return Tracer(spark, enabled=True)


def test_record_scans_come_from_the_executed_plan(spark, tracer):
    """The noop write runs its own QueryExecution, so walking the written
    DataFrame counts the unexecuted adaptive plan (40 scans for this query
    at sf0.001); the record must count the plan a collect() executed."""
    from lakehouse_architecture_spark.queries.registry import ALL_QUERIES
    from tools.measure import record
    from tools.scan_audit import live_scan_count

    rec = record(spark, tracer, "q_ri_orphans", SF_SMOKE, 1, parquet=True)
    df = ALL_QUERIES["q_ri_orphans"].build(spark, SF_SMOKE)
    df.collect()
    assert rec["scans"]["live"] == live_scan_count(df)
    assert rec["scanned_mb"] > 0


def test_record_jobs_and_stages_pinned(spark, tracer):
    """Status-store counters with the UI off: q01's settled run builds with
    no job and executes in 4 jobs of 1 stage each."""
    from tools.measure import record

    assert spark.sparkContext.uiWebUrl is None
    rec = record(spark, tracer, "q01_pricing_summary", SF_SMOKE, 2, parquet=True)
    second = rec["runs"][1]
    assert (second["build"]["jobs"], second["build"]["stages"]) == (0, 0)
    assert (second["execute"]["jobs"], second["execute"]["stages"]) == (4, 4)
    assert second["execute"]["tasks"] > 0
    assert second["wall_s"] == pytest.approx(second["build"]["s"] + second["execute"]["s"], abs=2e-3)
