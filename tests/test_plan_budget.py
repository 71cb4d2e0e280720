"""The committed plan budget (PLAN_BUDGET.json): per registry query, the
live file scans, build jobs, jobs, stages and pins of one fresh build plus
``collect()`` at sf0.001, in a new session with this suite's confs.
Scans, build jobs, jobs and stages may fall but not rise. Pins must match exactly: dropping a
pin can leave every other counter within budget while the plan recomputes
what the pin held.

A change that moves a counter regenerates its rows in the same commit:
``TMPDIR=$(mktemp -d) python tools/measure.py --budget --runs 5 SF_DIR
[QUERY ...]`` with SF_DIR the sf0.001 data.
"""

import json
import os
import subprocess
import sys

import pytest

from bench import HEADLINE
from lakehouse_architecture_spark.queries.registry import ALL_QUERIES
from tests.conftest import SF_SMOKE
from tools.measure import BUDGET

with open(BUDGET) as f:
    ROWS: dict[str, dict] = json.load(f)

#: Counters that may fall below the budget but not rise above it.
CEILINGS = ("scans", "build_jobs", "jobs", "stages")
FIELDS = (*CEILINGS, "pins")

#: The registry-wide live-scan ceiling; q08_market_share's eight scans sit
#: at it. A regenerated budget cannot quietly accept a plan that re-scans a
#: source once per reference.
MAX_SCANS = 8

#: Rows run in the default suite: the bench headline plus the plans that
#: pin multiply-referenced intermediates (rank family, exact quantiles,
#: graph, dedup, drift, correlation and quantized-kNN plans).
TIER1 = {
    *HEADLINE,
    "q_ks_exact",
    "q_lorenz",
    "q_adamic_adar_capped",
    "q_gini",
    "q_semdedup",
    "q_dsir_score",
    "q_compaction",
    "q_ewma_daily",
    "q_equidepth_bins",
    "q_ks_drift",
    "q_cross_corr",
    "q_int8_knn",
    "q_churn",
    "q_chi2",
}


def test_budget_covers_the_registry():
    assert set(ROWS) == set(ALL_QUERIES), "regenerate PLAN_BUDGET.json rows for added or removed queries"
    assert len(TIER1) == 50 and TIER1 <= set(ROWS)
    incomplete = [q for q, row in ROWS.items() if set(row) != set(FIELDS)]
    assert not incomplete, f"rows without exactly the fields {FIELDS}: {incomplete}"
    wide = {q: row["scans"] for q, row in ROWS.items() if row["scans"] > MAX_SCANS}
    assert not wide, f"budgeted live scans above {MAX_SCANS}: {wide}"


@pytest.fixture(scope="module")
def measured(request):
    """The selected rows, measured by ``tools.measure.budget_rows`` in a new
    process, as the budget was: late in the full suite the shared session
    gave q_lorenz 35 jobs and q_semdedup 14 against their fresh-session 31
    and 12."""
    names = [
        item.callspec.params["name"]
        for item in request.session.items
        if item.originalname == "test_plan_within_budget"
    ]
    code = "import json, sys; from tools.measure import budget_rows; print(json.dumps(budget_rows(sys.argv[1], sys.argv[2:], 1)))"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", code, SF_SMOKE, *names], capture_output=True, text=True, cwd=repo)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "name", [pytest.param(q, marks=() if q in TIER1 else pytest.mark.slow) for q in ROWS]
)
def test_plan_within_budget(measured, name):
    got, want = measured[name], ROWS[name]
    bad = [f"{k} {got[k]} > budget {want[k]}" for k in CEILINGS if got[k] > want[k]]
    if got["pins"] != want["pins"]:
        bad.append(f"pins {got['pins']} != budget {want['pins']}")
    assert not bad, f"{name}: " + ", ".join(bad)
