"""The audit tools run end to end: the plan audit passes, the
materialized ANN indexes match the DuckDB oracle post-build and post-churn
(``bench.py`` shells out to that one), and the plan digest runs."""

import json
import os
import subprocess
import sys

from tests.conftest import SF_CORRECT

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args: str) -> str:
    out = subprocess.run(
        [sys.executable, *args], cwd=REPO, capture_output=True, text=True, timeout=900
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    return out.stdout


def test_explain_plans_passes():
    assert "PLAN AUDIT: PASS" in _run("tools/explain_plans.py")


def test_check_index_parity_post_build_and_churn():
    stdout = _run("tools/check_index_parity.py", SF_CORRECT, "8", "1")
    line = next(x for x in stdout.splitlines() if x.startswith("INDEX_PARITY "))
    res = json.loads(line[len("INDEX_PARITY "):])
    assert res["ok"] is True, res


def test_plan_digest_smoke():
    """The plan digest runs end to end on a small ledger and strips the
    run-specific text: no expression ids, work paths or snapshot names."""
    import re

    out = _run("tools/plan_digest.py", "--ticks", "1", "--events", "1000")
    blocks = out.split("== execution ")[1:]
    assert blocks and blocks[0].startswith("0: initial plan"), out[:500]
    assert "Execute InsertIntoHadoopFsRelationCommand" in out
    assert "CreateViewCommand" not in out
    assert not re.search(r"#\d|plan_id=\d|snap-[0-9a-f]{12}|plan-digest-", out)
