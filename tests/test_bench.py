"""``bench.py`` end to end on one query: the headline JSON line, six
per-run counter records that repeat exactly, and no file written in the
checkout."""

import json
import os
import subprocess
import sys

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git_status() -> str:
    return subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=all"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout


def test_bench_reports_headline_and_repeating_counters():
    before = _git_status()
    env = {**os.environ, "BENCH_ONLY": "tpch_q06", "SPARK_GRAFT_SF_DIR": SF_DIR,
           "SPARK_DRIVER_MEMORY": "1g"}
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()

    head = json.loads(lines[-1])
    assert head["metric"] == "headline_suite_median_total"
    assert head["unit"] == "sec"
    assert list(head["queries"]) == ["tpch_q06"]
    assert head["value"] == head["queries"]["tpch_q06"] > 0
    assert head["sf"] == float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])

    detail = next(ln for ln in lines if ln.startswith("BENCH_DETAIL "))
    q06 = json.loads(detail[len("BENCH_DETAIL "):])["spread"]["tpch_q06"]
    assert len(q06["samples"]) == len(q06["gc_ms"]) == len(q06["counters"]) == 6
    keys = ("jobs", "stages", "tasks", "shuffle_read_records", "shuffle_write_records")
    runs = [tuple(c[k] for k in keys) for c in q06["counters"]]
    assert runs[0][0] > 0 and runs[0][2] > 0
    assert runs == [runs[0]] * 6

    assert _git_status() == before
