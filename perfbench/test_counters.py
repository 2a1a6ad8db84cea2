"""The per-operation counters repeat exactly.

Jobs, stages, tasks, shuffle bytes, rows and bytes across the Arrow
boundary, and the normalized final-plan hash should not move with host
load, so a later change can cite them as evidence. This runs a TPC-H query
and an ETL cycle from ``sql_dml`` and an Arrow operator from
``extension_ops`` twice each in one session, and requires identical
counters.

Run from the root of a checkout: ``python3 -m pytest perfbench/test_counters.py``.
The Spark work runs in a child process, because the benchmark sets its own
environment before pyspark starts.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _child() -> None:
    sys.path.insert(0, HERE)
    import run
    import spans
    import workloads as W

    run_dir = os.path.join(run.WORK, f"run-{os.getpid()}")
    try:
        run._env(run_dir)
        data_dir = run._data_dir(W.SF)
        sys.path.insert(0, run.ROOT)
        from presto_db_spark.registry import all_oracle_sql

        oracle_sql = all_oracle_sql()
        tracer = spans.Tracer()
        tracer.install()
        runner = run.Runner(data_dir, run_dir, tracer)
        try:
            groups = {
                "tpch": [op for op in W.tpch_sql(oracle_sql) if op.name == "tpch_q03"],
                "etl": W.etl_cycle(random.Random(7), int(W.SF * 1_500_000)),
                "extension": [op for op in W.extension_ops(oracle_sql)
                              if op.name == "sim_knn_graph"],
            }
            out: dict[str, list] = {}
            for group, ops in groups.items():
                for attempt in range(2):
                    for i, op in enumerate(ops):
                        rec = runner.run(op, f"{group}-{attempt}-{i}")
                        if rec["error"]:
                            raise RuntimeError(f"{op.name}: {rec['error']}")
                        out.setdefault(f"{group}/{op.name}", []).append(
                            spans.counters(rec["stats"]))
                    if group == "etl":
                        runner.drop_table()
        finally:
            runner.close()
        print("COUNTERS " + json.dumps(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def test_counters_repeat_exactly():
    root = os.path.dirname(HERE)
    proc = subprocess.run([sys.executable, os.path.abspath(__file__)], cwd=root,
                          capture_output=True, text=True, timeout=900)
    line = next((ln for ln in proc.stdout.splitlines() if ln.startswith("COUNTERS ")), None)
    assert line is not None, f"child failed (rc={proc.returncode}): {proc.stderr[-2000:]}"
    results = json.loads(line[len("COUNTERS "):])
    assert {k.split("/")[0] for k in results} == {"tpch", "etl", "extension"}
    for name, (first, second) in results.items():
        assert first == second, f"{name}: {first} != {second}"
    assert results["extension/sim_knn_graph"][0]["arrow_rows_from_python"] > 0
    assert results["tpch/tpch_q03"][0]["plan_hash"]


if __name__ == "__main__":
    _child()
