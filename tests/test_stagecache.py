"""``operators/stagecache`` is the one module that materializes a frame:
no operator calls ``localCheckpoint``/``persist`` itself, swapping ``pin``
reaches every site, and the persist cache survives a session restart."""

from __future__ import annotations

import ast
import collections
import json
import os
import pathlib
import subprocess
import sys

from pyspark import StorageLevel

from presto_db_spark.operators import dedup, stagecache, tpcds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MATERIALIZING = {"localCheckpoint", "checkpoint", "persist", "cache"}


def test_only_stagecache_materializes():
    ops = pathlib.Path(stagecache.__file__).parent
    calls = [
        f"{p.name}:{n.lineno}"
        for p in sorted(ops.rglob("*.py"))
        if p.name != "stagecache.py"
        for n in ast.walk(ast.parse(p.read_text()))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in _MATERIALIZING
    ]
    assert calls == []
    assert not hasattr(tpcds, "_MATERIALIZED_CTES")
    assert not hasattr(tpcds, "release_materialized_ctes")


def test_swapping_pin_reaches_every_site(spark, sf_dir, monkeypatch):
    """A persist policy in place of the lazy local checkpoint, installed in
    one place, is what dedup_cluster's pins use — with identical rows."""
    want = collections.Counter(map(tuple, dedup.QUERIES["dedup_cluster"](spark, sf_dir).collect()))
    pinned = []

    def persist_pin(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(df)
        return df

    monkeypatch.setattr(stagecache, "pin", persist_pin)
    try:
        got = collections.Counter(map(tuple, dedup.QUERIES["dedup_cluster"](spark, sf_dir).collect()))
    finally:
        for df in pinned:
            df.unpersist()
        spark.catalog.clearCache()
    assert len(pinned) > 1
    assert got == want


_RESTART = """
import json

from py4j.protocol import Py4JJavaError

from presto_db_spark.operators import stagecache, tpcds
from presto_db_spark.session import get_spark


def start():
    spark = get_spark("stagecache_restart", cpus="1")
    spark.conf.set("spark.presto_db.cte.materialize", "true")
    return spark


def attempt(step):
    try:
        return step()
    except Py4JJavaError as e:
        return str(e).splitlines()[0][:300]


# Distinct plans: frames with one plan share one cache entry, and only
# the first unpersist of a dead entry reaches the dead context.
spark = start()
stagecache.materialize_stage("x", spark.range(1)).count()
stagecache.materialize_stage("y", spark.range(2)).count()
tpcds._materialize_cte(spark, spark.range(3)).count()
spark.stop()
spark = start()
print(json.dumps({
    "stage": attempt(lambda: stagecache.materialize_stage("x", spark.range(4)).count()),
    "cte": attempt(lambda: tpcds._materialize_cte(spark, spark.range(5)).count()),
    "release": attempt(stagecache.release_stages),
}))
spark.stop()
"""


def test_stage_cache_survives_session_restart():
    """Handles left by a stopped SparkContext are dropped, not unpersisted:
    the next materialization (plain stage or persisted CTE) and
    ``release_stages`` work in the new session. Runs in a subprocess so the
    shared test session is not stopped."""
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {"stage": 4, "cte": 5, "release": None}
