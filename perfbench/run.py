#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, checked against DuckDB.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload sql_dml --seed 1 --seconds 10 --trace 0

One client submits one operation at a time against Spark ``local[<nproc>]``.
A run sets up the engine (``get_spark`` + ``Engine``), runs one unmeasured
warm-up pass, then measures whole passes until ``--seconds`` have elapsed
(a pass that has started is finished). Every result is compared with its
DuckDB answer on the same parquet, outside the timed phase.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's public functions (``spans.TRACED``), runs each operation under its
own Spark job group and reports the per-layer metrics instead. Both print a
human-readable summary, then one JSON line:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

Inputs are generated from a fixed data seed into ``perfbench/.work`` (see
``datagen.py``); ``--seed`` only orders the measured passes and picks the
ETL slices and predicates. Exits with code 2 when the engine's
sources are not in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import math
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "3g"
DATA_VERSION = "v1"

# Units of the metrics the summary prints for every run. The JSON carries
# the metrics BENCHMARK.json lists: the end-to-end ones of an untraced run,
# or the per-layer ones of a traced run. The others stay out of the JSON:
# read, write and delete exist on sql_dml only, the tail needs more than ten
# samples, failed_frac is zero when all is well, and the warm-up time and
# peak RSS spread too widely between runs to hold a bound.
SUMMARY_UNITS = {
    "setup_s": "s",
    "warmup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ops_per_s": "1/s",
    "failed_frac": "ratio",
    "rss_peak_mb": "MB",
    "read_p50_s": "s",
    "write_p50_s": "s",
    "delete_p50_s": "s",
}
# Layers whose self time is reported per operation (``self.<layer>_s``);
# the values of one operation add up to its wall time. "op" is the part no
# layer below accounts for.
SELF_LAYERS = ("op", "engine.sql", "dialect.rewrite", "catalyst.analysis",
               "catalyst.optimization", "catalyst.planning", "operators.build",
               "catalog.load_table", "exec", "collect", "ddl.create_table_as",
               "ddl.insert_into", "ddl.delete_where")


def _contract() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _env(run_dir: str) -> dict[str, str]:
    """Host-fitting settings, exported before pyspark starts the JVM."""
    tmp, local, warehouse = (os.path.join(run_dir, d) for d in ("tmp", "local", "warehouse"))
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        # For every JVM, spark-submit's launcher included; without
        # -XX:-UsePerfData each would write /tmp/hsperfdata_<user>.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", f"spark.sql.warehouse.dir={warehouse}", "pyspark-shell"]),
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return env


def _data_dir(sf: float) -> str:
    import datagen

    path = os.path.join(WORK, f"data-sf{sf}-{DATA_VERSION}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        datagen.write(tmp, sf)
        try:
            os.rename(tmp, path)
        except OSError:  # another run finished first
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _tail(samples: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or (None, None) with ten samples or fewer."""
    n = len(samples)
    if n <= 10:
        return None, None
    k = n - 10
    return 100.0 * k / n, sorted(samples)[k - 1]


class Runner:
    """Runs operations against one engine and keeps what each returned."""

    def __init__(self, data_dir: str, run_dir: str, tracer=None):
        import spans
        from presto_db_spark import Engine, get_spark
        from presto_db_spark.registry import all_queries

        self.data_dir, self.tracer = data_dir, tracer
        self.queries = all_queries()
        t0 = time.perf_counter()
        with self._span("setup"):
            self.spark = get_spark()
            self.engine = Engine(self.spark, sf_dir=data_dir)
        self.setup_s = time.perf_counter() - t0
        paths = {run_dir: "<run>", ROOT: "<root>"}
        self.probe = spans.SparkProbe(self.spark, paths) if tracer else None
        self.bookkeeping_s = 0.0

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def _execute(self, op):
        from workloads import ETL_TABLE

        eng = self.engine
        if op.kind in ("sql", "read"):
            df = eng.sql(op.text)
        elif op.kind == "operator":
            with self._span("operators.build"):
                df = self.queries[op.text](self.spark, self.data_dir)
        elif op.kind == "create":
            eng.create_table_as(ETL_TABLE, op.text)
            return None, None
        elif op.kind == "insert":
            eng.insert_into(ETL_TABLE, op.text)
            return None, None
        elif op.kind == "delete":
            return None, eng.delete_where(ETL_TABLE, op.text)
        else:
            raise ValueError(op.kind)
        with self._span("collect"):
            pdf = df.toPandas()
        return df, pdf

    def run(self, op, tag: str) -> dict:
        """Run one operation; returns its record (wall time, result, error,
        and in a traced run its counters and self times)."""
        import oracle
        import spans

        rec = {"op": op, "tag": tag, "error": None, "diff": None, "result": None}
        tr = self.tracer
        if tr:
            self.probe.begin(tag)
            tr.op = tag
            root = len(tr.spans)
        df = None
        t0 = time.perf_counter()
        try:
            with self._span("op"):
                df, result = self._execute(op)
            rec["wall_s"] = time.perf_counter() - t0
            rec["result"] = oracle.frame_rows(result) if hasattr(result, "itertuples") else result
        except Exception:  # an operation that raises counts as failed; keep going
            rec["wall_s"] = time.perf_counter() - t0
            rec["error"] = traceback.format_exc(limit=3).strip().splitlines()[-1]
        if tr:
            b0 = time.perf_counter()
            rec["stats"] = spans.op_stats(tr, self.probe, root, df)
            rec["stats"]["rows"] = len(rec["result"][1]) if isinstance(rec["result"], tuple) else 0
            tr.op = None
            self.bookkeeping_s += time.perf_counter() - b0
        return rec

    def drop_table(self) -> None:
        from workloads import ETL_TABLE

        self.engine.sql(f"DROP TABLE IF EXISTS {ETL_TABLE}")

    def rss_peak_mb(self) -> float:
        return _rss_mb(os.getpid()) + _rss_mb(self.spark.sparkContext._gateway.proc.pid)

    def close(self) -> None:
        """Stop Spark and wait until the JVM (and its Python workers) exit."""
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _base_ops(workload: str, oracle_sql: dict[str, str]) -> list:
    """The operations of every pass whose answer does not depend on the seed."""
    import workloads as W

    if workload == "sql_dml":
        return W.tpch_sql(oracle_sql)
    return W.extension_ops(oracle_sql)


def _expected(base, records, data_dir: str) -> list:
    """Expected answer for each record, computed with DuckDB. ETL steps are
    replayed in the order they ran; each cycle starts by replacing the
    table."""
    import oracle
    import workloads as W

    cached = oracle.cached_expected(
        data_dir, os.path.join(WORK, "oracle"), oracle.fingerprint(data_dir),
        {op.name: op.oracle for op in base})
    con = oracle.connect(data_dir)
    try:
        return [oracle.replay(con, r["op"], W.ETL_TABLE) if r["op"].kind in W.ETL_KINDS
                else cached[r["op"].name] for r in records]
    finally:
        con.close()


def _median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def _e2e(runner, warm, measured, phase_s, rss_mb) -> dict:
    lat = [r["wall_s"] for r in measured]

    def by_kind(*kinds):
        return [r["wall_s"] for r in measured if r["op"].kind in kinds]

    pct, tail = _tail(lat)
    failed = sum(1 for r in measured if not r["ok"])
    return {
        "setup_s": runner.setup_s,
        "warmup_s": sum(r["wall_s"] for r in warm),
        "latency_p50_s": statistics.median(lat),
        "ops_per_s": len(measured) / phase_s,
        "rss_peak_mb": rss_mb,
        "latency_tail_s": tail,
        "latency_tail_pct": pct,
        "failed_frac": failed / len(measured),
        "read_p50_s": _median(by_kind("read", "sql", "operator")),
        "write_p50_s": _median(by_kind("create", "insert")),
        "delete_p50_s": _median(by_kind("delete")),
    }


def _layers(tracer, runner, measured) -> dict:
    n = len(measured)
    st = [r["stats"] for r in measured]

    def mean(f):
        return sum(f(s) for s in st) / n

    def setup_span(*names):
        return sum(s.end - s.start for s in tracer.spans if s.op is None and s.name in names)

    def per_user(span_name):
        """Mean time in ``span_name`` over the operations that entered it."""
        d = [s["spans"][span_name] for s in st if span_name in s["spans"]]
        return sum(d) / len(d) if d else 0.0

    writes = [s for r, s in zip(measured, st) if r["op"].kind in ("create", "insert")]
    deletes = [(r, s) for r, s in zip(measured, st) if r["op"].kind == "delete"]
    deleted = sum(r["result"] for r, _ in deletes if isinstance(r["result"], int))

    def phase_ms(name):
        return mean(lambda s: s["self"].get(f"catalyst.{name}", 0.0)) * 1000

    out = {
        "session.get_spark_s": setup_span("session.get_spark"),
        "functions.register_s": setup_span("functions.register_presto", "functions.register_geo"),
        "catalog.attach_s": setup_span("catalog.register_tables"),
        "dialect.rewrite_ms": per_user("dialect.rewrite") * 1000,
        "engine.sql_ms": per_user("engine.sql") * 1000,
        "catalyst.analysis_ms": phase_ms("analysis"),
        "catalyst.optimization_ms": phase_ms("optimization"),
        "catalyst.planning_ms": phase_ms("planning"),
        "exec.s": mean(lambda s: s["exec_s"]),
        "exec.task_cpu_s": mean(lambda s: s["task_cpu_s"]),
        "exec.jobs": mean(lambda s: s["jobs"]),
        "exec.stages": mean(lambda s: s["stages"]),
        "exec.tasks": mean(lambda s: s["tasks"]),
        "exec.driver_gap_s": mean(lambda s: s["op_wall_s"] - s["exec_s"]),
        "exec.spill_bytes": mean(lambda s: s["spill_bytes"]),
        "exchange.shuffle_read_bytes": mean(lambda s: s["shuffle_read_bytes"]),
        "exchange.shuffle_write_bytes": mean(lambda s: s["shuffle_write_bytes"]),
        "jvm.gc_ms": mean(lambda s: s["gc_ms"]),
        "operators.build_s": mean(lambda s: s["spans"].get("operators.build", 0.0)),
        "operators.build_jobs": mean(lambda s: s["build_jobs"]),
        "catalog.load_table_calls": mean(lambda s: s["span_counts"].get("catalog.load_table", 0)),
        "catalog.load_table_s": mean(lambda s: s["self"].get("catalog.load_table", 0.0)),
        "arrow.rows_from_python": mean(lambda s: s["arrow_rows_from_python"]),
        "arrow.bytes_to_python": mean(lambda s: s["arrow_bytes_to_python"]),
        "arrow.bytes_from_python": mean(lambda s: s["arrow_bytes_from_python"]),
        "collect.rows": mean(lambda s: s["rows"]),
        "ddl.create_table_as_s": per_user("ddl.create_table_as"),
        "ddl.insert_into_s": per_user("ddl.insert_into"),
        "ddl.bytes_written": (sum(s["output_bytes"] for s in writes) / len(writes)) if writes else 0.0,
        "ddl.files_written": (sum(s["files_written"] for s in writes) / len(writes)) if writes else 0.0,
        "ddl.delete_where_s": per_user("ddl.delete_where"),
        "ddl.delete_rows_rewritten_per_deleted": (
            sum(s["output_records"] for _, s in deletes) / deleted) if deleted else 0.0,
        "trace.latency_p50_s": statistics.median(r["wall_s"] for r in measured),
        "trace.bookkeeping_s": runner.bookkeeping_s / n,
    }
    for layer in SELF_LAYERS:
        out[f"self.{layer}_s"] = mean(lambda s: s["self"].get(layer, 0.0))
    residual = max(abs(sum(s["self"].values()) - s["op_wall_s"]) for s in st)
    if residual > 1e-6:
        raise RuntimeError(f"self times do not add up to wall time (residual {residual:.3g} s)")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "presto_db_spark", "engine.py")):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    for stale in glob.glob(os.path.join(WORK, "run-*")):  # left by a killed run
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        return _bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _bench(args, run_dir: str) -> int:
    env = _env(run_dir)
    import oracle
    import spans
    import workloads as W

    data_dir = _data_dir(W.SF)
    from presto_db_spark.registry import all_oracle_sql

    base = _base_ops(args.workload, all_oracle_sql())
    oracle.cached_expected(  # fill the answer cache before anything is timed
        data_dir, os.path.join(WORK, "oracle"), oracle.fingerprint(data_dir),
        {op.name: op.oracle for op in base})
    tracer = spans.Tracer() if args.trace else None
    if tracer:
        tracer.install()
    runner = Runner(data_dir, run_dir, tracer)
    try:
        def one_pass(tag: str, rng: random.Random) -> list[dict]:
            ops = W.make_pass(args.workload, base, rng)
            recs = [runner.run(op, f"{tag}-{i}") for i, op in enumerate(ops)]
            if any(op.kind in W.ETL_KINDS for op in ops):
                runner.drop_table()
            return recs

        # The warm-up order is the same for every seed, so that the cold
        # first operation is always the same one.
        warm_rng = random.Random(0)
        warm = [r for i in range(W.WARMUP_PASSES[args.workload])
                for r in one_pass(f"w{i}", warm_rng)]
        rng = random.Random(args.seed)
        measured: list[dict] = []
        passes = 0
        t0 = time.perf_counter()
        while passes == 0 or time.perf_counter() - t0 < args.seconds:
            measured += one_pass(f"p{passes}", rng)
            passes += 1
        phase_s = time.perf_counter() - t0
        rss = runner.rss_peak_mb()
    finally:
        runner.close()

    records = warm + measured
    answers = _expected(base, records, data_dir)
    for r, want in zip(records, answers):
        if r["error"] is None and isinstance(want, tuple):
            r["diff"] = oracle.compare(r["result"], want) if r["result"] is not None else "no rows"
        elif r["error"] is None and r["result"] != want:
            r["diff"] = f"got {r['result']!r} want {want!r}"
        r["ok"] = r["error"] is None and r["diff"] is None
    for r in records:
        status = "ok" if r["ok"] else f"FAILED {r['error'] or r['diff']}"
        print(f"op {r['tag']:<8} {r['op'].name:<24} {r['wall_s']:.4f} s  {status}")
    bad = [r for r in records if not r["ok"]]

    print(f"workload {args.workload} seed {args.seed} sf {W.SF}: {len(warm)} warm-up ops, "
          f"{passes} measured pass(es), {len(measured)} ops in {phase_s:.3f} s; "
          f"env " + " ".join(f"{k}={env[k]}" for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")))
    e2e = _e2e(runner, warm, measured, phase_s, rss)
    for name, unit in SUMMARY_UNITS.items():
        v = e2e[name]
        shown = "n/a" if v is None else f"{v:.6g} {unit}"
        if name == "latency_tail_s" and v is not None:
            shown += f" (p{e2e['latency_tail_pct']:.1f})"
        print(f"  {name:<16} {shown}  (n={len(measured)})")
    e2e_units, layer_units = _contract()
    if tracer:
        missing = tracer.missing(args.workload)
        if missing:
            raise RuntimeError(f"traced layers recorded no span: {sorted(missing)}")
        metrics, units = _layers(tracer, runner, measured), layer_units
        _write_trace(args, tracer, records)
        for name, unit in units.items():
            print(f"  {name:<40} {metrics[name]:.6g} {unit}")
    else:
        metrics, units = e2e, e2e_units
    out = {
        "correct": not bad,
        "attempted": len(measured),
        "failed": sum(1 for r in measured if not r["ok"]),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    for k, v in out["metrics"].items():
        if not math.isfinite(v["value"]):
            raise RuntimeError(f"metric {k} is not finite")
    print(json.dumps(out))
    return 0


def _write_trace(args, tracer, records) -> None:
    """Spans and per-operation counters, for reading by hand."""
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    ops = []
    for r in records:
        s = r.get("stats", {})
        ops.append({"tag": r["tag"], "name": r["op"].name, "wall_s": r["wall_s"], "ok": r["ok"], **s})
    spans = [vars(s) for s in tracer.spans]
    with open(path, "w") as f:
        json.dump({"ops": ops, "spans": spans}, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
