"""Spans around the engine's public functions, and per-operation Spark
counters read from Spark's own status stores.

Nothing here changes the engine. ``Tracer.install`` replaces each traced
function with a wrapper that records a span, in the defining module *and*
in every module that imported the name (``engine.py`` holds its own
``rewrite_presto_sql`` binding, and each operator module its own
``load_table``). ``SparkProbe`` tags each operation with a job group and,
after it finished, reads its jobs, stages, SQL executions and the phases of
the QueryExecution that ran. ``self_times`` splits an operation's wall time
into per-layer self times that add up to the wall time exactly.
"""

from __future__ import annotations

import functools
import hashlib
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (span name, module, attribute): the public functions each layer is entered
# through. A dotted attribute names a method on a class in that module.
TRACED = (
    ("session.get_spark", "presto_db_spark.session", "get_spark"),
    ("functions.register_presto", "presto_db_spark.functions.presto", "register_presto_functions"),
    ("functions.register_geo", "presto_db_spark.functions.geosql", "register_geo_functions"),
    ("catalog.register_tables", "presto_db_spark.catalog", "register_tables"),
    ("catalog.load_table", "presto_db_spark.catalog", "load_table"),
    ("dialect.rewrite", "presto_db_spark.functions.dialect", "rewrite_presto_sql"),
    ("engine.sql", "presto_db_spark.engine", "Engine.sql"),
    ("ddl.create_table_as", "presto_db_spark.ddl", "DdlMixin.create_table_as"),
    ("ddl.insert_into", "presto_db_spark.ddl", "DdlMixin.insert_into"),
    ("ddl.delete_where", "presto_db_spark.ddl", "DdlMixin.delete_where"),
)

# Spans each workload must record at least once, or the wrappers missed a
# binding and the per-layer numbers would silently read zero.
REQUIRED_SPANS = {
    "sql_dml": {"engine.sql", "dialect.rewrite", "ddl.create_table_as",
                "ddl.insert_into", "ddl.delete_where"},
    "extension_ops": {"operators.build", "catalog.load_table"},
}
SETUP_SPANS = {"session.get_spark", "functions.register_presto",
               "functions.register_geo", "catalog.register_tables", "catalog.load_table"}

# Spans measured outside Python. Siblings are made disjoint with wrapper
# spans first, then these in this order: a span keeps only the time no
# earlier sibling already covers.
_PRIORITY = ("catalyst.analysis", "catalyst.optimization", "catalyst.planning", "exec")
_RANK = {name: i + 1 for i, name in enumerate(_PRIORITY)}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


@dataclass
class Tracer:
    """Spans kept in memory; ``op`` names the operation they belong to."""

    spans: list[Span] = field(default_factory=list)
    op: str | None = None
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def place(self, root: int, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (a Catalyst phase, a job) under
        the innermost span of operation ``root`` that holds its midpoint."""
        mid, parent = (start + end) / 2, root
        for i in range(root + 1, len(self.spans)):
            s = self.spans[i]
            if s.name not in _PRIORITY and s.start <= mid <= s.end:
                parent = i
        self.spans.append(Span(name, start, end, parent, self.op))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every TRACED function, rebinding each module-level alias."""
        for name, modname, attr in TRACED:
            mod = sys.modules.get(modname) or __import__(modname, fromlist=["_"])
            owner, _, meth = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            original = getattr(holder, meth or attr)
            wrapper = self.wrap(name, original)
            setattr(holder, meth or attr, wrapper)
            if owner:
                continue
            for other in list(sys.modules.values()):
                if getattr(other, "__name__", "").startswith("presto_db_spark"):
                    for key, val in list(vars(other).items()):
                        if val is original:
                            setattr(other, key, wrapper)

    def missing(self, workload: str) -> set[str]:
        seen = {s.name for s in self.spans}
        return (REQUIRED_SPANS[workload] | SETUP_SPANS) - seen


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _minus(a: tuple[float, float], cover: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Parts of interval ``a`` not covered by the disjoint sorted ``cover``."""
    out, lo = [], a[0]
    for c0, c1 in cover:
        if c1 <= lo or c0 >= a[1]:
            continue
        if c0 > lo:
            out.append((lo, c0))
        lo = max(lo, c1)
    if lo < a[1]:
        out.append((lo, a[1]))
    return out


def _length(iv: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in iv)


def self_times(spans: list[Span], root: int) -> dict[str, float]:
    """Self time per span name under ``root``: each span's own interval,
    clipped to its parent, minus what its children cover. Children are made
    disjoint first (wrapper spans, then ``_PRIORITY`` order), so the values
    add up to the root's duration."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    out: dict[str, float] = {}

    def visit(i: int, own: list[tuple[float, float]]) -> None:
        kids = sorted(children.get(i, ()), key=lambda k: _RANK.get(spans[k].name, 0))
        taken: list[tuple[float, float]] = []
        for k in kids:
            parts: list[tuple[float, float]] = []
            for seg in own:
                lo, hi = max(seg[0], spans[k].start), min(seg[1], spans[k].end)
                if hi > lo:
                    parts.extend(_minus((lo, hi), taken))
            taken = _union(taken + parts)
            visit(k, parts)
        mine = [p for seg in own for p in _minus(seg, taken)]
        out[spans[i].name] = out.get(spans[i].name, 0.0) + _length(mine)

    visit(root, [(spans[root].start, spans[root].end)])
    return out


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric: '4,000', '31.4 KiB', or the
    'total (min, med, max ...)\\n2.0 MiB (...)' form of a multi-task one.
    Sizes come back rounded to one decimal of their unit."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    num, _, rest = text.strip().partition(" ")
    value = float(num.replace(",", ""))
    unit = rest.split(" ", 1)[0] if rest else ""
    return value * _SIZE_UNITS.get(unit, 1)


# Python-node SQL metric -> SparkProbe.end key.
_METRIC_KEYS = {
    "number of output rows": "arrow_rows_from_python",
    "data sent to Python workers": "arrow_bytes_to_python",
    "data returned from Python workers": "arrow_bytes_from_python",
}
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
             "FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow", "AggregateInPandas",
             "WindowInPandas", "ArrowWindowPython", "PythonMapInArrow")


def plan_hash(descs: list[str], paths: dict[str, str]) -> str:
    """md5 (12 hex) of physical-plan descriptions with run-varying ids
    removed: the normalization of ``bench.py:_last_plan_hash``, plus RDD
    call sites, object addresses, long hex ids (staging-table suffixes) and
    the directories in ``paths`` (replaced by their placeholder)."""
    desc = "\n".join(descs)
    for path, placeholder in paths.items():
        desc = desc.replace(path, placeholder)
    desc = re.sub(r"(RDD\[)\d+(\] at \w+) at [^,\n]*", r"\1\2", desc)
    desc = re.sub(r"Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda", desc)
    desc = re.sub(r"[0-9a-f]{12,}", "<hex>", desc)
    desc = re.sub(r"lambda [A-Za-z_]+_\d+", "lambda x_", desc)
    desc = re.sub(r"#\d+", "#", desc)
    desc = re.sub(r"RDD\[\d+\]", "RDD[]", desc)
    desc = re.sub(r"Statistics\([^)]*\)", "Statistics()", desc)
    desc = re.sub(r"\[plan_id=\d+\]", "[plan_id=]", desc)
    desc = re.sub(r"cachedrdd-\d+", "cachedrdd-", desc)
    return hashlib.md5(desc.encode()).hexdigest()[:12]


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkProbe:
    """Per-operation counters from the SparkContext's status tracker, the
    app status store and the SQL status store."""

    def __init__(self, spark, paths: dict[str, str]):
        self.paths = paths
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._group = ""
        self._last_exec = -1
        self._gc0 = 0

    def _gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def _exec_ids_after(self, last: int) -> list:
        n = int(self._sql.executionsCount())
        tail = _seq(self._sql.executionsList(max(0, n - 400), 400))
        return [e for e in tail if int(e.executionId()) > last]

    def begin(self, group: str) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        done = self._exec_ids_after(self._last_exec)
        if done:
            self._last_exec = max(int(e.executionId()) for e in done)
        self._group = group
        self._gc0 = self._gc_ms()
        self.sc.setJobGroup(group, group, False)

    def end(self, df=None) -> dict:
        """Counters of everything run since ``begin``; ``df`` is the frame
        whose QueryExecution produced the result, if any."""
        gc_ms = self._gc_ms() - self._gc0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._jsc.listenerBus().waitUntilEmpty()
        jobs, stages = [], {}
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(self._group)):
            jd = self._store.job(jid)
            jobs.append((_opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())))
            for sid in _seq(jd.stageIds()):
                sd = self._store.lastStageAttempt(sid)
                if str(sd.status()) in ("COMPLETE", "FAILED"):
                    stages[int(sid)] = sd
        out = {
            "jobs": len(jobs),
            "job_intervals": jobs,
            "stages": len(stages),
            "tasks": sum(int(s.numCompleteTasks()) for s in stages.values()),
            "task_cpu_s": sum(int(s.executorCpuTime()) for s in stages.values()) / 1e9,
            "shuffle_read_bytes": sum(int(s.shuffleReadBytes()) for s in stages.values()),
            "shuffle_write_bytes": sum(int(s.shuffleWriteBytes()) for s in stages.values()),
            "shuffle_read_records": sum(int(s.shuffleReadRecords()) for s in stages.values()),
            "shuffle_write_records": sum(int(s.shuffleWriteRecords()) for s in stages.values()),
            "spill_bytes": sum(int(s.diskBytesSpilled()) for s in stages.values()),
            "output_bytes": sum(int(s.outputBytes()) for s in stages.values()),
            "output_records": sum(int(s.outputRecords()) for s in stages.values()),
            "gc_ms": gc_ms,
            "arrow_rows_from_python": 0,
            "arrow_bytes_to_python": 0.0,
            "arrow_bytes_from_python": 0.0,
            "files_written": 0,
            "plan_hash": None,
            "phases": {},
        }
        execs = self._exec_ids_after(self._last_exec)
        seen: set[int] = set()
        for e in execs:
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                is_py = node.name() in _PY_NODES
                for m in _seq(node.metrics()):
                    key = _METRIC_KEYS.get(m.name()) if is_py else None
                    if m.name() == "number of written files":
                        key = "files_written"
                    acc = m.accumulatorId()
                    if key is None or acc in seen:
                        continue
                    seen.add(acc)
                    # Absent when the node ran inside a lazily checkpointed
                    # lineage: its tasks then belong to a later execution,
                    # whose plan does not list the node's metrics.
                    v = values.get(acc)
                    if v.isDefined():
                        out[key] += _metric_total(v.get())
        if execs:
            self._last_exec = max(int(e.executionId()) for e in execs)
            out["plan_hash"] = plan_hash([str(e.physicalPlanDescription()) for e in execs],
                                         self.paths)
        if df is not None:
            it = df._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                out["phases"][kv._1()] = (kv._2().startTimeMs() / 1000.0, kv._2().endTimeMs() / 1000.0)
        return out


def counters(stats: dict) -> dict:
    """The subset of ``SparkProbe.end`` output that host load cannot move.
    Shuffle volume is counted in records: the compressed byte count moves
    by a few hundred bytes between identical runs, because rows reach a
    shuffle write in whatever order the preceding shuffle read fetched
    them."""
    keys = ("jobs", "stages", "tasks", "shuffle_read_records", "shuffle_write_records",
            "arrow_rows_from_python", "arrow_bytes_to_python", "arrow_bytes_from_python",
            "plan_hash")
    return {k: stats[k] for k in keys}


def op_stats(tracer: Tracer, probe: SparkProbe, root: int, df=None) -> dict:
    """Everything a traced run keeps about the operation whose root span is
    ``tracer.spans[root]``: the probe's counters, its Catalyst phases and
    jobs placed as spans, and the self time of every layer."""
    stats = probe.end(df)
    rs = tracer.spans[root]
    for name, (a, b) in stats.pop("phases").items():
        if b > rs.start and a < rs.end:
            tracer.place(root, f"catalyst.{name}", a, b)
    jobs = [(max(a or rs.start, rs.start), min(b or rs.end, rs.end))
            for a, b in stats.pop("job_intervals")]
    for a, b in jobs:
        tracer.place(root, "exec", a, b)
    mine = tracer.spans[root:]
    stats["exec_s"] = _length(_union(jobs))
    stats["self"] = self_times(tracer.spans, root)
    stats["op_wall_s"] = rs.end - rs.start
    stats["spans"], stats["span_counts"] = {}, {}
    for s in mine:
        stats["span_counts"][s.name] = stats["span_counts"].get(s.name, 0) + 1
        if s.name not in _PRIORITY:
            stats["spans"][s.name] = stats["spans"].get(s.name, 0.0) + s.end - s.start
    stats["build_jobs"] = sum(1 for s in mine if s.name == "exec"
                              and tracer.spans[s.parent].name == "operators.build")
    return stats
