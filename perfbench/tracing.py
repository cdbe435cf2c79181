"""Spans around the engine's public calls, and Spark counts per statement.

A traced run installs wrappers, from the benchmark's side, around the
calls each layer exposes (``dialect.pg_sql``/``translate``,
``catalog.load_table``/``spread``, the ``QUERIES`` builders,
``Engine.run``/``execute_dml``/``create_table_as``, ``GpTable`` writes and
``DataFrame.collect``/``count``). Each wrapper records a span: name,
start, end, parent and statement id. Spans stay in memory and are turned
into per-layer metrics when the run ends.

Spark's own counts come from the uncompressed event log: every statement
runs under ``setJobGroup(<statement id>)``, and stage and task events are
attributed to a statement through that group.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    stmt: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.stmt: str | None = None
        # statement id -> counters recorded at the wrappers
        self.counts: dict[str, dict[str, float]] = {}

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.stmt))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, key: str, n: float = 1) -> None:
        if self.stmt is None:
            return
        c = self.counts.setdefault(self.stmt, {})
        c[key] = c.get(key, 0) + n

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((s.end - s.start) - covered)
    return out


# -- wrappers ------------------------------------------------------------


def _replace_everywhere(orig, new) -> None:
    """Point every ``gpdb_spark`` module attribute bound to ``orig`` at
    ``new`` (modules that did ``from x import f`` hold their own name)."""
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == "gpdb_spark" or mname.startswith("gpdb_spark.")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def install(tracer: Tracer) -> None:
    """Wrap the public calls of every layer (traced runs only)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from gpdb_spark import catalog, dialect
    from gpdb_spark.engine import Engine
    from gpdb_spark.plans.motion import motion_summary
    from gpdb_spark.storage import GpTable

    _replace_everywhere(dialect.pg_sql, tracer.wrap("dialect.pg_sql", dialect.pg_sql))

    orig_translate = dialect.translate

    def translate(*a, **kw):
        tracer.count("dialect.translate_calls")
        with tracer.span("dialect.translate"):
            return orig_translate(*a, **kw)

    _replace_everywhere(orig_translate, functools.wraps(orig_translate)(translate))

    orig_load = catalog.load_table

    def load_table(spark, sf_dir, name):
        key = (spark.sparkContext.applicationId, sf_dir, name)
        tracer.count("catalog.load_calls")
        tracer.count("catalog.memo_hits", key in catalog._TABLE_MEMO)
        with tracer.span("catalog.load_table"):
            return orig_load(spark, sf_dir, name)

    _replace_everywhere(orig_load, functools.wraps(orig_load)(load_table))

    orig_spread = catalog.spread

    def spread(df, min_parallelism=None):
        with tracer.span("catalog.spread"):
            out = orig_spread(df, min_parallelism)
        tracer.count("catalog.spread_shuffles", out is not df)
        return out

    _replace_everywhere(orig_spread, functools.wraps(orig_spread)(spread))

    for meth in ("run", "execute_dml", "create_table_as"):
        setattr(Engine, meth, tracer.wrap(f"engine.{meth}", getattr(Engine, meth)))

    orig_sql = Engine.sql

    def sql(self, text):
        df = orig_sql(self, text)
        plan(tracer, df, motion_summary)
        return df

    Engine.sql = functools.wraps(orig_sql)(sql)

    for meth in ("_write", "_rewrite"):
        orig = getattr(GpTable, meth)

        def storage_write(self, df, *a, _orig=orig, **kw):
            before = _files(self.path)
            with tracer.span("storage.write"):
                out = _orig(self, df, *a, **kw)
            after = _files(self.path)
            new = {f: sz for f, sz in after.items() if before.get(f) != sz}
            tracer.count("storage.bytes_written", sum(new.values()))
            tracer.count("storage.files_written", len(new))
            return out

        setattr(GpTable, meth, functools.wraps(orig)(storage_write))

    for meth in ("collect", "count"):
        setattr(DataFrame, meth, tracer.wrap("exec.collect", getattr(DataFrame, meth)))


def plan(tracer: Tracer, df, motion_summary) -> None:
    """Time physical planning and count the plan's motions."""
    with tracer.span("plans.plan"):
        df._jdf.queryExecution().executedPlan()
    m = motion_summary(df)
    tracer.count("plans.motions", sum(m.values()))
    tracer.count("plans.broadcast_motions", m["broadcast"])


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


# -- Spark event log -----------------------------------------------------

_TASK_KEYS = {
    "Executor Run Time": "exec.task_run_ms",
    "Executor CPU Time": "exec.task_cpu_ms",  # ns, scaled below
    "JVM GC Time": "exec.gc_ms",
    "Disk Bytes Spilled": "exec.spill_bytes",
    "Result Size": "exec.result_bytes",
}
_PY_ACCUMS = {
    "time to start Python workers": "datapipe.python_boot_ms",
    "time to run Python workers": "datapipe.python_total_ms",
    "data sent to Python workers": "datapipe.bytes_to_python",
    "data returned from Python workers": "datapipe.bytes_from_python",
}


def event_log_counts(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks and task/SQL metrics."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def add(group, key, n):
        if group is None:
            return
        c = out.setdefault(group, {})
        c[key] = c.get(key, 0) + n

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                add(group, "exec.jobs", 1)
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                add(group, "exec.stages", 1)
                for acc in info.get("Accumulables", []):
                    key = _PY_ACCUMS.get(acc.get("Name"))
                    if key:  # timing metrics are already in ms
                        add(group, key, float(acc.get("Value") or 0))
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                add(group, "exec.tasks", 1)
                for k, key in _TASK_KEYS.items():
                    v = float(m.get(k, 0) or 0)
                    add(group, key, v / 1e6 if k == "Executor CPU Time" else v)
                sw = m.get("Shuffle Write Metrics") or {}
                add(group, "exec.shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0))
                sr = m.get("Shuffle Read Metrics") or {}
                add(group, "exec.shuffle_read_bytes",
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                add(group, "exec.input_bytes",
                    (m.get("Input Metrics") or {}).get("Bytes Read", 0))
    return out


# -- per-layer metrics -----------------------------------------------------

# name -> unit. Times and counts are per timed statement (mean), ratios
# are over the whole timed phase.
LAYERS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "catalog.load_ms": "ms",
    "catalog.memo_hit_ratio": "ratio",
    "catalog.spread_shuffles": "count",
    "dialect.translate_ms": "ms",
    "dialect.translate_calls": "count",
    "engine.self_ms": "ms",
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "plans.plan_ms": "ms",
    "plans.motions": "count",
    "plans.broadcast_motions": "count",
    "exec.exec_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.parallelism": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.result_bytes": "bytes",
    "datapipe.python_boot_ms": "ms",
    "datapipe.python_total_ms": "ms",
    "datapipe.bytes_to_python": "bytes",
    "datapipe.bytes_from_python": "bytes",
    "storage.write_ms": "ms",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "storage.write_amplification": "ratio",
    "storage.stored_bytes_per_row": "bytes",
    "trace.throughput_stmt_per_s": "1/s",
    "trace.read_p50_ms": "ms",
}

# span name -> layer time it sums into (outermost span of a name only)
_SPAN_TIME = {
    "catalog.load_table": "catalog.load_ms",
    "dialect.translate": "dialect.translate_ms",
    "queries.build": "queries.build_ms",
    "plans.plan": "plans.plan_ms",
    "storage.write": "storage.write_ms",
}
# spans that wait on Spark jobs: their outermost occurrences are exec time
_EXEC_SPANS = ("exec.collect", "storage.write")


def _timed(stmt: str | None) -> bool:
    return stmt is not None and stmt.startswith("t")


def per_layer(tracer: Tracer, work: str, e2e: dict, extra: dict,
              changed_rows: int) -> dict:
    """Per-layer metrics of the timed phase: {name: (value, unit)}.
    ``e2e`` and ``extra`` are the run's end-to-end and summary figures."""
    spans = tracer.spans
    selfs = self_times(spans)
    tot: dict[str, float] = {}

    def add(key, v):
        tot[key] = tot.get(key, 0.0) + v

    def has_ancestor(i, names):
        p = spans[i].parent
        while p is not None:
            if spans[p].name in names:
                return True
            p = spans[p].parent
        return False

    stmts = set()
    for i, s in enumerate(spans):
        if not _timed(s.stmt):
            continue
        ms = (s.end - s.start) * 1e3
        if s.name == "stmt":
            stmts.add(s.stmt)
        elif s.name.startswith("engine."):
            add("engine.self_ms", selfs[i] * 1e3)
        elif s.name in _SPAN_TIME and not has_ancestor(i, (s.name,)):
            add(_SPAN_TIME[s.name], ms)
        if s.name in _EXEC_SPANS and not has_ancestor(i, _EXEC_SPANS):
            add("exec.exec_ms", ms)
    for sid, c in tracer.counts.items():
        if _timed(sid):
            for k, v in c.items():
                add(k, v)
    # Spark 4 writes the log as a directory of event files (format v2)
    for root, _dirs, files in os.walk(os.path.join(work, "eventlog")):
        for f in sorted(files):
            if not f.startswith("events"):
                continue
            for group, c in event_log_counts(os.path.join(root, f)).items():
                if _timed(group):
                    for k, v in c.items():
                        add(k, v)

    n = max(1, len(stmts))
    out = {k: tot.get(k, 0.0) / n for k in LAYERS}
    calls = tot.get("catalog.load_calls", 0.0)
    out["catalog.memo_hit_ratio"] = tot.get("catalog.memo_hits", 0.0) / calls if calls else 0.0
    exec_ms = tot.get("exec.exec_ms", 0.0)
    out["exec.parallelism"] = tot.get("exec.task_run_ms", 0.0) / exec_ms if exec_ms else 0.0
    stored_bpr = extra["stored_bytes_per_row"] or 0.0
    changed = changed_rows * stored_bpr
    out["storage.write_amplification"] = (
        tot.get("storage.bytes_written", 0.0) / changed if changed else 0.0)
    out["storage.stored_bytes_per_row"] = stored_bpr
    out["session.start_s"] = extra["start_s"]
    out["session.warmup_s"] = extra["warmup_s"]
    out["session.peak_rss_mb"] = extra["peak_rss_mb"]
    out["trace.throughput_stmt_per_s"] = e2e["throughput_stmt_per_s"]
    out["trace.read_p50_ms"] = e2e["read_p50_ms"]
    return {k: (v, LAYERS[k]) for k, v in out.items()}
