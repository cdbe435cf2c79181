"""The three closed-loop workloads.

A workload is a fixed sequence of statements (a *pass*), replayed in the
same order on every run; only the data and the write parameters depend on
the seed. Each statement returns its result, and its check compares that
result with DuckDB after the statement's clock has stopped.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from check import Oracle, result_hash

import fixtures


@dataclass
class Stmt:
    name: str
    kind: str  # "read" or "write"
    run: Callable[[], object]
    check: Callable[[object], bool]


@dataclass
class Context:
    spark: object
    seed: int
    cores: int
    cache: str
    work: str  # scratch space of this run, emptied at start
    tracer: object = None  # tracing.Tracer in traced runs


def _registry():
    import gpdb_spark.queries  # noqa: F401 — populate the registry
    from gpdb_spark.registry import ORACLE, QUERIES

    return QUERIES, ORACLE


def run_query(ctx: Context, name: str, data_dir: str):
    """Build, (traced: plan,) and collect one registered query."""
    queries, _ = _registry()
    tr = ctx.tracer
    if tr is None:
        df = queries[name](ctx.spark, data_dir)
        return df.columns, df.collect()
    import tracing
    from gpdb_spark.plans.motion import motion_summary

    with tr.span("queries.build"):
        df = queries[name](ctx.spark, data_dir)
    jobs = ctx.spark.sparkContext.statusTracker().getJobIdsForGroup(tr.stmt)
    tr.count("queries.build_jobs", len(jobs))
    tracing.plan(tr, df, motion_summary)
    return df.columns, df.collect()


class OracleCache:
    """DuckDB answers for the fixed-data reads, memoized on disk next to
    the fixtures (they depend on the data and the oracle text only)."""

    def __init__(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.path = os.path.join(data_dir, "oracle_hashes.txt")
        self.known: dict[str, str] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    key, h = line.split()
                    self.known[key] = h
        self._oracle: Oracle | None = None

    @property
    def oracle(self) -> Oracle:
        if self._oracle is None:
            self._oracle = Oracle(self.data_dir, fixtures.TABLES)
        return self._oracle

    def hash(self, name: str, sql: str) -> str:
        key = f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        if key not in self.known:
            self.known[key] = self.oracle.hash(sql)
            with open(self.path, "a") as f:
                f.write(f"{key} {self.known[key]}\n")
        return self.known[key]

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()


class RegistryWorkload:
    """Registered queries collected back to back, checked against
    ``registry.ORACLE`` on the same files."""

    names: tuple[str, ...] = ()
    scale = 1.0
    warm_scale = 0.1
    reblock = False
    # nominal seconds of one timed pass on local[2]; the timed phase runs
    # as many passes as fit --seconds at this pace
    pass_s = 10.0

    def prepare(self, ctx: Context) -> None:
        rg = 4 * ctx.cores if self.reblock else 1
        self.data = fixtures.ensure(ctx.cache, ctx.seed, self.scale, rg)
        self.warm = fixtures.ensure(ctx.cache, ctx.seed, self.warm_scale, rg)
        self.ctx = ctx

    def open(self) -> None:
        self.oracles = OracleCache(self.data)

    def _stmt(self, name: str, data_dir: str, checked: bool) -> Stmt:
        _, oracle = _registry()

        def check(res):
            cols, rows = res
            return result_hash(rows, cols) == self.oracles.hash(name, oracle[name])

        return Stmt(name, "read", lambda: run_query(self.ctx, name, data_dir),
                    check if checked else (lambda res: True))

    def warm_pass(self) -> list[Stmt]:
        return [self._stmt(n, self.warm, False) for n in self.names]

    def timed_pass(self, i: int) -> list[Stmt]:
        return [self._stmt(n, self.data, True) for n in self.names]

    # set by workloads that write
    changed_rows = 0
    stored_bytes_per_row: float | None = None

    def finish(self) -> tuple[int, int]:
        """Final checks: (items checked, items failed)."""
        self.oracles.close()
        return 0, 0


class OlapMultiFile(RegistryWorkload):
    """The JVM-only part of ``bench.HEADLINE`` on a multi-row-group twin."""

    scale = 12.0  # sf0.12: lineitem 720k rows
    warm_scale = 0.5
    reblock = True
    pass_s = 14.0

    @property
    def names(self):
        import bench

        py = ("dedup_", "embed_", "text_")
        return tuple(q for q in bench.HEADLINE if not q.startswith(py))


class DatapipeMl(RegistryWorkload):
    """Oracled training-data-pipeline operators (pandas/Arrow UDF workers,
    multi-job driver loops, eager build-time jobs)."""

    # embed_neardup_clusters is left out: its cost jumps between about
    # 1.6 s and 2.9 s with the label-propagation rounds the seed's data
    # needs, more than a run of this length can average (README.md, Noise)
    names = (
        "dedup_minhash_clusters",
        "embed_ann_topk",
        "embed_ann_topk_blocked",
        "text_quality_score",
        "logregr_irls",
        "events_funnel",
    )
    scale = 0.2  # 100 documents, 100 embeddings, 2000 events
    warm_scale = 0.2


class SqlSession(RegistryWorkload):
    """One ``Engine`` replaying the ``pg_*`` dialect texts as reads,
    interleaved with CTAS, INSERT, UPDATE, DELETE and read-backs."""

    scale = 1.0  # sf0.01
    READS_PER_WRITE = 4
    pass_s = 18.0

    def prepare(self, ctx: Context) -> None:
        self.data = fixtures.ensure(ctx.cache, ctx.seed, self.scale, 1)
        self.ctx = ctx
        self.tables_dir = os.path.join(ctx.work, "tables")
        shutil.rmtree(self.tables_dir, ignore_errors=True)
        os.makedirs(self.tables_dir)
        self.written: list[str] = []

    def open(self) -> None:
        from gpdb_spark.engine import Engine

        queries, oracle = _registry()
        self.reads = []
        for name in sorted(queries):
            p = inspect.signature(queries[name]).parameters.get("_sql")
            if name.startswith("pg_") and p is not None and name in oracle:
                self.reads.append((name, p.default, oracle[name]))
        self.oracles = OracleCache(self.data)
        # the DuckDB twin that replays every write
        self.twin = Oracle(self.data, fixtures.TABLES)
        self.engine = Engine(self.ctx.spark, sf_dir=self.data)

    # -- statements ------------------------------------------------------

    def _read(self, name: str, text: str, oracle_sql: str | None) -> Stmt:
        """A read through ``Engine.run``. With ``oracle_sql`` it is checked
        against the registered oracle; without, it reads tables the session
        wrote and is checked against the twin's current state."""

        def check(rows):
            if not rows:  # an empty result carries no column names
                db, sql = ((self.oracles.oracle, oracle_sql) if oracle_sql
                           else (self.twin, text))
                return not db.rows(sql)[1]
            mine = result_hash(rows, list(rows[0].__fields__))
            if oracle_sql is None:
                return mine == self.twin.hash(text)
            return mine == self.oracles.hash(name, oracle_sql)

        return Stmt(name, "read", lambda: self.engine.run(text), check)

    def _write(self, name: str, run, twin_sql: str, table: str) -> Stmt:
        """A write; its check replays ``twin_sql`` in DuckDB and, for DML,
        compares the affected-row counts."""

        def check(res):
            cur = self.twin.execute(twin_sql)
            if isinstance(res, int):  # execute_dml: affected rows
                changed = cur.fetchall()[0][0]
                ok = res == changed
            else:  # CTAS: every row of the new table
                changed = self.twin.rows(f"SELECT count(*) FROM {table}")[1][0][0]
                ok = True
            self.changed_rows += changed
            return ok

        return Stmt(name, "write", run, check)

    def _writes(self, tag: str, rng: random.Random, record: bool) -> list[Stmt]:
        """One generation of written tables: three CTAS (hash, random,
        replicated), INSERT VALUES, INSERT...SELECT, UPDATE, DELETE and
        read-backs. Texts are PG dialect; DuckDB replays the same ones."""
        eng = self.engine
        o, li, na = f"{tag}_ord", f"{tag}_li", f"{tag}_nat"
        path = lambda t: os.path.join(self.tables_dir, t)  # noqa: E731
        if record:
            self.written += [o, li, na]
        r3, r5 = rng.randrange(3), rng.randrange(5)
        c10, u7, d11 = rng.randrange(10), rng.randrange(7), rng.randrange(11)
        ctas_o = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
                  f"FROM orders WHERE o_orderkey % 3 = {r3}")
        ctas_li = ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
                   f"FROM lineitem WHERE l_orderkey % 5 = {r5}")
        ctas_na = "SELECT n_nationkey, n_name, n_regionkey FROM nation"
        vals = ", ".join(
            f"({10_000_000 + rng.randrange(10**6)}, {rng.randrange(1, 1500)}, "
            f"'N', {rng.randrange(100, 99999) / 100})"
            for _ in range(3)
        )
        ins_v = f"INSERT INTO {o} VALUES {vals}"
        ins_s = (f"INSERT INTO {o} SELECT o_orderkey, o_custkey, o_orderstatus, "
                 f"o_totalprice FROM orders WHERE o_orderkey % 3 = {(r3 + 1) % 3} "
                 f"AND o_custkey % 10 = {c10}")
        upd_o = (f"UPDATE {o} SET o_totalprice = o_totalprice + 1.5 "
                 f"WHERE o_custkey % 7 = {u7}")
        upd_li = f"UPDATE {li} SET l_quantity = l_quantity + 1 WHERE l_linenumber = 1"
        dele = f"DELETE FROM {o} WHERE o_orderstatus = 'P' OR o_custkey % 11 = {d11}"
        rb_o = (f"SELECT o_orderstatus, count(*) AS n, sum(o_custkey) AS sc, "
                f"sum(floor(o_totalprice * 100)::int8) AS cents FROM {o} "
                "GROUP BY o_orderstatus")
        rb_j = (f"SELECT n.n_regionkey, count(*) AS n, sum(l.l_quantity::int8) AS q "
                f"FROM {li} l JOIN {na} n ON l.l_linenumber = n.n_nationkey "
                "GROUP BY n.n_regionkey")
        return [
            self._write("ctas_distributed", lambda: eng.create_table_as(
                o, path(o), ctas_o, distributed_by=("o_orderkey",)),
                f"CREATE TABLE {o} AS {ctas_o}", o),
            self._write("ctas_randomly", lambda: eng.create_table_as(
                li, path(li), ctas_li), f"CREATE TABLE {li} AS {ctas_li}", li),
            self._write("ctas_replicated", lambda: eng.create_table_as(
                na, path(na), ctas_na, replicated=True),
                f"CREATE TABLE {na} AS {ctas_na}", na),
            self._write("insert_values", lambda: eng.execute_dml(ins_v), ins_v, o),
            self._write("insert_select", lambda: eng.execute_dml(ins_s), ins_s, o),
            self._read("readback_orders", rb_o, None),
            self._write("update", lambda: eng.execute_dml(upd_o), upd_o, o),
            self._write("update", lambda: eng.execute_dml(upd_li), upd_li, li),
            self._read("readback_join", rb_j, None),
            self._write("delete", lambda: eng.execute_dml(dele), dele, o),
            self._read("readback_orders", rb_o, None),
        ]

    def _pass(self, tag: str, record: bool) -> list[Stmt]:
        rng = random.Random(f"{self.ctx.seed}:{tag}")
        writes = self._writes(tag, rng, record)
        out: list[Stmt] = []
        for i, (name, text, oracle_sql) in enumerate(self.reads):
            if i % self.READS_PER_WRITE == 0 and writes:
                out.append(writes.pop(0))
            out.append(self._read(name, text, oracle_sql))
        return out + writes

    def warm_pass(self) -> list[Stmt]:
        return self._pass("w", record=False)

    def timed_pass(self, i: int) -> list[Stmt]:
        return self._pass(f"t{i}", record=True)

    def finish(self) -> tuple[int, int]:
        """Compare every table the timed phase wrote with the twin, and
        measure their on-disk bytes per live row."""
        failed = size = live = 0
        for t in self.written:
            df = self.engine.table(t)
            if result_hash(df.collect(), df.columns) != self.twin.hash(f"SELECT * FROM {t}"):
                failed += 1
            live += self.twin.rows(f"SELECT count(*) FROM {t}")[1][0][0]
            for root, _dirs, files in os.walk(os.path.join(self.tables_dir, t)):
                size += sum(os.path.getsize(os.path.join(root, f))
                            for f in files if f.endswith(".parquet"))
        self.stored_bytes_per_row = size / live if live else None
        self.oracles.close()
        self.twin.close()
        return len(self.written), failed


WORKLOADS = {
    "olap_multi_file": OlapMultiFile,
    "datapipe_ml": DatapipeMl,
    "sql_session": SqlSession,
}
