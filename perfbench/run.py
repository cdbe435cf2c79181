#!/usr/bin/env python3
"""Closed-loop, single-client benchmark of the gpdb_spark engine.

    python3 perfbench/run.py --workload sql_session --seed 1 --seconds 24 --trace 0

Run from the repository root. One run is one fresh process: it generates
(or reuses) the seeded fixtures, starts Spark on ``local[--cores]``, does a
fixed warm-up, then replays as many whole passes of the workload's
statements as fit ``--seconds`` at the workload's nominal pass time.
Every statement's result is checked against DuckDB after its clock
stops. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). See
perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
CACHE = os.path.join(ROOT, ".bench_cache")

import fixtures  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, Context  # noqa: E402

UNITS = {
    "setup_s": "s", "throughput_stmt_per_s": "1/s", "read_p50_ms": "ms",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=2)
    p.add_argument("--curve", type=int, default=0, metavar="P",
                   help="skip the warm-up and print the per-pass curve of "
                        "P passes instead of a result")
    return p.parse_args(argv)


def configure_env(cores: int) -> str:
    """Keep every file the run writes inside the checkout."""
    work = os.path.join(CACHE, f"run{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    time.tzset()
    return work


def start_spark(work: str, trace: bool):
    from gpdb_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """JVM VmHWM plus this process's ru_maxrss."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


class Runner:
    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.samples: list[tuple[str, str, float, bool]] = []  # name, kind, s, ok

    def execute(self, stmt, sid: str, checked: bool) -> tuple[float, bool]:
        tr = self.ctx.tracer
        if tr is not None:
            tr.stmt = sid
            self.ctx.spark.sparkContext.setJobGroup(sid, stmt.name)
        ok = True
        t0 = time.perf_counter()
        try:
            if tr is not None:
                with tr.span("stmt"):
                    res = stmt.run()
            else:
                res = stmt.run()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res, ok = None, False
        dt = time.perf_counter() - t0
        if tr is not None:
            tr.stmt = None
        if ok and checked:
            try:
                ok = bool(stmt.check(res))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                print(f"check failed: {sid} {stmt.name}", file=sys.stderr)
        return dt, ok

    def warm(self, stmts) -> None:
        for i, s in enumerate(stmts):
            self.execute(s, f"w.{i}", checked=False)

    def timed(self, wl, seconds: float) -> float:
        """A fixed number of whole passes: as many as fit ``seconds`` at
        the workload's nominal pass time, at least one. The count does not
        depend on how fast this run happens to be, and a run always ends
        on a pass boundary: statements differ in cost by 10-50x, and where
        the clock ran out mid-pass would otherwise decide which of them the
        medians see."""
        total = 0.0
        for p in range(max(1, int(seconds // wl.pass_s))):
            for i, s in enumerate(wl.timed_pass(p)):
                dt, ok = self.execute(s, f"t{p}.{i}", checked=True)
                self.samples.append((s.name, s.kind, dt, ok))
                total += dt
        return total


def end_to_end(runner: Runner, wl, setup_s: float, busy_s: float) -> dict:
    reads = [dt * 1e3 for _, k, dt, _ in runner.samples if k == "read"]
    writes = [dt * 1e3 for _, k, dt, _ in runner.samples if k == "write"]
    m = {
        "setup_s": setup_s,
        "throughput_stmt_per_s": len(runner.samples) / busy_s,
        "read_p50_ms": statistics.median(reads),
    }
    # reported on the summary line only: defined on some workloads, or
    # with too few tail samples (see README.md)
    extra = {
        "read_p90_ms": stats.percentile(reads, 0.9),
        "write_p50_ms": statistics.median(writes) if writes else None,
        "stored_bytes_per_row": wl.stored_bytes_per_row,
        "n_reads": len(reads),
        "n_writes": len(writes),
    }
    return m, extra


def run(args, work: str) -> int:
    tracer = tracing.Tracer() if args.trace else None
    ctx = Context(spark=None, seed=args.seed, cores=args.cores, cache=CACHE,
                  work=work, tracer=tracer)
    wl = WORKLOADS[args.workload]()

    t_fix = time.perf_counter()
    wl.prepare(ctx)
    fixture_s = time.perf_counter() - t_fix
    for name, rows, rgs, size in fixtures.describe(wl.data):
        print(f"fixture {name}: {rows} rows, {rgs} row groups, {size} bytes")

    spark = start_spark(work, bool(args.trace))
    ctx.spark = spark
    try:
        if tracer is not None:
            tracing.install(tracer)
        wl.open()
        start_s = time.perf_counter() - T_PROCESS - fixture_s
        runner = Runner(ctx)
        if args.curve:
            for p in range(args.curve):
                t0 = time.perf_counter()
                lat = [runner.execute(s, f"c{p}.{i}", False)[0]
                       for i, s in enumerate(wl.timed_pass(p))]
                print(f"curve pass {p}: {len(lat) / sum(lat):.3f} stmt/s, "
                      f"p50 {statistics.median(lat) * 1e3:.1f} ms, "
                      f"wall {time.perf_counter() - t0:.2f} s", flush=True)
            return 0
        t_warm = time.perf_counter()
        runner.warm(wl.warm_pass())
        warm_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - T_PROCESS - fixture_s
        busy_s = runner.timed(wl, args.seconds)
        rss = peak_rss_mb(spark)
        tables, tables_failed = wl.finish()
    finally:
        stop_spark(spark)

    attempted = len(runner.samples)
    failed = sum(1 for *_, ok in runner.samples if not ok) + tables_failed
    e2e, extra = end_to_end(runner, wl, setup_s, busy_s)
    per_stmt: dict[str, list[float]] = {}
    for name, _, dt, _ in runner.samples:
        per_stmt.setdefault(name, []).append(dt * 1e3)
    extra.update(
        peak_rss_mb=rss, failed_frac=failed / attempted, fixture_s=fixture_s,
        start_s=start_s, warmup_s=warm_s, timed_s=busy_s, tables_checked=tables,
        stmt_p50_ms={k: round(statistics.median(v), 1) for k, v in per_stmt.items()},
    )
    print("summary " + json.dumps(extra))
    if args.trace:
        layers = tracing.per_layer(tracer, work, e2e, extra, wl.changed_rows)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    work = configure_env(args.cores)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
