"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload analytic_etl_inproc --seed 1 --seconds 5 --trace 0

The process pins its run environment, sets the engine up over the
project's read-only test data (TESTDATA.md: sf0.01, or sf0.001 for the
smoke check), runs a cold first round, a fixed warm phase and then
whole timed rounds, at least
``MIN_TIMED_ROUNDS`` of them and until ``--seconds`` have passed.
Every output is checked against DuckDB (or the
parquet footers) after the run. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A diagnostics line (noise sentinel, plateau check,
round times, failures) is printed just before it.

Run from the root of a checkout of the repository. Apart from the test
data, which it only reads, it reads and writes inside that checkout
(``.perfbench/``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
#: the engine's test data (TESTDATA.md), read-only; one directory per scale
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
SCALES = {"bench": "sf0.01", "smoke": "sf0.001"}

#: workload -> (set-up includes HS2, kinds pooled into latency_p90_s, kinds feeding rows_per_s)
WORKLOADS = {
    "analytic_etl_inproc": (False, {"analytic", "etl_write", "etl_read"}, {"etl_write"}),
    "interactive_bulk_hs2": (True, {"short"}, {"bulk"}),
}
#: untimed warm rounds after the cold first round, chosen from the
#: warm-up curves in perfbench/README.md
WARM_ROUNDS = {"analytic_etl_inproc": 1, "interactive_bulk_hs2": 2}
#: timed rounds at least: per-statement medians need three samples to
#: shed one slow round, and the HS2 mix's short statements need five to
#: ride out host noise. With BENCHMARK.json's 5 s run length this count,
#: not the clock, ends the window, so every run samples the same rounds
#: of the warm-up curve.
MIN_TIMED_ROUNDS = {"analytic_etl_inproc": 3, "interactive_bulk_hs2": 5}
MAX_ROUNDS = 60
HS2_CLIENTS = 3

END_TO_END_UNITS = {
    "setup_s": "s", "first_pass_s": "s", "latency_gmean_s": "s", "throughput_qps": "stmt/s",
    "latency_p90_s": "s", "rows_per_s": "rows/s", "mem_retained_mb": "MB",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                    help="input: bench (sf0.01, default) or smoke (sf0.001, for perfbench/smoke.py)")
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> dict[str, str]:
    """Fix every setting the engine reads from its environment; return
    the Spark confs the session is built with."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    heap_gb = max(1, min(4, int(mem_gb // 4)))
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    time.tzset()
    return {
        "master": f"local[{cpus}]",
        # bench.py's sizing: partitions from the core count, at least 8
        "shuffle_partitions": str(max(8, cpus // 2)),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}",
    }


def set_up(eng, conf: dict[str, str], with_hs2: bool, tracer) -> None:
    """Start the engine until a statement can be sent: engine imports,
    JVM and session, functions, catalog views and, for the HS2 workload,
    the server plus every client's OpenSession."""
    with tracer.span("setup"):
        import impala_cut_spark.dialect as dialect
        import impala_cut_spark.functions.registry as fregistry
        from impala_cut_spark.session import ImpalaSession, build_session
        from impala_cut_spark.sources.catalog import register_views

        tracer.wrap_attr(fregistry, "register_all", "functions.register")
        tracer.wrap_attr(dialect, "rewrite", "dialect.rewrite")
        with tracer.span("session.build"):
            extra = {k: v for k, v in conf.items() if k.startswith("spark.")}
            eng.spark = build_session(app_name="perfbench", master=conf["master"],
                                      shuffle_partitions=int(conf["shuffle_partitions"]),
                                      extra_conf=extra)
        with tracer.span("session.init"):
            eng.session = ImpalaSession(eng.spark)
        if tracer.enabled:
            _trace_session_sql(eng.session, tracer)
        with tracer.span("catalog.register_views"):
            register_views(eng.spark, eng.data_dir)
        if not with_hs2:
            import impala_cut_spark.plans  # noqa: F401  the registry the workload drives
        else:
            with tracer.span("hs2.ready"):
                from impala_cut_spark.hs2_server import HS2ThriftClient, HS2ThriftServer

                eng.server = HS2ThriftServer(eng.session)
                if tracer.enabled:
                    _trace_hs2_server(eng, tracer)
                eng.server.serve_background()
                for _ in range(HS2_CLIENTS):
                    c = HS2ThriftClient(eng.server.host, eng.server.port)
                    if tracer.enabled:
                        _trace_hs2_client(c, tracer)
                    c.open_session()
                    eng.clients.append(c)


def _trace_session_sql(session, tracer) -> None:
    sql = session.sql

    def traced(text, *args, **kwargs):
        with tracer.span("session.sql"):
            df = sql(text, *args, **kwargs)
        tracer.dfs.append(df)  # Catalyst phase times are read when the statement ends
        return df

    session.sql = traced


def _trace_hs2_server(eng, tracer) -> None:
    dispatch = eng.server._dispatch
    sc = eng.spark.sparkContext

    def traced(name, seqid, args):
        if tracer.stmt:  # this handler thread's jobs count toward the statement
            sc.setJobGroup(tracer.stmt, tracer.stmt)
        with tracer.span(f"hs2.rpc.{name}"):
            return dispatch(name, seqid, args)

    eng.server._dispatch = traced


def _trace_hs2_client(client, tracer) -> None:
    from perfbench.trace import CountingFile

    client._f = CountingFile(client._f)
    call = client._call

    def traced(name, build_req):
        before = client._f.read_bytes
        with tracer.span(f"hs2.client.{name}") as rec:
            tracer.client_span = rec["id"]
            try:
                return call(name, build_req)
            finally:
                tracer.client_span = None
                rec["reply_bytes"] = client._f.read_bytes - before

    client._call = traced


def retained_mb(eng) -> dict[str, float]:
    """Memory the run still holds at the end of the timed window, in MB:
    JVM heap after a full GC, JVM non-heap (code cache, metaspace) and
    this process's resident set. Caches the engine keeps show here.

    The second GC runs after Spark's ContextCleaner has had a moment to
    drop the broadcast and shuffle state the first one released."""
    mem = eng.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mem.gc()
    time.sleep(1.0)
    mem.gc()
    with open("/proc/self/statm") as f:
        py = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    return {"jvm_heap": mem.getHeapMemoryUsage().getUsed() / 2**20,
            "jvm_non_heap": mem.getNonHeapMemoryUsage().getUsed() / 2**20,
            "python_rss": py / 2**20}


def tear_down(eng) -> None:
    """Close clients and server, stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    for c in eng.clients:
        c.close_session()
        c.close()
    if eng.server is not None:
        eng.server.shutdown()
    gateway = SparkContext._gateway
    eng.spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


class Execution:
    __slots__ = ("op", "round", "phase", "latency", "out", "key", "error", "layer")

    def __init__(self, op, rnd, phase):
        self.op, self.round, self.phase = op, rnd, phase
        self.latency, self.out, self.key, self.error, self.layer = 0.0, None, None, None, None


def run_round(eng, units, rnd: int, phase: str, rng: random.Random, tracer, counters) -> list:
    order = list(units)
    rng.shuffle(order)
    done = []
    sc = eng.spark.sparkContext
    for unit in order:
        for op in unit:
            ex = Execution(op, rnd, phase)
            eng.spark.catalog.clearCache()  # every execution computes from storage
            stmt = f"{op.id}#{rnd}"
            if tracer.enabled:
                tracer.stmt, tracer.dfs = stmt, []
                sc.setJobGroup(stmt, stmt)
                before = counters.read()
            with tracer.span("statement", op=op.id, phase=phase):
                t0 = time.perf_counter()
                try:
                    ex.out, ex.key = op.run(eng)
                except Exception as e:  # noqa: BLE001 — a failed statement is counted, not fatal
                    ex.error = f"{type(e).__name__}: {e}"[:500]
                ex.latency = time.perf_counter() - t0
            if tracer.enabled:
                from perfbench.trace import catalyst_plan_s

                after = counters.read()
                ex.layer = {k: after[k] - before[k] for k in after}
                ex.layer.update(counters.job_stats(stmt))
                ex.layer["catalyst.plan_s"] = sum(catalyst_plan_s(df) for df in tracer.dfs)
                tracer.sample(stmt, ex.layer)
                tracer.stmt, tracer.dfs = None, []
                sc.setJobGroup("perfbench-idle", "")
            if ex.error is None:
                try:
                    ex.out = op.post(eng, ex.out)
                except Exception as e:  # noqa: BLE001
                    ex.error = f"post: {type(e).__name__}: {e}"[:500]
            done.append(ex)
    return done


def check(execs: list) -> tuple[int, bool, list[str]]:
    """Compare every execution with its independently computed
    expectation. Returns (failed, correct, messages). A failure makes
    the run incorrect unless its output is exactly the op's known-fault
    output; an exception or any other wrong result is not excused."""
    failed, correct, notes = 0, True, []
    cache: dict = {}

    def expected(ex, fn) -> object:
        key = (ex.op.id, fn, repr(ex.key))
        if key not in cache:
            cache[key] = fn(ex.key)
        return cache[key]

    for ex in execs:
        if ex.error is None and ex.op.same(ex.out, expected(ex, ex.op.expect)):
            continue
        failed += 1
        fault = ex.op.fault_expect
        if ex.error is None and fault is not None and ex.op.same(ex.out, expected(ex, fault)):
            continue
        correct = False
        notes.append(f"{ex.op.id}#{ex.round}: {ex.error or 'wrong result'}")
    return failed, correct, notes


def gmean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def per_op_gmean(execs: list) -> float:
    by_op: dict[str, list[float]] = {}
    for ex in execs:
        by_op.setdefault(ex.op.id, []).append(ex.latency)
    return gmean([statistics.median(v) for v in by_op.values()])


def end_to_end(execs, setup_s, mem_mb, p90_kinds, rate_kinds) -> dict[str, float]:
    first = [ex for ex in execs if ex.phase == "first"]
    window = [ex for ex in execs if ex.phase == "timed" and ex.error is None]
    pooled = sorted(ex.latency for ex in window if ex.op.kind in p90_kinds)
    rates: dict[str, list[float]] = {}  # rows per second of each execution, by statement
    for ex in window:
        if ex.op.kind in rate_kinds:
            rates.setdefault(ex.op.id, []).append(ex.op.rows(ex.out) / ex.latency)
    return {
        "setup_s": setup_s,
        "first_pass_s": sum(ex.latency for ex in first),
        "latency_gmean_s": per_op_gmean(window),
        "throughput_qps": len(window) / sum(ex.latency for ex in window),
        "latency_p90_s": statistics.quantiles(pooled, n=10, method="inclusive")[-1],
        "rows_per_s": gmean([statistics.median(v) for v in rates.values()]),
        "mem_retained_mb": mem_mb,
    }


def plateau(execs) -> dict[str, float]:
    """Trend inside the timed window: per-statement medians of its first
    and second halves (by round), as a gmean ratio second/first."""
    rounds = sorted({ex.round for ex in execs if ex.phase == "timed"})
    half = len(rounds) // 2
    first = [ex for ex in execs if ex.phase == "timed" and ex.round in rounds[:half]]
    second = [ex for ex in execs if ex.phase == "timed" and ex.round in rounds[half:]]
    ratio = per_op_gmean(second) / per_op_gmean(first)
    return {"timed_rounds": len(rounds), "second_over_first_half": ratio}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "impala_cut_spark")) or not os.path.isfile(
            os.path.join(ROOT, "bench.py")):
        print(f"perfbench: no engine source (impala_cut_spark/, bench.py) under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    data_dir = os.path.join(TESTDATA, SCALES[args.scale])
    if not os.path.isfile(os.path.join(data_dir, "lineitem.parquet")):
        print(f"perfbench: no test data in {data_dir}", file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.trace import JvmCounters, NullTracer, Tracer

    with_hs2, p90_kinds, rate_kinds = WORKLOADS[args.workload]
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    eng = None
    try:
        conf = pin_environment(run_dir)
        os.chdir(run_dir)  # anything Spark drops in the working directory dies with the run
        from bench import _noise_sentinel

        sentinel_start = _noise_sentinel()
        tracer = Tracer() if args.trace else NullTracer()
        eng = workloads.Engine(data_dir=data_dir, warehouse=conf["spark.sql.warehouse.dir"],
                               tracer=tracer)
        t0 = time.perf_counter()
        set_up(eng, conf, with_hs2, tracer)
        setup_s = time.perf_counter() - t0
        counters = JvmCounters(eng.spark) if args.trace else None

        rng = random.Random(args.seed)
        tables = sorted(f[:-len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet"))
        oracle = workloads.Oracle(data_dir, tables)
        if with_hs2:
            import pyarrow.parquet as pq

            footers = {t: pq.read_schema(f"{data_dir}/{t}.parquet").names for t in tables}
            sizes = {t: pq.ParquetFile(f"{data_dir}/{t}.parquet").metadata.num_rows for t in tables}
            units, prep = workloads.interactive_bulk(rng, oracle, args.scale, sizes, footers)
        else:
            units, prep = workloads.analytic_etl(rng, oracle)
        for sql in prep:
            eng.session.sql(sql)

        execs: list = []
        if tracer.enabled:
            first_before = counters.read()
        execs += run_round(eng, units, 0, "first", rng, tracer, counters)
        if tracer.enabled:
            first_after = counters.read()
        round_walls = []
        for r in range(1, 1 + WARM_ROUNDS[args.workload]):
            t0 = time.perf_counter()
            execs += run_round(eng, units, r, "warm", rng, tracer, counters)
            round_walls.append(time.perf_counter() - t0)
        r, window_start = len(round_walls) + 1, time.perf_counter()
        least = WARM_ROUNDS[args.workload] + MIN_TIMED_ROUNDS[args.workload]
        while r < MAX_ROUNDS and (r <= least or time.perf_counter() - window_start < args.seconds):
            t0 = time.perf_counter()
            execs += run_round(eng, units, r, "timed", rng, tracer, counters)
            round_walls.append(time.perf_counter() - t0)
            r += 1
        window_s = time.perf_counter() - window_start

        mem = retained_mb(eng)
        tear_down(eng)
        eng = None
        sentinel_end = _noise_sentinel()
        failed, correct, notes = check(execs)
        metrics = end_to_end(execs, setup_s, sum(mem.values()), p90_kinds, rate_kinds)
        diag = {
            "workload": args.workload, "seed": args.seed, "scale": args.scale,
            "noise_sentinel_s": {"start": sentinel_start, "end": sentinel_end},
            "plateau": plateau(execs), "retained_mb": mem, "round_wall_s": round_walls, "window_s": window_s,
            "timed_samples": sum(ex.phase == "timed" for ex in execs),
            "p90_samples": sum(ex.phase == "timed" and ex.op.kind in p90_kinds for ex in execs),
            "op_first_and_median_s": {
                op: [next(ex.latency for ex in execs if ex.op.id == op),
                     statistics.median(ex.latency for ex in execs
                                       if ex.op.id == op and ex.phase == "timed")]
                for op in dict.fromkeys(ex.op.id for ex in execs)},
            "known_faults": sorted({ex.op.id for ex in execs if ex.op.fault_expect}),
            "unexpected_failures": notes[:20],
            "env": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")},
        }
        if tracer.enabled:
            from perfbench.layers import layer_metrics

            out = layer_metrics(tracer, execs, first_before, first_after)
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            trace_path = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace_path)
            diag["trace_file"] = os.path.relpath(trace_path, ROOT)
            diag["end_to_end_traced"] = metrics
        else:
            out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
        oracle.close()
        print(json.dumps({"diagnostics": diag}))
        print(json.dumps({"correct": correct, "attempted": len(execs), "failed": failed,
                          "metrics": out}))
        return 0
    finally:
        if eng is not None and eng.spark is not None:
            tear_down(eng)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
