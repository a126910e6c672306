"""Per-layer metrics of a traced run, computed from its spans and counters.

Set-up layers are single measurements. The codegen, JIT and catalog
counters cover the cold first round. Every other metric covers the
timed window: statement-level layers as a mean per statement of the
mix, HS2 RPCs as a mean per call, sinks as a mean per write. A layer a
workload does not use reads 0 on it (README: which layer moves which
end-to-end metric, on which workload).
"""

from __future__ import annotations

#: metric -> unit; the order is the order of BENCHMARK.json's per_layer
LAYER_UNITS = {
    "session.build_s": "s", "functions.register_s": "s", "session.init_s": "s",
    "catalog.register_views_s": "s", "hs2.ready_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s", "jvm.jit_compile_s": "s",
    "catalog.files_discovered": "count",
    "plans.construct_s": "s",
    "dialect.rewrite_s": "s", "session.sql_s": "s", "catalyst.plan_s": "s",
    "exec.execute_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "jvm.gc_s": "s",
    "hs2.rpc.ExecuteStatement_s": "s", "hs2.rpc.FetchResults_s": "s",
    "hs2.rpc.GetResultSetMetadata_s": "s", "hs2.rpc.CloseOperation_s": "s",
    "hs2.rpc.GetTables_s": "s", "hs2.rpc.GetColumns_s": "s",
    "hs2.client_wait_s": "s", "hs2.wire_bytes_per_row": "bytes/row", "hs2.fetch_pages": "count",
    "sinks.write_s": "s", "sinks.files_written": "count", "sinks.bytes_written": "bytes",
    "sinks.bytes_per_row": "bytes/row", "sinks.readback_s": "s",
}

_STATEMENT_COUNTERS = (
    "catalyst.plan_s", "exec.execute_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.executor_run_s", "exec.executor_cpu_s", "exec.input_bytes",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes", "jvm.gc_s",
)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tracer, execs, first_before: dict, first_after: dict) -> dict:
    window = [ex for ex in execs if ex.phase == "timed" and ex.error is None]
    stmts = {f"{ex.op.id}#{ex.round}" for ex in window}
    n = len(window)
    m: dict[str, float] = {}

    for name in ("session.build", "functions.register", "session.init",
                 "catalog.register_views", "hs2.ready"):
        m[f"{name}_s"] = tracer.total(name)[0]
    for k in ("codegen.compiles", "codegen.compile_s", "jvm.jit_compile_s"):
        m[k] = first_after[k] - first_before[k]
    m["catalog.files_discovered"] = first_after["catalog.files_discovered"]

    for name in ("plans.construct", "dialect.rewrite", "session.sql"):
        m[f"{name}_s"] = tracer.total(name, stmts)[0] / n
    for k in _STATEMENT_COUNTERS:
        m[k] = _mean(ex.layer[k] for ex in window)

    for rpc in ("ExecuteStatement", "FetchResults", "GetResultSetMetadata", "CloseOperation",
                "GetTables", "GetColumns"):
        tot, calls = tracer.total(f"hs2.rpc.{rpc}", stmts)
        m[f"hs2.rpc.{rpc}_s"] = tot / calls if calls else 0.0
    client = sum(s["end"] - s["start"] for s in tracer.spans
                 if s["stmt"] in stmts and s["name"].startswith("hs2.client."))
    server = sum(s["end"] - s["start"] for s in tracer.spans
                 if s["stmt"] in stmts and s["name"].startswith("hs2.rpc."))
    m["hs2.client_wait_s"] = (client - server) / n

    bulk = [ex for ex in window if ex.op.kind == "bulk"]
    bulk_stmts = {f"{ex.op.id}#{ex.round}" for ex in bulk}
    pages = [s for s in tracer.spans
             if s["stmt"] in bulk_stmts and s["name"] == "hs2.client.FetchResults"]
    bulk_rows = sum(ex.out[0] for ex in bulk)
    m["hs2.wire_bytes_per_row"] = sum(s["reply_bytes"] for s in pages) / bulk_rows if bulk_rows else 0.0
    m["hs2.fetch_pages"] = len(pages) / len(bulk) if bulk else 0.0

    writes = [ex for ex in window if ex.op.kind == "etl_write"]
    rows = sum(ex.op.rows(ex.out) for ex in writes)
    m["sinks.write_s"] = _mean(ex.latency for ex in writes)
    m["sinks.files_written"] = _mean(ex.out[1] for ex in writes)
    m["sinks.bytes_written"] = _mean(ex.out[2] for ex in writes)
    m["sinks.bytes_per_row"] = sum(ex.out[2] for ex in writes) / rows if rows else 0.0
    m["sinks.readback_s"] = _mean(ex.latency for ex in window if ex.op.kind == "etl_read")
    return {k: {"value": m[k], "unit": u} for k, u in LAYER_UNITS.items()}
