"""Names and units of every metric the benchmark prints.

BENCHMARK.json at the repository root lists the same names; the
self-tests check that the two agree.
"""

from __future__ import annotations

# End-to-end metrics, printed by every untraced run of every workload.
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}

# query_mix layers: the operator modules that define bench.py's HEADLINE
# queries, with relational2..5 folded into relational
QUERY_MODULES = ("relational", "dedup", "clustering", "text", "pipeline",
                 "similarity", "cdc", "extras", "analytics", "windows")

# replay_drain's prefix spans, in order (replay_trace.py)
SPAN_LAYERS = ("binary_redo", "xid_exchange", "transaction_assembly",
               "json_builder", "streaming_assembly")


def _per_layer() -> dict[str, str]:
    m: dict[str, str] = {}
    # replay_drain prefix spans: self time, executor run and CPU seconds
    for layer in SPAN_LAYERS:
        m[f"{layer}.s"] = "s"
        m[f"{layer}.run_s"] = "s"
        m[f"{layer}.cpu_s"] = "s"
    m.update({
        "binary_redo.records": "count",
        "binary_redo.bytes_in": "bytes",
        "binary_redo.py_out_bytes": "bytes",
        "binary_redo.kernel_rec_per_s": "1/s",
        "xid_exchange.shuffle_bytes": "bytes",
        "transaction_assembly.rows_out": "count",
        "transaction_assembly.spill_bytes": "bytes",
        "json_builder.messages": "count",
        "json_builder.bytes_out": "bytes",
        "streaming_assembly.state.commit_ms_p50": "ms",
        "streaming_assembly.state.update_ms_p50": "ms",
        "streaming_assembly.state.rows": "count",
        "streaming_assembly.state.bytes": "bytes",
        "engine.batches": "count",
        "engine.trigger_ms_p50": "ms",
        "engine.add_batch_ms_p50": "ms",
        "engine.planning_ms_p50": "ms",
        "engine.wal_ms_p50": "ms",
        "engine.stages_per_batch": "count",
        "engine.jobs_per_batch": "count",
        "engine.rows_per_batch_p50": "count",
        "engine.stop_errors": "count",
        "engine.peak_rss_mb": "MB",
        "file_writer.messages": "count",
        "file_writer.bytes": "bytes",
        "file_writer.us_per_msg": "us",
        "loadgen.late_ms_p99": "ms",
        "loadgen.late_ms_max": "ms",
    })
    return m


def _query_mix_layers() -> dict[str, str]:
    from perfbench.query_mix import QUERY_SET

    m = {"query_mix.q1_scan_bytes": "bytes",
         "query_mix.q1_file_bytes": "bytes"}
    for layer in QUERY_MODULES:
        m[f"{layer}.s"] = "s"
        m[f"{layer}.shuffle_bytes"] = "bytes"
        m[f"{layer}.scan_bytes"] = "bytes"
        m[f"{layer}.cpu_s"] = "s"
        m[f"{layer}.py_bytes"] = "bytes"
    for query in QUERY_SET:
        m[f"query.{query}.s"] = "s"
    return m


# tracing overhead: traced minus untraced, per end-to-end metric
TRACING = {f"tracing.{name}": unit for name, unit in END_TO_END.items()}

# Per-layer metrics, printed by every traced run of every workload; a
# layer a workload does not run reads 0. The query_mix module layers are
# also measured by the replay_drain traced run.
PER_LAYER = {**_per_layer(), **_query_mix_layers(), **TRACING}
