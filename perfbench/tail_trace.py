"""Per-layer trace of online_tail: the same warm-up and measured window
as the untraced phase, repeated in a session with the UI on. Per-batch
numbers come from the streaming progress (durations, state operator) and
the REST status store (jobs and stages of each micro-batch).

After the phase, one pass of query_mix's query set in the same traced
session gives the per-module layers of the analytic queries, which no
workload BENCHMARK.json lists measures end to end (README: run
budget)."""

from __future__ import annotations

import json
import os
import time

from perfbench import common, online_tail, query_mix


def _funnel_us_per_msg(ctx, lines: list[str], expected: dict) -> float:
    """The same messages, in the same order, fed in-process through the
    file sink's funnel (``FileFunnelCore``) into a ``RotatingFileWriter``
    with a ``state_dir``."""
    from openlogreplicator_spark.streaming.file_writer import (
        FileFunnelCore,
        RotatingFileWriter,
    )

    out = os.path.join(ctx.run_dir, "funnel-probe")
    os.makedirs(out)
    rows = []
    for line in lines:
        xid = json.loads(line).get("xid")
        rows.append((line.encode(), expected.get(xid, (0, 0))[1], True, 1))
    writer = RotatingFileWriter(os.path.join(out, "olr.json"))
    core = FileFunnelCore(writer, state_path=os.path.join(out, "batch"),
                          state_dir=os.path.join(out, "state"),
                          interval_s=1)
    t = time.perf_counter()
    core.feed(iter(rows), 0)
    writer.flush()
    dt = time.perf_counter() - t
    writer.close()
    return 1e6 * dt / max(1, len(rows))


def trace(ctx, spark, fixture: str, m_a: dict, e2e_a: dict):
    """Per-layer metrics and the failures seen while collecting them."""
    spark, setup_a, setup_b = ctx.traced_session(spark)
    ctx.sampler.peak = 0
    m = online_tail._phase(ctx, spark, fixture, "b")
    layers = {}

    status = common.Status(spark)
    status.settle()
    batches = m["batches"]
    dur = [b["durationMs"] for b in batches]
    st = [(b.get("stateOperators") or [{}])[0] for b in batches]
    jobs, stages = common.jobs_per_batch(status, batches)
    released = [os.path.join(fixture, n) for n in sorted(os.listdir(fixture))
                if n.endswith(".olrs")][: m["records"] // online_tail.RATE]
    layers.update({
        "binary_redo.records": m["records"],
        "binary_redo.bytes_in": sum(os.path.getsize(p) for p in released),
        "json_builder.messages": len(m["lines"]),
        "json_builder.bytes_out": m["sink_bytes"] - len(m["lines"]),
        "streaming_assembly.state.commit_ms_p50":
            common.median(s.get("commitTimeMs", 0) for s in st),
        "streaming_assembly.state.update_ms_p50":
            common.median(s.get("allUpdatesTimeMs", 0) for s in st),
        "streaming_assembly.state.rows": st[-1].get("numRowsTotal", 0),
        "streaming_assembly.state.bytes": st[-1].get("memoryUsedBytes", 0),
        "engine.batches": len(batches),
        "engine.trigger_ms_p50":
            common.median(d.get("triggerExecution", 0) for d in dur),
        "engine.add_batch_ms_p50":
            common.median(d.get("addBatch", 0) for d in dur),
        "engine.planning_ms_p50":
            common.median(d.get("queryPlanning", 0) for d in dur),
        "engine.wal_ms_p50": common.median(d.get("walCommit", 0) for d in dur),
        "engine.jobs_per_batch": jobs,
        "engine.stages_per_batch": stages,
        "engine.rows_per_batch_p50": online_tail.RATE * common.median(
            b.get("numInputRows") or 0 for b in batches),
        "engine.stop_errors": m_a["stop_errors"] + m["stop_errors"],
        "engine.peak_rss_mb": ctx.sampler.peak / 2 ** 20,
        "file_writer.messages": len(m["lines"]),
        "file_writer.bytes": m["sink_bytes"],
        "file_writer.us_per_msg": _funnel_us_per_msg(ctx, m["lines"],
                                                     m["expected"]),
    })
    ctx.note(f"online_tail trace: {len(batches)} steady batches, "
             f"{jobs} jobs and {stages} stages per batch; traced lag p50 "
             f"{m['e2e']['latency_p50_ms']:.0f} ms")
    module, failed_q = query_mix.module_layers(ctx, spark, status)
    layers.update(module)
    layers.update(ctx.overhead(e2e_a, m["e2e"], setup_a, setup_b))
    # generator lateness over the releases of both phases, so the tail
    # percentile has enough samples
    late = sorted(m_a["late_ms"] + m["late_ms"])
    layers["loadgen.late_ms_p99"] = common.tail_value(late)[0]
    layers["loadgen.late_ms_max"] = max(late)
    return layers, online_tail.failures(m) + failed_q
