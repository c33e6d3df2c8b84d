"""Per-layer trace of replay_drain.

Spans are recorded from outside the engine: each is a call into a
layer's public functions, forced through the noop sink, over the same
backlog. Each span is a prefix of the next one, so a layer's self time
is its span minus the previous span:

1. ``parse_redo_files``                              → binary_redo
2. + ``.repartition(n, "xid")``                      → xid_exchange
3. + ``assemble_transactions(pre_partitioned=True)`` → transaction_assembly
4. + ``to_change_events`` and ``build_events``       → json_builder
5. the full ``build_pipeline`` drain                 → streaming_assembly

Span 5 assembles with the stateful streaming operator instead of the
batch kernel of spans 3-4, so ``streaming_assembly`` self time is the
streaming machinery net of the batch assembly it replaces; it can be
negative. The batch kernels run once before the spans, so no span pays
their first-run cost.

Counters per span come from the REST status store (stages) and the SQL
metrics of the span's executions.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import common, metrics, replay_drain


def _ids(status) -> tuple[set, int]:
    stages = {(s["stageId"], s["attemptId"]) for s in status.stages()}
    execs = [e["id"] for e in status.sql()]
    return stages, max(execs, default=-1)


def _span(status, run) -> dict:
    """Wall of ``run()`` plus the stage and SQL counters of the work it
    started."""
    status.settle()
    stages0, exec0 = _ids(status)
    t = time.perf_counter()
    run()
    dt = time.perf_counter() - t
    status.settle()
    new = [s for s in status.stages()
           if (s["stageId"], s["attemptId"]) not in stages0]
    sql = [e for e in status.sql() if e["id"] > exec0]
    return {"s": dt, **common.stage_totals(new),
            **common.sql_node_metrics(sql)}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _kernel_rate(in_dir: str, n_files: int = 4) -> float:
    """Single-threaded in-process parse baseline: records per second of
    ``parse_redo_columns`` over the first files."""
    from openlogreplicator_spark.sources.binary_redo import (
        parse_redo_columns,
    )

    names = sorted(n for n in os.listdir(in_dir) if n.endswith(".olrs"))
    blobs = []
    for n in names[:n_files]:
        with open(os.path.join(in_dir, n), "rb") as fh:
            blobs.append((n, fh.read()))
    parse_redo_columns(blobs[0][1], blobs[0][0])  # warm imports
    t = time.perf_counter()
    rows = 0
    for n, data in blobs:
        cols = parse_redo_columns(data, n)
        rows += len(cols["scn"])
    return rows / (time.perf_counter() - t)


def trace(ctx, spark, in_dir: str, meta: dict, e2e_a: dict):
    """Per-layer metrics and the failures seen while collecting them."""
    from pyspark.sql import functions as F

    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.builders.json_builder import build_events
    from openlogreplicator_spark.operators.transaction_assembly import (
        _default_buckets,
        assemble_transactions,
    )
    from openlogreplicator_spark.sources.binary_redo import parse_redo_files
    from openlogreplicator_spark.streaming.engine import to_change_events

    spark, setup_a, setup_b = ctx.traced_session(spark)
    ctx.sampler.peak = 0
    # the JVM is warm from the untraced measurement: no warm-up drains
    m = replay_drain._measure(ctx, spark, in_dir, meta, ctx.seconds, "b")
    layers = {}

    status = common.Status(spark)
    cfg = EngineConfig()

    def parsed():
        return parse_redo_files(spark, in_dir)

    n = _default_buckets(parsed())

    def exchanged():
        return parsed().repartition(n, "xid")

    def assembled():
        return assemble_transactions(exchanged(), n_buckets=n,
                                     pre_partitioned=True)

    def rendered():
        ev = to_change_events(assembled(), cfg)
        return build_events(ev.filter(F.col("op") != "ddl"), cfg.fmt)

    _noop(rendered())  # the batch kernels' first run, outside the spans
    spans = [
        _span(status, lambda: _noop(parsed())),
        _span(status, lambda: _noop(exchanged())),
        _span(status, lambda: _noop(assembled())),
        _span(status, lambda: _noop(rendered())),
    ]
    ckpt = os.path.join(ctx.run_dir, "ckpt-span")
    drain = {}

    def full():
        _dt, done, prog = replay_drain._drain(spark, in_dir, ckpt,
                                              "replay_span")
        drain.update(done=done, progress=prog)

    spans.append(_span(status, full))
    shutil.rmtree(ckpt, ignore_errors=True)

    prev = None
    for layer, sp in zip(metrics.SPAN_LAYERS, spans):
        for k in ("s", "run_s", "cpu_s"):
            layers[f"{layer}.{k}"] = sp[k] - (prev[k] if prev else 0.0)
        prev = sp

    p1, p2, p3 = spans[0], spans[1], spans[2]
    layers["binary_redo.records"] = meta["records"]
    layers["binary_redo.bytes_in"] = meta["bytes"]
    layers["binary_redo.py_out_bytes"] = p1["py_out_bytes"]
    layers["binary_redo.kernel_rec_per_s"] = _kernel_rate(in_dir)
    layers["xid_exchange.shuffle_bytes"] = (
        p2["shuffle_bytes"] - p1["shuffle_bytes"])
    layers["transaction_assembly.rows_out"] = assembled().count()
    layers["transaction_assembly.spill_bytes"] = p3["spill_bytes"]
    agg = rendered().agg(
        F.count("*").alias("n"),
        F.sum(F.octet_length("value")).alias("b"),
    ).collect()[0]
    layers["json_builder.messages"] = agg["n"]
    layers["json_builder.bytes_out"] = agg["b"]

    batches = common.data_batches(drain["progress"])
    jobs, stages = common.jobs_per_batch(status, batches)
    st = [(b.get("stateOperators") or [{}])[0] for b in batches]
    dur = [b["durationMs"] for b in batches]
    layers.update({
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
        "engine.rows_per_batch_p50": meta["records"] / len(batches),
        "engine.peak_rss_mb": ctx.sampler.peak / 2 ** 20,
    })
    # every path over the backlog must emit what the reference emits
    failed = m["failed"] + sum(
        n != meta["messages"] for n in (
            layers["transaction_assembly.rows_out"],
            layers["json_builder.messages"],
            replay_drain._sink_rows(drain["progress"]) if drain["done"]
            else -1))
    layers.update(ctx.overhead(e2e_a, m["e2e"], setup_a, setup_b))
    ctx.note("replay_drain trace: spans " + ", ".join(
        f"{i + 1}:{sp['s']:.2f}s/{sp['stages']}st/{sp['tasks']}t"
        for i, sp in enumerate(spans)))
    return layers, failed
