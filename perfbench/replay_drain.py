"""replay_drain — the catch-up a replica does after downtime.

Closed loop, one client: ``build_pipeline(..., available_now=True,
sink="noop")`` drains the seeded backlog in one micro-batch, again and
again until ``--seconds`` have passed (at least twice). The
per-record layers run (parse walk and value decode, the assembly fast
path, render); at this size a fixed cost of about 3 s per drain is still
the larger share (README). The per-batch overhead of a continuous stream
and the sink funnel are bypassed.

Every transaction of the backlog is due when the catch-up starts and
reaches the sink when the drain's only micro-batch commits, so each
transaction's latency is the wall of its drain.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from perfbench import common, content, redo_fixtures

N_RECORDS = 100_000
N_FILES = 32
# unmeasured drains before measuring: the first full drain still
# compiles and warms the JIT (about twice a steady drain on four cores),
# the second is still about a tenth slower than the ones after it. The
# first writes to the memory sink, and its messages are checked against
# the reference.
WARM_DRAINS = 2


def _build_fixture(seed: int) -> tuple[str, dict]:
    """Seeded backlog, cached by seed: N_FILES OLRS1 files plus the
    expected output of the sequential reference assembly."""
    from openlogreplicator_spark.operators.transaction_assembly import (
        assemble_transactions_py,
    )

    out = os.path.join(
        common.CACHE, f"replay-v{redo_fixtures.FIXTURE_VERSION}-n{N_RECORDS}"
        f"-f{N_FILES}-s{seed}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        os.utime(out)
        with open(meta_path) as fh:
            return out, json.load(fh)
    staging = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    txns = redo_fixtures.replay_transactions(seed, N_RECORDS)
    files = redo_fixtures.replay_files(txns, N_FILES)
    paths = [os.path.join(staging, f"redo_{i + 1:04d}.olrs")
             for i in range(N_FILES)]
    n_bytes = redo_fixtures.encode_files(files, paths, common.cores())
    records = [r for f in files for r in f]
    expected = assemble_transactions_py(records)
    meta = {
        "records": len(records),
        "bytes": n_bytes,
        "transactions": len(txns),
        "messages": len(expected),
        "distinct_share": redo_fixtures.distinct_share(files),
        "ops_digest": content.digest(content.reference_ops(expected)),
    }
    with open(os.path.join(staging, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(staging, out)
    return out, meta


def _drain(spark, in_dir: str, ckpt: str, name: str, sink: str = "noop"):
    """One AvailableNow drain to the noop (or memory) sink: (seconds,
    terminated, progress dicts)."""
    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.streaming.engine import build_pipeline

    t = time.perf_counter()
    q = build_pipeline(spark, EngineConfig(), in_dir, checkpoint=ckpt,
                       sink=sink, query_name=name, available_now=True)
    try:
        done = q.awaitTermination(150)
    finally:
        if q.isActive:
            q.stop()
    dt = time.perf_counter() - t
    return dt, bool(done), common.progress_dicts(q)


def _sink_rows(progresses: list[dict]) -> int:
    return sum((p.get("sink") or {}).get("numOutputRows") or 0
               for p in common.data_batches(progresses))


def _content_failed(ctx, spark, table: str, meta: dict) -> bool:
    """Whether the messages a memory-sink drain left in ``table`` differ
    in content from the reference assembly (checked by digest)."""
    msgs = [r[0] for r in spark.table(table).select("value").collect()]
    spark.catalog.dropTempView(table)
    got = content.digest(content.message_ops(msgs))
    if got != meta["ops_digest"]:
        ctx.note(f"replay_drain: message content differs from the "
                 f"reference: digest {got}, expected {meta['ops_digest']}")
        return True
    return False


def _measure(ctx, spark, in_dir: str, meta: dict, seconds: float,
             tag: str, drains: int = 2, check_first: bool = False) -> dict:
    """Drain repeatedly until ``seconds`` passed, at least ``drains``
    times. A drain fails when it does not terminate, when its sink rows
    differ from the reference assembly, or when its signature differs
    from the first drain's. With ``check_first``, the first drain writes
    to the memory sink and also fails when its messages' content differs
    from the reference (checked after the drain's clock stopped)."""
    walls, sigs, failed = [], [], 0
    last = []
    t_end = time.monotonic() + seconds
    while len(walls) < drains or time.monotonic() < t_end:
        ckpt = os.path.join(ctx.run_dir, f"ckpt-{tag}-{len(walls)}")
        name = f"replay_{tag}_{len(walls)}"
        memory = check_first and not walls
        dt, done, prog = _drain(spark, in_dir, ckpt, name,
                                "memory" if memory else "noop")
        shutil.rmtree(ckpt, ignore_errors=True)
        walls.append(dt)
        sig = common.drain_signature(prog)
        sigs.append(sig)
        rows = _sink_rows(prog)
        bad = memory and _content_failed(ctx, spark, name, meta)
        if not done or rows != meta["messages"] or sig != sigs[0] or bad:
            failed += 1
            ctx.note(f"replay_drain: drain {len(walls)} failed: "
                     f"terminated={done} sink_rows={rows} "
                     f"expected={meta['messages']} signature={sig}")
        last = prog
    per_txn = sorted(w for w in walls for _ in range(meta["transactions"]))
    tail, pct = common.tail_value(per_txn)
    wall = statistics.median(walls)
    return {
        "walls": walls, "failed": failed, "signature": sigs[0],
        "progress": last,
        "e2e": {
            "items_per_s": meta["records"] / wall,
            "latency_p50_ms": 1e3 * wall,
            "latency_tail_ms": 1e3 * tail,
        },
        "tail_pct": pct,
    }


def run(ctx) -> dict:
    in_dir, meta = ctx.fixture(lambda: _build_fixture(ctx.seed))
    ctx.note(f"replay_drain: {meta['records']} records, "
             f"{meta['transactions']} transactions, {meta['bytes']} bytes in "
             f"{N_FILES} files, distinct image share per file "
             f"{meta['distinct_share']}; fixture {ctx.fixture_s:.2f} s")

    spark = ctx.session()
    # engine ready: warm-up drains of the whole backlog (JIT, codegen)
    warm = _measure(ctx, spark, in_dir, meta, 0, "warm", drains=WARM_DRAINS,
                    check_first=True)
    warm_s = sum(warm["walls"])
    setup_s = ctx.setup_s + warm_s

    m = _measure(ctx, spark, in_dir, meta, ctx.seconds, "a")
    e2e = dict(m["e2e"], setup_s=setup_s)
    ctx.note(f"replay_drain: drains {['%.3f' % w for w in m['walls']]} s, "
             f"signature {m['signature']}, tail percentile "
             f"p{m['tail_pct']:.1f}, session {ctx.setup_s:.2f} s, "
             f"warm-up drains {['%.3f' % w for w in warm['walls']]} s")
    res = {
        "e2e": e2e,
        "attempted": len(m["walls"]) + WARM_DRAINS,
        "failed": m["failed"] + warm["failed"],
    }
    res["correct"] = res["failed"] == 0
    if ctx.traced:
        from perfbench import replay_trace

        res["layers"], failed_b = replay_trace.trace(ctx, spark, in_dir,
                                                     meta, e2e)
        res["failed"] += failed_b
        res["correct"] = res["failed"] == 0
    return res
