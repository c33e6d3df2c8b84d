"""online_tail — the online replication users run.

Open loop: a separate generator process (loadgen.py) releases one
scn-contiguous segment file per second at a fixed RATE records/s.
Transactions straddle files, a fixed window of transactions stays open,
and about a quarter of transactions take the sequential assembly tail.
The engine runs continuously (``EngineConfig(checkpoint_interval_s=1)``,
``sink="file"``) through a ``RotatingFileWriter`` with a ``state_dir``.
The generator tails the sink file and stamps arrivals on the same
monotonic clock.

Schedule: segment 0 is released alone and the pipeline's first, cold
micro-batch processes it (the warm-up). Then segments 1.. are released
one per PERIOD; the first SKIP of them settle the pipeline and the next
``--seconds`` are measured. A committed transaction's lag runs from the
due time of the segment holding its commit record to the moment its
last message is readable in the sink; one that never arrives counts as
infinitely late.
"""

from __future__ import annotations

import json
import math
import os
import pickle
import shutil
import subprocess
import sys
import time

from perfbench import common, content, redo_fixtures

RATE = 1000
PERIOD = 1.0
SKIP = 3
ARRIVAL_TIMEOUT = 40.0


def n_segments(seconds: float) -> int:
    """Segments a phase of ``seconds`` measured seconds releases: the
    warm-up segment, SKIP settling ones and the measured ones."""
    return 1 + SKIP + max(1, int(round(seconds / PERIOD)))


def _build_fixture(seed: int, n_segs: int) -> str:
    """Seeded segments, cached by seed: ``n_segs`` files of RATE records
    each, plus the records themselves for the output checks."""
    out = os.path.join(
        common.CACHE, f"tail-v{redo_fixtures.FIXTURE_VERSION}-r{RATE}"
        f"-n{n_segs}-s{seed}")
    if os.path.exists(os.path.join(out, "records.pkl")):
        os.utime(out)
        return out
    staging = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    records = redo_fixtures.tail_records(seed, RATE * n_segs)
    segs = redo_fixtures.tail_segments(records, RATE)
    paths = [os.path.join(staging, f"redo_{k + 1:06d}.olrs")
             for k in range(len(segs))]
    redo_fixtures.encode_files(segs, paths, common.cores())
    with open(os.path.join(staging, "records.pkl"), "wb") as fh:
        pickle.dump(records, fh, protocol=pickle.HIGHEST_PROTOCOL)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(staging, out)
    return out


def expected_transactions(records: list[dict]) -> tuple[dict, dict]:
    """xid → (message count, commit scn, index of the record holding the
    commit) for every transaction the reference assembly emits, and
    xid → its operations (``content.reference_ops``)."""
    from openlogreplicator_spark.operators.transaction_assembly import (
        assemble_transactions_py,
    )

    commit_at = {r["xid"]: i for i, r in enumerate(records)
                 if r["opcode"] == "commit"}
    out: dict[str, list] = {}
    rows = assemble_transactions_py(records)
    for row in rows:
        e = out.setdefault(row["xid"], [0, row["commit_scn"],
                                        commit_at[row["xid"]]])
        e[0] += 1
    return out, content.reference_ops(rows)


def arrival_times(stamps: list, n_lines: int) -> list[float]:
    """Per sink line, the first stamp at which it was readable (inf when
    never seen)."""
    out, j = [], 0
    for i in range(n_lines):
        while j < len(stamps) and stamps[j][0] <= i:
            j += 1
        out.append(stamps[j][1] if j < len(stamps) else math.inf)
    return out


def lags_ms(expected: dict, lines: list[str], arrive: list[float],
            due_of_segment, measured) -> tuple[list[float], dict]:
    """Lag of each committed transaction whose commit segment is in
    ``measured``: its last line's arrival minus the segment's due time;
    a transaction with no complete arrival is infinitely late. Also
    returns the output check: missing, duplicated, unexpected and
    out-of-order transactions."""
    seen: dict[str, list] = {}
    order: list[str] = []
    for i, line in enumerate(lines):
        xid = json.loads(line).get("xid")
        if xid not in seen:
            seen[xid] = [0, 0.0]
            order.append(xid)
        seen[xid][0] += 1
        seen[xid][1] = arrive[i]
    check = {
        "missing": sorted(x for x in expected if x not in seen),
        "wrong_count": sorted(x for x in expected if x in seen
                              and seen[x][0] != expected[x][0]),
        "unexpected": sorted(x for x in seen if x not in expected),
    }
    scns = [expected[x][1] for x in order if x in expected]
    check["out_of_order"] = sum(1 for a, b in zip(scns, scns[1:]) if b < a)
    lags = []
    for xid, (count, _scn, seg) in expected.items():
        if seg not in measured:
            continue
        got = seen.get(xid)
        if got is None or got[0] != count:
            lags.append(math.inf)
        else:
            lags.append(1e3 * (got[1] - due_of_segment(seg)))
    return lags, check


def _wait(pred, timeout: float, step: float = 0.05) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(step)
    return False


def _phase(ctx, spark, fixture: str, tag: str) -> dict:
    """One warm-up plus measured window; returns the measurement."""
    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.streaming.engine import build_pipeline
    from openlogreplicator_spark.streaming.file_writer import (
        RotatingFileWriter,
    )

    base = os.path.join(ctx.run_dir, f"tail-{tag}")
    watch, out = os.path.join(base, "in"), os.path.join(base, "out")
    for d in (watch, out):
        os.makedirs(d)
    sink = os.path.join(out, "olr.json")
    last_seg = n_segments(ctx.seconds) - 1  # 1..last_seg after the warm-up
    # the reference output of everything this phase releases, computed
    # before any clock starts
    with open(os.path.join(fixture, "records.pkl"), "rb") as fh:
        records = pickle.load(fh)[: RATE * (last_seg + 1)]
    counts, expected_ops = expected_transactions(records)
    expected = {x: (n, scn, idx // RATE)
                for x, (n, scn, idx) in counts.items()}
    want_lines = sum(e[0] for e in expected.values())
    seen = {"pos": 0, "lines": 0}

    def sink_lines() -> int:
        try:
            with open(sink, "rb") as fh:
                fh.seek(seen["pos"])
                chunk = fh.read()
        except FileNotFoundError:
            return 0
        seen["pos"] += len(chunk)
        seen["lines"] += chunk.count(b"\n")
        return seen["lines"]

    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__),
                                      "loadgen.py"),
         "--staging", fixture, "--watch", watch, "--sink", sink,
         "--out", os.path.join(base, "loadgen.json")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    writer = RotatingFileWriter(sink)
    q = None
    try:
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("load generator failed to start")
        t_start = time.monotonic()
        q = build_pipeline(
            spark, EngineConfig(checkpoint_interval_s=1), watch,
            checkpoint=os.path.join(base, "ckpt"), sink="file",
            file_writer=writer, state_dir=os.path.join(base, "state"),
            available_now=False, query_name=f"olr_tail_{tag}",
        )
        gen.stdin.write(f"release 0 0 {time.monotonic()} {PERIOD}\n")
        gen.stdin.flush()
        # warm-up: the first micro-batch that moved data has finished
        ok = _wait(lambda: bool(common.data_batches(
            common.progress_dicts(q))), 120)
        if not ok:
            raise RuntimeError(f"warm-up batch did not finish: "
                               f"{q.exception()}")
        warm_s = time.monotonic() - t_start
        t0 = time.monotonic() + 0.05
        gen.stdin.write(f"release 1 {last_seg} {t0} {PERIOD}\n")
        gen.stdin.flush()
        first_measured = 1 + SKIP
        measured = set(range(first_measured, last_seg + 1))

        def due(seg: int) -> float:
            return t0 + (seg - 1) * PERIOD

        # the schedule runs for last_seg periods; then wait until every
        # expected message is in the sink or the timeout passes
        time.sleep(max(0.0, due(last_seg) - time.monotonic()))
        _wait(lambda: sink_lines() >= want_lines, ARRIVAL_TIMEOUT, 0.2)
        log_before = len(ctx.engine_log())
        q.stop()
        stop_errors = ctx.engine_log()[log_before:].count(
            "StackOverflowError")
        progress = common.progress_dicts(q)
        exc = q.exception()
    finally:
        if q is not None and q.isActive:
            q.stop()
        try:
            gen.stdin.write("finish\n")
            gen.stdin.flush()
            gen.stdout.readline()
        except (BrokenPipeError, ValueError):
            pass
        gen.wait(30)
        writer.close()

    with open(os.path.join(base, "loadgen.json")) as fh:
        lg = json.load(fh)
    with open(sink, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    arrive = arrival_times(lg["stamps"], len(lines))
    lags, check = lags_ms(expected, lines, arrive, due, measured)
    # content: transactions that arrived complete but with other
    # operations than the reference (a wrong value, a rolled-back op)
    bad = set(check["missing"]) | set(check["wrong_count"])
    check["wrong_content"] = [
        x for x in content.mismatched(expected_ops,
                                      content.message_ops(lines))
        if x not in bad]
    late = [1e3 * (actual - due_) for _i, due_, actual in lg["releases"]]
    steady = common.data_batches(progress)[1:]  # the warm-up batch excluded
    busy_s = sum(b["durationMs"].get("triggerExecution", 0)
                 for b in steady) / 1e3
    steady_files = sum(b.get("numInputRows") or 0 for b in steady)
    lags.sort()
    tail, pct = common.tail_value(lags)
    return {
        "warm_s": warm_s, "lags": lags, "tail": tail, "tail_pct": pct,
        "check": check, "late_ms": late, "progress": progress,
        "batches": steady, "exception": exc, "stop_errors": stop_errors,
        "lines": lines, "sink_bytes": os.path.getsize(sink),
        "records": RATE * (last_seg + 1), "expected": expected,
        "e2e": {
            "items_per_s": RATE * steady_files / busy_s if busy_s else 0.0,
            "latency_p50_ms": common.median(lags),
            "latency_tail_ms": tail,
        },
    }


def failures(m: dict) -> int:
    c = m["check"]
    return (len(c["missing"]) + len(c["wrong_count"]) + len(c["unexpected"])
            + len(c["wrong_content"]) + c["out_of_order"]
            + (1 if m["exception"] else 0))


def run(ctx) -> dict:
    fixture = ctx.fixture(
        lambda: _build_fixture(ctx.seed, n_segments(ctx.seconds)))
    ctx.note(f"online_tail: {RATE} records/s, one segment per {PERIOD} s, "
             f"fixture {ctx.fixture_s:.2f} s")
    spark = ctx.session()
    m = _phase(ctx, spark, fixture, "a")
    e2e = dict(m["e2e"], setup_s=ctx.setup_s + m["warm_s"])
    failed = failures(m)
    batches = [(b.get("numInputRows"), b["durationMs"].get("triggerExecution"))
               for b in m["progress"][1:]]
    check = {k: (len(v) if isinstance(v, list) else v)
             for k, v in m["check"].items()}
    ctx.note(
        f"online_tail: {len(m['lags'])} lag samples, p50 "
        f"{e2e['latency_p50_ms']:.0f} ms, p{m['tail_pct']:.1f} "
        f"{m['tail']:.0f} ms; warm-up {m['warm_s']:.2f} s; batches after "
        f"it (files, ms) {batches}; generator late at most "
        f"{max(m['late_ms']):.1f} ms; stop errors {m['stop_errors']}; "
        f"check {check}"
    )
    res = {
        "e2e": e2e,
        "attempted": len(m["expected"]),
        "failed": failed,
        "correct": failed == 0,
    }
    if ctx.traced:
        from perfbench import tail_trace

        from perfbench.query_mix import QUERY_SET

        res["layers"], failed_b = tail_trace.trace(ctx, spark, fixture, m,
                                                   e2e)
        res["attempted"] += len(QUERY_SET)
        res["failed"] += failed_b
        res["correct"] = res["failed"] == 0
    return res
