#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload replay_drain --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. Prints informational lines, then, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics of ``metrics.END_TO_END``, measured with the
Spark UI and its listeners off (the engine default). With ``--trace 1``
they are the per-layer metrics of ``metrics.PER_LAYER``: the run measures
the end-to-end metrics untraced, then traced (a session with the UI on,
whose public status data give the per-layer numbers); the tracing
overhead is the traced measurement minus the untraced one.

Everything the run writes lives under ``.perfbench_work/`` in the
repository root; seeded inputs are cached there by seed. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time
import traceback

T_START = time.monotonic()

WORKLOADS = ("replay_drain", "online_tail", "query_mix")


class Ctx:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args, run_dir: str):
        from perfbench import common

        self.seed = args.seed
        self.traced = bool(args.trace)
        # a traced run measures twice (untraced, then traced), each for
        # half of --seconds, to stay within the run time limit
        self.seconds = args.seconds / 2 if self.traced else args.seconds
        self.run_dir = run_dir
        self.info: list[str] = []
        self.setup_s = 0.0
        self.fixture_s = 0.0
        self._before_session = 0.0
        self.sampler = common.RssSampler()
        self.log_path = os.path.join(run_dir, "engine.log")

    def note(self, msg: str) -> None:
        self.info.append(msg)

    def fixture(self, build):
        """Run a fixture build outside every timed region."""
        t = time.monotonic()
        out = build()
        dt = time.monotonic() - t
        self.fixture_s += dt
        if not self.setup_s:
            self._before_session += dt
        return out

    def session(self):
        """Set the engine up; the set-up time counts from process start,
        fixture builds excluded."""
        from perfbench import common

        spark = common.start_session(self.run_dir, traced=False)
        self.setup_s = time.monotonic() - T_START - self._before_session
        self.sampler.watch(common.jvm_pid())
        return spark

    def switch_session(self, spark, traced: bool):
        """Replace the session with a new one in the running JVM, with
        the UI and its listeners on or off; returns it and its set-up
        time."""
        from perfbench import common

        spark.stop()
        t = time.monotonic()
        spark = common.start_session(self.run_dir, traced=traced)
        return spark, time.monotonic() - t

    def traced_session(self, spark):
        """A new untraced session, only to time its set-up, then a new
        traced one: (traced session, untraced set-up, traced set-up).
        Set-ups in the running JVM compare; the cold first one does
        not."""
        spark, setup_a = self.switch_session(spark, traced=False)
        spark, setup_b = self.switch_session(spark, traced=True)
        return spark, setup_a, setup_b

    @staticmethod
    def overhead(a: dict, b: dict, setup_a: float, setup_b: float) -> dict:
        """tracing.<metric>: the traced measurement ``b`` minus the
        untraced ``a``; for set-up, the traced minus the untraced in-JVM
        session set-up."""
        out = {f"tracing.{k}": b[k] - a[k] for k in b if k != "setup_s"}
        out["tracing.setup_s"] = setup_b - setup_a
        return out

    def engine_log(self) -> str:
        sys.__stderr__.flush()
        with open(self.log_path, errors="replace") as fh:
            return fh.read()


def _prune_cache(cache: str, keep: int = 12) -> None:
    """Keep the ``keep`` most recently used seeded inputs; the query
    fixtures and oracle results, which no seed changes, stay."""
    try:
        entries = [os.path.join(cache, d) for d in os.listdir(cache)
                   if not d.startswith("query_mix-")]
    except FileNotFoundError:
        return
    entries.sort(key=os.path.getmtime, reverse=True)
    for d in entries[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    # the program under test must be importable before any work starts
    import openlogreplicator_spark  # noqa: F401
    from perfbench import common, metrics

    run_dir = os.path.join(common.WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(common.CACHE, exist_ok=True)
    # everything the engine, its workers and tempfile write stays inside
    # the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    ctx = Ctx(args, run_dir)
    # the JVM and the Python workers inherit fd 2: their log goes to a
    # file the workloads can scan; Python's own stderr stays a terminal
    real_err = os.dup(2)
    log_fd = os.open(ctx.log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    sys.stderr = os.fdopen(real_err, "w", buffering=1)

    import importlib

    module = importlib.import_module(f"perfbench.{args.workload}")
    try:
        res = module.run(ctx)
    except Exception:  # noqa: BLE001 — report, then exit non-zero
        traceback.print_exc(file=sys.stderr)
        try:
            tail = ctx.engine_log()[-4000:]
            print("--- engine log tail ---\n" + tail, file=sys.stderr)
        except OSError:
            pass
        return 1
    finally:
        ctx.sampler.close()
        common.shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        _prune_cache(common.CACHE)

    if args.trace:
        names = metrics.PER_LAYER
        values = res["layers"]
    else:
        names = metrics.END_TO_END
        values = res["e2e"]
    out = {}
    for name, unit in names.items():
        v = float(values.get(name, 0))
        if not math.isfinite(v):
            print(f"metric {name} is not finite: {v}", file=sys.stderr)
            return 1
        out[name] = {"value": v, "unit": unit}
    for line in ctx.info:
        print(line)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": out,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
