"""Shared plumbing of the benchmark: session set-up and tear-down, the
resident-memory sampler, percentiles, and readers of Spark's public
status data (REST status store, streaming progress)."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(WORK, "cache")


def cores() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------------------
# percentiles
# --------------------------------------------------------------------------


def tail_rank(n: int, q: float = 0.99) -> int:
    """0-based rank of the reported tail percentile over ``n`` sorted
    samples: the q-quantile rank, lowered until at least ten samples lie
    beyond it. Returns -1 when fewer than eleven samples exist."""
    if n < 11:
        return -1
    return min(math.ceil(q * n) - 1, n - 11)


def tail_value(values, q: float = 0.99) -> tuple[float, float]:
    """(value, percentile actually reported) — the highest percentile up
    to ``q`` that has at least ten samples beyond it."""
    s = sorted(values)
    k = tail_rank(len(s), q)
    if k < 0:
        return float("nan"), float("nan")
    return s[k], 100.0 * (k + 1) / len(s)


def median(values) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else float("nan")


# --------------------------------------------------------------------------
# resident memory of the JVM and its descendants (the Python workers)
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class RssSampler:
    """Peak of the summed RSS of the JVM process tree, sampled every
    ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._pid: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def watch(self, pid: int) -> None:
        self._pid = pid
        if not self._thread.is_alive():
            self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._pid is not None:
                self.peak = max(self.peak, tree_rss_bytes(self._pid))
            self._stop.wait(self.period)

    def close(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(5)


# --------------------------------------------------------------------------
# session set-up / tear-down
# --------------------------------------------------------------------------


def _worker_warm(it):
    import openlogreplicator_spark.operators.transaction_assembly  # noqa: F401
    import openlogreplicator_spark.sources.binary_redo  # noqa: F401

    yield from it


def start_session(run_dir: str, traced: bool):
    """The engine's own session factory at local[nproc], plus the
    warm-up every workload needs: one JVM job and one Python-worker
    stage. The UI and its listeners stay off unless ``traced``."""
    from openlogreplicator_spark.session import get_spark

    n = cores()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # no JVM file outside the checkout: temp files go under the run
        # directory, and the perf-data file (/tmp/hsperfdata_*) is off
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedStages": "10000",
            "spark.ui.retainedJobs": "10000",
            "spark.sql.ui.retainedExecutions": "10000",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]",
        shuffle_partitions=n, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 1 << 16, 1, n).selectExpr("sum(id)").collect()
    spark.range(0, 1 << 12, 1, n).mapInArrow(
        _worker_warm, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown_jvm() -> None:
    """Stop the JVM that pyspark launched and wait for it to end; its
    Python workers end with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(30)
        except Exception:  # noqa: BLE001 — TimeoutExpired
            proc.kill()
            proc.wait(10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------------------
# Spark's REST status store (traced runs only)
# --------------------------------------------------------------------------


class Status:
    """Reader of the UI's REST API for one application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def stages(self) -> list[dict]:
        return self.get("stages?status=complete")

    def jobs(self) -> list[dict]:
        return self.get("jobs")

    def sql(self) -> list[dict]:
        return self.get("sql?details=true&planDescription=false"
                        "&offset=0&length=100000")

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until the listener bus has caught up: no job running and
        the completed-stage count stable over two reads."""
        deadline = time.monotonic() + timeout
        prev = -1
        while time.monotonic() < deadline:
            running = [j for j in self.jobs() if j["status"] == "RUNNING"]
            n = len(self.stages())
            if not running and n == prev:
                return
            prev = n
            time.sleep(0.1)


def stage_totals(stages: list[dict]) -> dict:
    """Sum of the counters a span reports over a set of stages."""
    return {
        "stages": len(stages),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            for s in stages
        ),
    }


def jobs_per_batch(status, batches: list[dict]) -> tuple[float, float]:
    """Median jobs and completed stages per micro-batch of one streaming
    query, matched by the ``runId = …`` and ``batch = N`` lines Spark
    puts in each batch job's description."""
    import re

    if not batches:
        return 0.0, 0.0
    run_id = batches[0]["runId"]
    ids = {b["batchId"] for b in batches}
    jobs: dict[int, list] = {}
    for j in status.jobs():
        desc = j.get("description") or ""
        m = re.search(r"batch = (\d+)", desc)
        if run_id in desc and m and int(m.group(1)) in ids:
            jobs.setdefault(int(m.group(1)), []).append(j)
    if not jobs:
        return 0.0, 0.0
    return (median(len(v) for v in jobs.values()),
            median(sum(j.get("numCompletedStages", 0) for j in v)
                   for v in jobs.values()))


def _metric_number(text: str) -> float:
    """A SQL metric's rendered value → number. Sizes render as
    "total (min, med, max ...)\\n10.3 MiB (...)" and counts as "1,234"."""
    units = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
             "TiB": 1024 ** 4}
    line = text.strip().splitlines()[-1] if "\n" in text else text
    tok = line.split("(")[0].strip().replace(",", "").split()
    if not tok:
        return 0.0
    try:
        v = float(tok[0])
    except ValueError:
        return 0.0
    if len(tok) > 1 and tok[1] in units:
        v *= units[tok[1]]
    return v


def sql_node_metrics(executions: list[dict]) -> dict:
    """Sum, over the plan nodes of the given SQL executions, of the
    metrics the per-module metrics need: files and bytes read by scan
    nodes, and bytes moved across the Python boundary."""
    out = {"scan_bytes": 0.0, "scan_files": 0.0, "py_bytes": 0.0,
           "py_out_bytes": 0.0}
    for ex in executions:
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                name, val = m.get("name", ""), m.get("value", "")
                if name == "size of files read":
                    out["scan_bytes"] += _metric_number(val)
                elif name == "number of files read":
                    out["scan_files"] += _metric_number(val)
                elif name == "data sent to Python workers":
                    out["py_bytes"] += _metric_number(val)
                elif name == "data returned from Python workers":
                    out["py_bytes"] += _metric_number(val)
                    out["py_out_bytes"] += _metric_number(val)
    return out


# --------------------------------------------------------------------------
# streaming progress
# --------------------------------------------------------------------------


def progress_dicts(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def data_batches(progresses: list[dict]) -> list[dict]:
    """Batches that moved data (zero-input scheduler ticks excluded)."""
    return [
        p for p in progresses
        if p.get("numInputRows") or
        ((p.get("sink") or {}).get("numOutputRows") or 0) > 0
    ]


def drain_signature(progresses: list[dict]) -> str:
    """Load-independent signature of a drain: per data batch, input
    rows, state rows updated and total, and sink rows."""
    import hashlib

    rows = []
    for d in data_batches(progresses):
        st = (d.get("stateOperators") or [{}])[0]
        rows.append((d.get("batchId"), d.get("numInputRows"),
                     st.get("numRowsUpdated"), st.get("numRowsTotal"),
                     (d.get("sink") or {}).get("numOutputRows")))
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()[:12]
