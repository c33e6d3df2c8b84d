"""query_mix — the analytic surface over batch tables.

Closed loop, one client: one HEADLINE query of bench.py per operator
module (``QUERY_SET``, ten queries) runs one at a time over the read-only
sf0.01 tables in ``perfbench/data/sf0.01`` (seed 42, TESTDATA.md). The
inputs are fixed, so ``--seed`` changes nothing here. It covers the
relational, clustering, dedup, similarity, text, batch-CDC and the other
operator modules and no streaming layer.

A query's wall is the time to run it and collect its result into this
process (``toPandas``), as the oracle check needs it: a pass over the set
is both the measurement and, after each query's clock stopped, the
output check against the query's DuckDB oracle result (``oracle_sql()``
over the same tables, compared in ``testing.compare``'s canonical form).
The first pass of a session is the first execution of each query, as in
bench.py's headline pass; passes repeat until ``--seconds`` passed and a
query's wall is its median over the passes (at ten seconds, one pass).

Every fixture a query reads (the OLRS binary redo fixture of the CDC
query) and every oracle result is built before timing starts and cached
across runs; the run checks that nothing in the fixture cache changed
during the passes, so no pass included fixture time.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import tempfile
import time

from perfbench import common

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "data", "sf0.01")

# one HEADLINE query per module of metrics.QUERY_MODULES, in bench.py's
# order; the cheapest of each module at sf0.01, except dedup_cluster_cc
# (clustering: ROADMAP direction 4's biggest wall), q1 (relational: the
# scan-byte check) and the CDC query over the KDO positional binary redo
# fixture (every CDC query costs about the same)
QUERY_SET = (
    "q1_pricing_summary",
    "pipeline_pretraining_corpus",
    "dedup_cluster_cc",
    "decontaminate_ngram",
    "ann_cosine_topk",
    "text_quality_score",
    "cdc_kdo_positional_binary",
    "cdc_lob_reassembly",
    "event_funnel",
    "stream_session_window",
)


def layer_of(registry: dict) -> dict[str, str]:
    """Query → the module layer that defines it (relational2..5 fold
    into relational)."""
    return {name: registry[name].__module__.rsplit(".", 1)[1]
            .rstrip("0123456789") for name in QUERY_SET}


def _queries():
    """(wrapped queries, oracle SQL, query → module layer name)."""
    import __spark_entry__ as entry

    raw, _ = entry._registry()
    return entry.queries(), entry.oracle_sql(), layer_of(raw)


def _build_fixtures(spark) -> None:
    from openlogreplicator_spark.operators.cdc import (
        _kdo_positional_redo_dir,
    )

    _kdo_positional_redo_dir(spark, SF_DIR)


def _stamp(root: str) -> list:
    """Every file and directory under ``root`` with its mtime."""
    out = []
    for d, dirs, files in os.walk(root):
        for n in sorted(dirs + files):
            p = os.path.join(d, n)
            out.append((os.path.relpath(p, root), os.stat(p).st_mtime_ns))
    return sorted(out)


def _pass(spark, registry, expected: dict, status=None) -> dict:
    """Run each query once, collecting its result; per query: wall,
    whether the result matches the oracle (checked after the clock
    stopped) and with ``status`` the stage and SQL counters of its
    executions."""
    from openlogreplicator_spark.testing.compare import _canon

    out = {}
    for name in QUERY_SET:
        if status is not None:
            status.settle()
            stages0 = {(s["stageId"], s["attemptId"])
                       for s in status.stages()}
            exec0 = max((e["id"] for e in status.sql()), default=-1)
        rec, pdf = {}, None
        t = time.perf_counter()
        try:
            pdf = registry[name](spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001 — a query that raises fails
            rec["error"] = f"raised {e!r}"[:300]
        rec["s"] = time.perf_counter() - t
        if pdf is not None:
            got = _canon(pdf)
            if got != expected[name]:
                rec["error"] = (
                    f"does not match its oracle: columns {got[0]} vs "
                    f"{expected[name][0]}, {len(got[1])} vs "
                    f"{len(expected[name][1])} rows")
        if status is not None:
            status.settle()
            new = [s for s in status.stages()
                   if (s["stageId"], s["attemptId"]) not in stages0]
            sql = [e for e in status.sql() if e["id"] > exec0]
            rec.update(common.stage_totals(new))
            rec.update(common.sql_node_metrics(sql))
        out[name] = rec
        spark.catalog.clearCache()
    return out


def _measure(spark, registry, expected: dict, seconds: float,
             status=None) -> dict:
    """Passes over the set until ``seconds`` passed, at least one. Per
    query: the median wall over the passes, the counters of the first
    pass, and the first error of any pass."""
    passes = []
    t_end = time.monotonic() + seconds
    while not passes or time.monotonic() < t_end:
        passes.append(_pass(spark, registry, expected, status))
    out = {}
    for name in QUERY_SET:
        rec = dict(passes[0][name])
        rec["s"] = common.median(p[name]["s"] for p in passes)
        rec.pop("error", None)
        errors = [p[name]["error"] for p in passes if "error" in p[name]]
        if errors:
            rec["error"] = errors[0]
        out[name] = rec
    walls = [out[n]["s"] for n in QUERY_SET]
    return {
        "queries": out, "passes": len(passes),
        "e2e": {
            "items_per_s": len(walls) / sum(walls),
            "latency_p50_ms": 1e3 * common.median(walls),
            "latency_tail_ms": 1e3 * max(walls),
        },
    }


def _oracle_results(oracle: dict) -> dict:
    """Query → its DuckDB oracle result in ``testing.compare``'s
    canonical form (sorted column names, sorted rows of str cells),
    cached by the SQL text and the bytes of the tables."""
    from openlogreplicator_spark.testing.compare import _canon, duck_connect

    h = hashlib.sha256()
    for n in sorted(os.listdir(SF_DIR)):
        with open(os.path.join(SF_DIR, n), "rb") as fh:
            h.update(n.encode() + fh.read())
    data = h.hexdigest()
    cache = os.path.join(common.CACHE, "query_mix-oracle")
    os.makedirs(cache, exist_ok=True)
    os.utime(cache)
    out = {}
    for name in QUERY_SET:
        key = hashlib.sha256((data + oracle[name]).encode()).hexdigest()
        path = os.path.join(cache, f"{name}-{key[:16]}.pkl")
        if not os.path.exists(path):
            con = duck_connect(SF_DIR)
            try:
                canon = _canon(con.execute(oracle[name]).df())
            finally:
                con.close()
            with open(f"{path}.{os.getpid()}", "wb") as fh:
                pickle.dump(canon, fh)
            os.replace(f"{path}.{os.getpid()}", path)
        with open(path, "rb") as fh:
            out[name] = pickle.load(fh)
    return out


def _layers(res: dict, layers_of: dict) -> dict:
    out: dict[str, float] = {}
    for name, r in res.items():
        m = layers_of[name]
        out[f"query.{name}.s"] = r["s"]
        for k in ("s", "shuffle_bytes", "scan_bytes", "cpu_s", "py_bytes"):
            out[f"{m}.{k}"] = out.get(f"{m}.{k}", 0.0) + r.get(k, 0.0)
    return out


def _fixture_dir() -> str:
    """The cache directory of the OLRS query fixtures, which the fixture
    builders put under tempfile's directory."""
    fixtures = os.path.join(common.CACHE, "query_mix-fixtures")
    os.makedirs(fixtures, exist_ok=True)
    os.utime(fixtures)
    return fixtures


def _q1_scan(ctx, queries: dict) -> dict:
    q1 = queries["q1_pricing_summary"]
    out = {"query_mix.q1_scan_bytes": q1["scan_bytes"],
           "query_mix.q1_file_bytes": os.path.getsize(
               os.path.join(SF_DIR, "lineitem.parquet"))}
    ctx.note(f"query_mix trace: q1's scan node read "
             f"{q1['scan_bytes']:.0f} bytes in {q1['scan_files']:.0f} "
             f"files; lineitem.parquet is "
             f"{out['query_mix.q1_file_bytes']} bytes")
    return out


def module_layers(ctx, spark, status) -> tuple[dict, int]:
    """One pass over the set in a running traced session, for the
    per-module layer metrics: (layers, queries that raised or did not
    match their oracle). The replay_drain traced run calls this, so that
    a workload BENCHMARK.json lists carries these layers."""
    saved, tempfile.tempdir = tempfile.tempdir, _fixture_dir()
    try:
        registry, oracle, layers_of = _queries()
        expected = ctx.fixture(lambda: _oracle_results(oracle))
        ctx.fixture(lambda: _build_fixtures(spark))
        queries = _pass(spark, registry, expected, status)
    finally:
        tempfile.tempdir = saved
    for n, r in queries.items():
        if "error" in r:
            ctx.note(f"query_mix: {n} {r['error']}")
    layers = _layers(queries, layers_of)
    layers.update(_q1_scan(ctx, queries))
    return layers, sum("error" in r for r in queries.values())


def run(ctx) -> dict:
    fixtures = _fixture_dir()
    tempfile.tempdir = fixtures

    registry, oracle, layers_of = _queries()
    expected = ctx.fixture(lambda: _oracle_results(oracle))

    spark = ctx.session()
    ctx.fixture(lambda: _build_fixtures(spark))
    before = _stamp(fixtures)
    m = _measure(spark, registry, expected, ctx.seconds)
    e2e = dict(m["e2e"], setup_s=ctx.setup_s)
    errors = {n: r["error"] for n, r in m["queries"].items() if "error" in r}

    layers = None
    if ctx.traced:
        # the first pass above is every query's first execution; the
        # overhead compares two later ones: an untraced session, then a
        # traced one, both in the running JVM
        spark, setup_a = ctx.switch_session(spark, traced=False)
        a2 = _measure(spark, registry, expected, ctx.seconds)
        spark, setup_b = ctx.switch_session(spark, traced=True)
        ctx.sampler.peak = 0
        b = _measure(spark, registry, expected, ctx.seconds,
                     common.Status(spark))
        layers = _layers(b["queries"], layers_of)
        layers["engine.peak_rss_mb"] = ctx.sampler.peak / 2 ** 20
        layers.update(_q1_scan(ctx, b["queries"]))
        layers.update(ctx.overhead(a2["e2e"], b["e2e"], setup_a, setup_b))
        for res in (a2, b):
            for n, r in res["queries"].items():
                if "error" in r:
                    errors.setdefault(n, r["error"])

    untouched = _stamp(fixtures) == before
    for n, err in errors.items():
        ctx.note(f"query_mix: {n} {err}")
    failed = len(errors) + (0 if untouched else 1)
    walls = {n: m["queries"][n]["s"] for n in QUERY_SET}
    slowest = max(walls, key=walls.get)
    ctx.note(f"query_mix: {len(QUERY_SET)} queries, {m['passes']} passes, "
             f"walls " + ", ".join(f"{n} {w:.2f}" for n, w in walls.items())
             + f" s; slowest {slowest}; fixtures and oracle results built "
             f"in {ctx.fixture_s:.2f} s before timing, fixture cache "
             f"untouched by the passes: {untouched}")
    res = {"e2e": e2e, "attempted": len(QUERY_SET), "failed": failed,
           "correct": failed == 0}
    if layers is not None:
        res["layers"] = layers
    return res
