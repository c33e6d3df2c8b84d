"""Self-tests of the benchmark's own logic (no Spark session needed).

Run: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common, metrics, online_tail, redo_fixtures  # noqa: E402


def _tail_bytes(seed: int) -> list[bytes]:
    recs = redo_fixtures.tail_records(seed, 1500)
    return [redo_fixtures.encode_file(seg, k)
            for k, seg in enumerate(redo_fixtures.tail_segments(recs, 500), 1)]


def test_same_seed_gives_byte_identical_segments():
    a, b = _tail_bytes(7), _tail_bytes(7)
    assert len(a) == 3
    assert a == b
    assert _tail_bytes(8) != a


def test_same_seed_gives_byte_identical_replay_files():
    def files(seed):
        txns = redo_fixtures.replay_transactions(seed, 2000)
        return [redo_fixtures.encode_file(f, i + 1) for i, f in
                enumerate(redo_fixtures.replay_files(txns, 4))]

    assert files(3) == files(3)
    assert files(3) != files(4)


def test_replay_transactions_are_plain_and_never_straddle_files():
    txns = redo_fixtures.replay_transactions(1, 3000)
    for t in txns:
        ops = [r["opcode"] for r in t]
        assert ops[0] == "begin" and ops[-1] == "commit"
        assert set(ops[1:-1]) <= {"insert", "update", "delete"}
    files = redo_fixtures.replay_files(txns, 8)
    where = {}
    for i, f in enumerate(files):
        assert [r["scn"] for r in f] == sorted(r["scn"] for r in f)
        for r in f:
            assert where.setdefault(r["xid"], i) == i


def test_tail_stream_straddles_segments_and_has_an_exotic_quarter():
    recs = redo_fixtures.tail_records(2, 8000)
    segs = redo_fixtures.tail_segments(recs, 1000)
    assert [r["scn"] for r in recs] == sorted(r["scn"] for r in recs)
    seg_of = {}
    for k, seg in enumerate(segs):
        for r in seg:
            seg_of.setdefault(r["xid"], set()).add(k)
    assert sum(len(v) > 1 for v in seg_of.values()) > 100
    exotic = {r["xid"] for r in recs
              if r["opcode"] in ("rollback", "prollback", "qmi", "qmd")}
    ended = {r["xid"] for r in recs if r["opcode"] in ("commit", "rollback")}
    share = len(exotic & ended) / len(ended)
    assert 0.15 < share < 0.35


def test_lag_runs_from_the_due_time_not_the_write_time():
    # two transactions commit in segments 3 and 4; segment 3 was due at
    # t=3.0 but written late (a stall) — lag still starts at t=3.0
    expected = {"a": (2, 100, 3), "b": (1, 200, 4)}
    lines = [json.dumps({"xid": "a"}), json.dumps({"xid": "a"}),
             json.dumps({"xid": "b"})]
    stamps = [(1, 5.0), (3, 6.5)]
    arrive = online_tail.arrival_times(stamps, len(lines))
    assert arrive == [5.0, 6.5, 6.5]
    lags, check = online_tail.lags_ms(
        expected, lines, arrive, lambda seg: float(seg), {3, 4})
    assert sorted(lags) == [2500.0, 3500.0]
    assert check == {"missing": [], "wrong_count": [], "unexpected": [],
                     "out_of_order": 0}


def test_missing_and_rolled_back_transactions_are_failures():
    expected = {"a": (1, 100, 3), "b": (2, 200, 3)}
    lines = [json.dumps({"xid": "b"}), json.dumps({"xid": "r"})]
    arrive = online_tail.arrival_times([(2, 9.0)], 2)
    lags, check = online_tail.lags_ms(
        expected, lines, arrive, lambda seg: 0.0, {3})
    assert math.inf in lags and len(lags) == 2
    assert check["missing"] == ["a"]
    assert check["wrong_count"] == ["b"]
    assert check["unexpected"] == ["r"]


def test_out_of_commit_order_is_detected():
    expected = {"a": (1, 200, 1), "b": (1, 100, 1)}
    lines = [json.dumps({"xid": "a"}), json.dumps({"xid": "b"})]
    _lags, check = online_tail.lags_ms(
        expected, lines, [1.0, 1.0], lambda seg: 0.0, {1})
    assert check["out_of_order"] == 1


@pytest.mark.parametrize("n", [11, 12, 27, 100, 999, 1000, 1001, 5000])
def test_reported_tail_percentile_has_ten_samples_beyond_it(n):
    k = common.tail_rank(n)
    assert n - 1 - k >= 10
    value, pct = common.tail_value(list(range(n)))
    assert value == k and pct <= 99.0 + 100.0 / n
    if n >= 1000:
        assert pct == pytest.approx(99.0, abs=0.1)


def test_no_tail_percentile_below_eleven_samples():
    assert common.tail_rank(10) == -1
    assert math.isnan(common.tail_value(range(10))[0])


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == [
        "replay_drain", "online_tail"]
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_sql_metric_values_parse():
    assert common._metric_number("1,234") == 1234
    assert common._metric_number(
        "total (min, med, max (stageId: taskId))\n10.3 MiB (1 B, 2 B, 3 B)"
    ) == pytest.approx(10.3 * 2 ** 20)


def _render(row: dict) -> str:
    """A reference row as the JSON builder renders it (decoded values)."""
    img = {k: (v.lower() if k == "RAW" else v) for k, v in row["cols"].items()}
    p = {"op": row["op"], "schema": {"obj": row["obj"]}}
    p["before" if row["op"] == "d" else "after"] = img
    return json.dumps({"scn": row["scn"], "xid": row["xid"], "payload": [p]})


def test_content_check_catches_a_wrong_value_and_a_rolled_back_op():
    from perfbench import content

    rows = [
        {"xid": "a", "scn": 10, "op": "c", "obj": 1,
         "cols": {"QTY": "5", "PRICE": "54760.20", "RAW": "AB"}},
        {"xid": "a", "scn": 12, "op": "d", "obj": 2, "cols": {"QTY": "7"}},
        {"xid": "b", "scn": 11, "op": "u", "obj": 1,
         "cols": {"DISC": "0.05"}},
    ]
    expected = content.reference_ops(rows)
    msgs = [_render(r) for r in rows]
    # the engine renders NUMBER 54760.20 as 54760.2 and RAW in lower case
    assert '"54760.20"' in msgs[0]
    msgs[0] = msgs[0].replace('"54760.20"', '"54760.2"')
    assert content.mismatched(expected, content.message_ops(msgs)) == []
    assert (content.digest(content.message_ops(msgs))
            == content.digest(expected))
    wrong = list(msgs)
    wrong[2] = wrong[2].replace('"0.05"', '"0.5"')
    assert content.mismatched(expected, content.message_ops(wrong)) == ["b"]
    # a rolled-back op (scn 11 of a) emitted in place of the live one
    swapped = list(msgs)
    swapped[1] = swapped[1].replace('"scn": 12', '"scn": 11')
    assert content.mismatched(expected,
                              content.message_ops(swapped)) == ["a"]


def test_distinct_share_is_measured_per_file_and_column():
    files = [
        [{"cols": {"QTY": "1", "PRICE": "2.50"}, "rows": None},
         {"cols": {"QTY": "1", "PRICE": "2.5"}, "rows": None}],
        [{"cols": None, "rows": [{"QTY": "1"}, {"QTY": "2"}]}],
    ]
    share = redo_fixtures.distinct_share(files)
    assert share["QTY"] == 0.75          # (1/2 + 2/2) / 2
    assert share["PRICE"] == 0.5         # 2.50 and 2.5 are one image
    assert share["RAW"] == 0.0


def test_replay_images_carry_the_lineitem_value_distribution():
    txns = redo_fixtures.replay_transactions(5, 6000)
    share = redo_fixtures.distinct_share(redo_fixtures.replay_files(txns, 2))
    # few quantities, discounts and notes; nearly every price and raw
    # distinct, as in the binary CDC fixture built from the same rows
    assert share["QTY"] < 0.05 and share["DISC"] < 0.02
    assert share["NOTE"] < 0.01
    assert share["PRICE"] > 0.9 and share["RAW"] > 0.9


def test_query_set_is_one_headline_query_per_module_in_bench_order():
    import __spark_entry__ as entry
    from bench import HEADLINE

    from perfbench import query_mix

    raw, _ = entry._registry()
    layers = query_mix.layer_of(raw)
    assert sorted(layers.values()) == sorted(metrics.QUERY_MODULES)
    assert [n for n in HEADLINE if n in layers] == list(query_mix.QUERY_SET)
    assert "dedup_cluster_cc" in layers
