"""LOB reassembly (T8) + chained-row merge (T7) + big-txn split (T6)."""

from __future__ import annotations

import json

from openlogreplicator_spark.operators.lob_assembly import (
    LOB_CHUNK_SCHEMA,
    assemble_lobs,
    attach_lobs,
)
from openlogreplicator_spark.operators.transaction_assembly import (
    FB_NEXT,
    FB_PREV,
    assemble_transactions_py,
)


def test_lob_chunks_assemble_in_order(spark):
    chunks = spark.createDataFrame(
        [
            ("L1", "t", 2, "cc"),
            ("L1", "t", 0, "aa"),   # out-of-order arrival
            ("L1", "t", 1, "bb"),
            ("L2", "t", 0, "zz"),
        ],
        LOB_CHUNK_SCHEMA,
    )
    lobs = {r.lob_id: (r.value, r.n_chunks) for r in assemble_lobs(chunks).collect()}
    assert lobs == {"L1": ("aabbcc", 3), "L2": ("zz", 1)}


def test_lob_attach_replaces_placeholder(spark):
    events = spark.createDataFrame(
        [
            ("t", 1, {"ID": "1", "DOC": "LOB:L1"}),
            ("t", 2, {"ID": "2", "DOC": "LOB:MISSING"}),
            ("t", 3, {"ID": "3"}),
        ],
        "xid string, num int, cols map<string,string>",
    )
    chunks = spark.createDataFrame(
        [("L1", "t", 0, "hello"), ("L1", "t", 1, "-world")], LOB_CHUNK_SCHEMA
    )
    out = {r.num: r.cols for r in
           attach_lobs(events, assemble_lobs(chunks)).collect()}
    assert out[1]["DOC"] == "hello-world"
    assert out[2]["DOC"] == "LOB:MISSING"  # orphan stays a placeholder
    assert out[3] == {"ID": "3"}


def test_lob_attach_multiple_lob_columns_per_row(spark):
    """A row updating two LOB columns must get each placeholder replaced
    by ITS OWN assembled value (round-1 bug: the first LOB's content was
    copied into every LOB column of the row)."""
    events = spark.createDataFrame(
        [
            ("t", 1, {"ID": "1", "DOC": "LOB:L1", "IMG": "LOB:L2"}),
            ("t", 2, {"ID": "2", "DOC": "LOB:L1", "IMG": "LOB:GONE"}),
            ("t", 3, {"ID": "3", "A": "LOB:L2", "B": "LOB:L2"}),
        ],
        "xid string, num int, cols map<string,string>",
    )
    chunks = spark.createDataFrame(
        [("L1", "t", 0, "alpha"), ("L2", "t", 0, "beta")], LOB_CHUNK_SCHEMA
    )
    out = {r.num: r.cols for r in
           attach_lobs(events, assemble_lobs(chunks)).collect()}
    assert out[1] == {"ID": "1", "DOC": "alpha", "IMG": "beta"}
    assert out[2] == {"ID": "2", "DOC": "alpha", "IMG": "LOB:GONE"}
    assert out[3] == {"ID": "3", "A": "beta", "B": "beta"}


def test_chain_page_numbers_pointer_doubling(spark):
    """dba chains → page numbers via the per-LOB chain walk: a 9-page
    chain in scrambled order, plus an independent 2-page chain."""
    from openlogreplicator_spark.operators.lob_assembly import (
        LOB_CHAIN_SCHEMA,
        chain_page_numbers,
    )

    seq = [31, 7, 90, 2, 55, 11, 68, 4, 23]  # logical page order of dbas
    links = [("LA", seq[i], seq[i + 1]) for i in range(len(seq) - 1)]
    links += [("LB", 100, 200)]
    import random

    random.Random(5).shuffle(links)
    chains = spark.createDataFrame(links, LOB_CHAIN_SCHEMA)
    got = {(r.lob_id, r.dba): r.page_no
           for r in chain_page_numbers(chains).collect()}
    assert [got[("LA", d)] for d in seq] == list(range(9))
    assert got[("LB", 100)] == 0 and got[("LB", 200)] == 1


def test_assemble_lobs_indexed_orders_by_index(spark):
    """Page order comes from the index map, not arrival order or dba
    value; unmapped chunks are counted and excluded."""
    from openlogreplicator_spark.operators.lob_assembly import (
        LOB_DBA_CHUNK_SCHEMA,
        LOB_INDEX_SCHEMA,
        assemble_lobs_indexed,
    )

    chunks = spark.createDataFrame(
        [
            ("L1", "t", 90, "cc"),   # high dba, LAST page per index
            ("L1", "t", 10, "cc_orphan"),  # no index entry
            ("L1", "t", 55, "aa"),   # index says page 0
            ("L1", "t", 31, "bb"),
        ],
        LOB_DBA_CHUNK_SCHEMA,
    )
    index = spark.createDataFrame(
        [("L1", 55, 0), ("L1", 31, 1), ("L1", 90, 2)], LOB_INDEX_SCHEMA
    )
    out = assemble_lobs_indexed(chunks, index).collect()[0]
    assert out.value == "aabbcc"
    assert out.n_unmapped == 1


def test_chained_row_pieces_merge():
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "insert", "obj": 1, "bdba": 1,
         "slot": 0, "fb": FB_NEXT, "cols": {"c1": "a"}},
        {"scn": 3, "xid": "t", "opcode": "insert", "obj": 1, "bdba": 1,
         "slot": 1, "fb": FB_PREV | FB_NEXT, "cols": {"c2": "b"}},
        {"scn": 4, "xid": "t", "opcode": "insert", "obj": 1, "bdba": 1,
         "slot": 2, "fb": FB_PREV, "cols": {"c3": "c"}},
        # independent row (no chain flags)
        {"scn": 5, "xid": "t", "opcode": "insert", "obj": 1, "bdba": 2,
         "slot": 0, "fb": 0, "cols": {"c1": "x"}},
        {"scn": 6, "xid": "t", "opcode": "commit"},
    ]
    out = assemble_transactions_py(recs)
    assert len(out) == 2
    assert out[0]["cols"] == {"c1": "a", "c2": "b", "c3": "c"}  # merged chain
    assert out[1]["cols"] == {"c1": "x"}
    assert [e["num"] for e in out] == [0, 1]


def test_chain_does_not_merge_across_objects():
    recs = [
        {"scn": 1, "xid": "t", "opcode": "begin"},
        {"scn": 2, "xid": "t", "opcode": "insert", "obj": 1, "bdba": 1,
         "slot": 0, "fb": FB_NEXT, "cols": {"c1": "a"}},
        {"scn": 3, "xid": "t", "opcode": "insert", "obj": 2, "bdba": 1,
         "slot": 1, "fb": FB_PREV, "cols": {"c2": "b"}},
        {"scn": 4, "xid": "t", "opcode": "commit"},
    ]
    out = assemble_transactions_py(recs)
    assert len(out) == 2  # different obj → no merge


def test_big_transaction_split(spark):
    import datetime

    from openlogreplicator_spark.builders.json_builder import build_events
    from openlogreplicator_spark.config import Format, MessageFormat
    from openlogreplicator_spark.event_model import CHANGE_EVENT_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (100 + i, 100, 0, ts, 1, "1.1.1", "DB", "c", "U", "T", 1, "rid",
         None, {"N": str(i)}, {}, i, 0)
        for i in range(7)
    ]
    df = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
    fmt = Format(message=MessageFormat.FULL)
    out = build_events(df, fmt, max_ops_per_message=3).collect()
    assert len(out) == 3  # 7 ops → parts of 3/3/1
    by_key = {r.key: json.loads(r.value) for r in out}
    assert set(by_key) == {"1.1.1:0", "1.1.1:1", "1.1.1:2"}
    # ordered payload preserved across the split
    ns = [p["after"]["N"] for k in sorted(by_key) for p in by_key[k]["payload"]]
    assert ns == [str(i) for i in range(7)]
    assert by_key["1.1.1:2"]["part"] == 2


def test_chain_walk_null_tail_link_emits_no_phantom_page(spark):
    """r12 review pass: LOB_CHAIN_SCHEMA allows a null-terminated tail
    row (dba=30, next_dba=NULL); pandas floats the NULL to NaN, which
    passed `cur is not None` and appended a phantom NaN-dba page to
    every chain. The walk must emit exactly the real pages."""
    from openlogreplicator_spark.operators.lob_assembly import (
        chain_page_numbers,
    )

    chains = spark.createDataFrame(
        [("L1", 10, 20), ("L1", 20, 30), ("L1", 30, None)],
        "lob_id string, dba long, next_dba long",
    )
    rows = chain_page_numbers(chains).collect()
    got = sorted((r.dba, r.page_no) for r in rows)
    assert got == [(10, 0), (20, 1), (30, 2)], got
    assert all(r.dba is not None for r in rows)
