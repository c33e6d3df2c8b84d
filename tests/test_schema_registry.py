"""As-of dictionary resolution semantics (reference Schema.cpp/T9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from openlogreplicator_spark.metadata.schema_registry import (
    apply_dictionary_txns,
    asof_resolve,
    prune_superseded,
    select_tables,
)


def _dict(spark):
    rows = [
        # obj, scn_from, owner, name, type, dropped
        (1, 0, "APP", "T1", "TABLE", False),
        (1, 100, "APP", "T1_RENAMED", "TABLE", False),
        (1, 200, "APP", "T1_RENAMED", "TABLE", True),   # dropped at 200
        (2, 50, "APP", "T2", "TABLE", False),
        (3, 10, "SYS", "OBJ$", "TABLE", False),
    ]
    return spark.createDataFrame(
        rows, "obj long, scn_from long, owner string, name string, type string, dropped boolean"
    )


def _events(spark):
    rows = [
        (1, 5), (1, 99), (1, 100), (1, 150), (1, 250),
        (2, 49), (2, 60), (3, 10),
    ]
    return spark.createDataFrame(rows, "obj long, scn long")


EXPECT = {
    (1, 5): ("T1", False),
    (1, 99): ("T1", False),
    (1, 100): ("T1_RENAMED", False),   # version at exactly scn applies
    (1, 150): ("T1_RENAMED", False),
    (1, 250): ("T1_RENAMED", True),    # resolved to tombstone
    (2, 49): (None, None),             # before first version → unresolved
    (2, 60): ("T2", False),
    (3, 10): ("OBJ$", False),
}


def test_asof_resolve_window(spark):
    out = asof_resolve(_events(spark), _dict(spark))
    got = {(r.obj, r.scn): (r.name, r.dropped) for r in out.collect()}
    assert got == EXPECT


def test_regex_table_selection(spark):
    d = select_tables(_dict(spark), owner_re="^APP$", table_re="^T1")
    assert {r.name for r in d.collect()} == {"T1", "T1_RENAMED"}


def test_visible_columns_property_bits(spark):
    from openlogreplicator_spark.metadata.schema_registry import visible_columns

    cols = spark.createDataFrame(
        [
            (1, 0, "ID", 0),
            (1, 1, "HIDDEN_C", 1),
            (1, 2, "GUARD_C", 2),
            (1, 3, "NESTED_C", 4),
            (1, 4, "UNUSED_C", 8),
            (1, 5, "V", None),
        ],
        "obj long, col int, name string, property long",
    )
    assert {r.name for r in visible_columns(cols).collect()} == {"ID", "V"}
    assert {r.name for r in visible_columns(cols, show_hidden=True).collect()} == {
        "ID", "V", "HIDDEN_C",
    }
    all_shown = visible_columns(
        cols, show_hidden=True, show_guard=True, show_nested=True, show_unused=True
    )
    assert all_shown.count() == 6


def test_dictionary_txn_apply_and_prune(spark):
    d = _dict(spark)
    sys_events = spark.createDataFrame(
        [(4, 300, "c", "APP", "T4", "TABLE"), (2, 310, "d", "APP", "T2", "TABLE")],
        "obj long, scn long, op string, owner string, name string, type string",
    )
    d2 = apply_dictionary_txns(d, sys_events)
    out = asof_resolve(
        spark.createDataFrame([(4, 305), (2, 320)], "obj long, scn long"), d2
    ).collect()
    got = {(r.obj, r.scn): (r.name, r.dropped) for r in out}
    assert got[(4, 305)] == ("T4", False)
    assert got[(2, 320)] == ("T2", True)

    pruned = prune_superseded(d2, checkpoint_scn=150)
    # obj 1: versions ≤150 collapse to the scn_from=100 one; 200 kept
    v1 = sorted(
        r.scn_from for r in pruned.filter(F.col("obj") == 1).collect()
    )
    assert v1 == [100, 200]
    # resolution after the checkpoint is unchanged
    out2 = asof_resolve(
        spark.createDataFrame([(1, 150), (1, 250)], "obj long, scn long"), pruned
    ).collect()
    got2 = {(r.obj, r.scn): (r.name, r.dropped) for r in out2}
    assert got2[(1, 150)] == ("T1_RENAMED", False)
    assert got2[(1, 250)] == ("T1_RENAMED", True)


def test_diff_schemas_compare_to(spark):
    """Schema::compareTo analog (Schema.cpp:113-143): added / dropped /
    changed columns between two dictionary snapshots."""
    from openlogreplicator_spark.metadata.schema_registry import diff_schemas

    shape = ("obj long, intcol int, name string, type int, length int,"
             " precision int, scale int, nullable boolean, numpk int")
    old = spark.createDataFrame(
        [
            (1, 1, "ID", 2, 22, 10, 0, False, 1),
            (1, 2, "VAL", 1, 100, None, None, True, 0),
            (1, 3, "DROPME", 1, 10, None, None, True, 0),
            (2, 1, "K", 2, 22, 10, 0, False, 1),
        ],
        shape,
    )
    new = spark.createDataFrame(
        [
            (1, 1, "ID", 2, 22, 10, 0, False, 1),           # unchanged
            (1, 2, "VAL", 1, 200, None, None, True, 0),      # length widened
            (1, 4, "ADDED", 12, 7, None, None, True, 0),     # new column
            (2, 1, "K", 2, 22, 10, 0, False, 1),             # unchanged
        ],
        shape,
    )
    changes = {
        (r.obj, r.intcol): (r.change, r.old_name, r.new_name)
        for r in diff_schemas(old, new).collect()
    }
    assert changes == {
        (1, 2): ("column_changed", "VAL", "VAL"),
        (1, 3): ("column_dropped", "DROPME", None),
        (1, 4): ("column_added", None, "ADDED"),
    }


def test_asof_resolve_maps_and_duplicates(spark):
    """Real event frames carry map-typed columns and may hold exact
    duplicate rows: as-of resolution must resolve a mappy frame,
    preserve the row MULTISET, and keep an unknown obj unresolved."""
    events = spark.createDataFrame(
        [
            (1, 150, {"A": "x"}),
            (1, 150, {"A": "x"}),   # exact duplicate row — must survive
            (1, 5, {"B": "y"}),
            (9, 100, None),         # unknown obj → unresolved, kept
        ],
        "obj long, scn long, cols map<string,string>",
    )
    out = asof_resolve(events, _dict(spark)).collect()
    assert len(out) == 4, "duplicate/unresolved rows must be preserved"
    by = sorted(
        ((r.obj, r.scn, r.name, r.dropped, r.cols) for r in out),
        key=lambda t: (t[0], t[1]),
    )
    assert by == [
        (1, 5, "T1", False, {"B": "y"}),
        (1, 150, "T1_RENAMED", False, {"A": "x"}),
        (1, 150, "T1_RENAMED", False, {"A": "x"}),
        (9, 100, None, None, None),
    ]


def test_latest_columns_collapses_versions(spark):
    """r12 review pass: builders fed ALL versions of a versioned column
    dictionary produced duplicate column names (DUPLICATED_MAP_KEY at
    runtime on the first appended schema change); latest_columns keeps
    exactly the newest version per (obj, col)."""
    from openlogreplicator_spark.event_model import DICT_COL_SCHEMA
    from openlogreplicator_spark.metadata.schema_registry import (
        latest_columns,
    )

    rows = [
        (7, 0, 0, 0, "ID", 2, 22, 10, 0, 873, False, 1, 0, 0),
        (7, 1, 1, 1, "V", 1, 20, None, None, 873, True, 0, 0, 0),
        # column 1 widened at scn 100 — a SECOND version of col 1
        (7, 1, 1, 1, "V", 1, 40, None, None, 873, True, 0, 0, 100),
    ]
    dc = spark.createDataFrame(rows, DICT_COL_SCHEMA)
    got = {(r.col, r.length, r.scn_from)
           for r in latest_columns(dc).collect()}
    assert got == {(0, 22, 0), (1, 40, 100)}
    # unversioned frames pass through untouched
    plain = dc.drop("scn_from")
    assert latest_columns(plain).count() == 3
