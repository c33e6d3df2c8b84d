"""Schema dictionary registry with as-of-SCN resolution.

The reference keeps an in-memory replica of the Oracle dictionary
(SYS.OBJ$/COL$/…, src/metadata/Schema.cpp:113-143), versions it by SCN
(metadata->schema->scn) and maintains it incrementally from the redo
stream itself: DML on SYS.* routes to SystemTransaction::process* which
upserts the dictionary packs at commit
(src/builder/SystemTransaction.cpp:427-728).

Spark shape:
- the dictionary is a versioned DataFrame keyed (obj, scn_from) — in
  production a Delta/parquet table, here any DataFrame source;
- as-of resolution = for each event (obj, scn) pick the dictionary row
  with the greatest scn_from ≤ scn. Implemented as the union-window
  as-of pattern: one shuffle on obj, `last(ignorenulls)` over the
  SCN-ordered frame — never a per-event range join;
- incremental maintenance = append new (obj, scn_from) versions from
  decoded system transactions + optionally prune superseded versions
  (foreachBatch MERGE in streaming);
- table selection (F1) = regex owner/table filter applied to the
  dictionary BEFORE the join, so non-selected tables never shuffle.

As-of resolution is always the union-window :func:`asof_resolve`: one
shuffle on the key, no range join, and the same plan whether the
dictionary holds ten tables or a million.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def select_tables(
    dict_obj: DataFrame,
    owner_re: str = ".*",
    table_re: str = ".*",
) -> DataFrame:
    """F1 regex table selection at the dictionary (metadata pruning):
    only matching objects ever reach the decode join
    (Schema.cpp:506-516)."""
    return dict_obj.filter(
        F.col("owner").rlike(owner_re) & F.col("name").rlike(table_re)
    )


# SysCol property bits (reference src/common/table/SysCol.h:32-68)
COL_PROP_HIDDEN = 0x1
COL_PROP_GUARD = 0x2
COL_PROP_NESTED = 0x4
COL_PROP_UNUSED = 0x8


def visible_columns(
    dict_col: DataFrame,
    show_hidden: bool = False,
    show_guard: bool = False,
    show_nested: bool = False,
    show_unused: bool = False,
    xmltype_visible: bool = False,
) -> DataFrame:
    """F8 column-visibility projection (Builder.cpp:106-113): hidden /
    guard / nested / unused columns are excluded from decode unless the
    matching SHOW_* flag is set. Applied at the catalog, so invisible
    columns never enter the decode plan at all.

    ``xmltype_visible`` is the EXPERIMENTAL_XMLTYPE carve-out
    (Schema.cpp:780): with the flag, a HIDDEN column of SysCol type 58
    (XMLTYPE) is treated as visible — the hidden bit is ignored for
    xmltype columns only; guard/nested/unused still apply."""
    mask = 0
    if not show_hidden:
        mask |= COL_PROP_HIDDEN
    if not show_guard:
        mask |= COL_PROP_GUARD
    if not show_nested:
        mask |= COL_PROP_NESTED
    if not show_unused:
        mask |= COL_PROP_UNUSED
    mask_col = F.lit(mask)
    if xmltype_visible and "type" in dict_col.columns:
        mask_col = F.when(
            F.col("type") == 58, F.lit(mask & ~COL_PROP_HIDDEN)
        ).otherwise(F.lit(mask))
    return dict_col.filter(
        F.coalesce(F.col("property"), F.lit(0)).bitwiseAND(mask_col) == 0
    )


def asof_resolve(
    events: DataFrame,
    dict_versions: DataFrame,
    event_scn: str = "scn",
    keys: tuple[str, ...] = ("obj",),
) -> DataFrame:
    """Resolve each event against the dictionary version in effect at its
    SCN (greatest scn_from ≤ event scn; dropped versions resolve to null).

    Union-window as-of: tag dict rows side=0, events side=1, one shuffle
    on the key, carry the last dict row forward over the SCN-ordered
    frame. O(n log n) within partitions, no range join, no explosion."""
    dcols = [c for c in dict_versions.columns if c not in (*keys, "scn_from")]
    d = dict_versions.select(
        *keys,
        F.col("scn_from").alias("_scn"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in dcols]).alias("_dict"),
    )
    e = events.select(
        "*",
        F.col(event_scn).alias("_scn"),
        F.lit(1).alias("_side"),
    )
    ecols = events.columns
    unioned = e.select(
        *keys,
        "_scn",
        "_side",
        F.struct(*[F.col(c) for c in ecols]).alias("_event"),
        F.lit(None).cast(d.schema["_dict"].dataType).alias("_dict"),
    ).unionByName(
        d.select(
            *keys,
            "_scn",
            "_side",
            F.lit(None).cast(e.select(F.struct(*ecols)).schema[0].dataType).alias(
                "_event"
            ),
            "_dict",
        )
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("_scn", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    resolved = (
        unioned.withColumn("_cur", F.last("_dict", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    out_cols = [F.col(f"_event.{c}").alias(c) for c in ecols]
    out_cols += [F.col(f"_cur.{c}").alias(c) for c in dcols]
    return resolved.select(*out_cols)


def latest_columns(dict_cols: DataFrame) -> DataFrame:
    """Collapse a VERSIONED column dictionary (DICT_COL_SCHEMA rows) to
    the single latest version per (obj, col) — what the message
    builders need: they stamp the CURRENT schema descriptors, not
    per-event as-of versions (that path is :func:`asof_resolve`).
    Feeding all versions to the builders' collect_list produced
    duplicate column names: map_from_entries then throws
    DUPLICATED_MAP_KEY on the first appended schema change (r12 review
    pass). No-op for unversioned frames (no scn_from column)."""
    if "scn_from" not in dict_cols.columns:
        return dict_cols
    w = Window.partitionBy("obj", "col").orderBy(F.col("scn_from").desc())
    return (
        dict_cols.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_dictionary_txns(
    dict_versions: DataFrame, system_events: DataFrame
) -> DataFrame:
    """T9 incremental dictionary maintenance: committed system-transaction
    events append new versions; drops append a tombstone version. The
    result stays a versioned table — history is retained for as-of reads
    (the reference's schema snapshots per checkpoint SCN).

    system_events columns: obj, scn (commit SCN), op (c|u|d), owner,
    name, type."""
    new_versions = system_events.select(
        "obj",
        F.col("scn").alias("scn_from"),
        "owner",
        "name",
        "type",
        (F.col("op") == "d").alias("dropped"),
    )
    return dict_versions.unionByName(new_versions, allowMissingColumns=True)


def prune_superseded(
    dict_versions: DataFrame, checkpoint_scn: int
) -> DataFrame:
    """O4 checkpoint GC: keep every version newer than the checkpoint plus
    the single latest version at-or-before it (needed to resolve events
    from the checkpoint forward)."""
    w = Window.partitionBy("obj").orderBy(F.col("scn_from").desc())
    old = (
        dict_versions.filter(F.col("scn_from") <= checkpoint_scn)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return dict_versions.filter(F.col("scn_from") > checkpoint_scn).unionByName(old)


def diff_schemas(
    old_cols: DataFrame, new_cols: DataFrame
) -> DataFrame:
    """W7/consistency surface: diff two dictionary column snapshots —
    the relational form of ``Schema::compareTo`` (Schema.cpp:113-143),
    which the reference runs as its online ``verifySchema`` consistency
    check (ReplicatorOnline.cpp:470-494). One full-outer join on
    (obj, intcol); attribute changes compare the descriptor struct.

    Returns change rows: (obj, intcol, change ∈ {column_added,
    column_dropped, column_changed}, old_name, new_name). Table-level
    adds/drops surface as their columns' rows; a snapshot is typically
    catalog-scale, so the join broadcasts."""
    attrs = ["name", "type", "length", "precision", "scale", "nullable",
             "numpk"]

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            "obj",
            "intcol",
            F.struct(*[F.col(a) for a in attrs]).alias(f"_{tag}"),
        )

    o = side(old_cols, "old")
    n = side(new_cols, "new")
    joined = o.join(n, ["obj", "intcol"], "full_outer")
    change = (
        F.when(F.col("_old").isNull(), "column_added")
        .when(F.col("_new").isNull(), "column_dropped")
        .when(F.col("_old") != F.col("_new"), "column_changed")
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            "obj",
            "intcol",
            "change",
            F.col("_old.name").alias("old_name"),
            F.col("_new.name").alias("new_name"),
        )
    )


def resolve_partitions(
    events: DataFrame, part_map: DataFrame, obj_col: str = "obj"
) -> DataFrame:
    """Partition → base-table routing: DML lands on a partition's object
    id, but the dictionary entry (columns, PK, selection) belongs to the
    base table — the reference keeps SYS.TABPART$/TABSUBPART$ maps
    (SysTabPart.h:27-38 obj→bo; attached to the owning table in
    Schema::buildMaps, Schema.cpp:600-640) and resolves each redo obj
    through them before the table lookup.

    ``part_map`` columns: pobj (partition object id), bobj (base table
    object id), part_pos (partition position). Catalog-scale →
    broadcast; non-partition objects pass through unchanged with
    part_pos NULL. One map-side join, no shuffle of the event stream."""
    pm = part_map.select(
        F.col("pobj").alias(obj_col), "bobj", "part_pos"
    )
    return (
        events.join(F.broadcast(pm), obj_col, "left")
        .withColumn(obj_col, F.coalesce(F.col("bobj"), F.col(obj_col)))
        .drop("bobj")
    )
