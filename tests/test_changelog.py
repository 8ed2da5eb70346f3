"""Row-level changelog scan (Iceberg ``create_changelog_view`` parity).

The contract under test: for ANY commit sequence — appends, MoR
delete-vector commits, CoW merges, rollbacks, with row-preserving
maintenance interleaved — applying the changelog's insert/delete rows to
the range-start scan reproduces the range-end scan as a multiset, and
each change row carries the snapshot id + ordinal of the commit that
produced it. Maintenance REPLACE snapshots contribute nothing.
"""

import pytest
from pyspark.sql import functions as F

from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, SortOrder, TableSpec
from ocel_ocpn_lakehouse_spark.core import table as table_mod
from ocel_ocpn_lakehouse_spark.core.table import IncrementalScanError
from ocel_ocpn_lakehouse_spark.images.synth import (
    IMAGE_SCHEMA,
    synth_images_df,
    synth_merge_source_df,
)
from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction
from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_where
from ocel_ocpn_lakehouse_spark.maintenance.merge import merge_into

PROPS = {
    "write.target-file-size-bytes": str(16 * 1024 * 1024),
    "compact.small-file-bytes": str(8 * 1024 * 1024),
    "snapshot.retention-days": "0",
}

CDC_COLS = ["_change_type", "_change_ordinal", "_commit_snapshot_id"]


def _table(spark, warehouse, n_rows=120, n_files=6):
    cat = Catalog(warehouse)
    t = cat.create_table(
        "ocel.images",
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", 2),
            sort_order=SortOrder.by("phash"),
            properties=PROPS,
        ),
    )
    t.append(
        synth_images_df(spark, n_rows=n_rows, seed=11),
        num_files=n_files,
        distribution="fragment",
    )
    return cat, t


def _ids(df):
    return {r["image_id"] for r in df.select("image_id").collect()}


def _apply(base, changes):
    """Multiset CDC apply: base + inserts − deletes."""
    cols = base.columns
    ins = changes.filter(F.col("_change_type") == "insert").select(*cols)
    dels = changes.filter(F.col("_change_type") == "delete").select(*cols)
    return base.unionByName(ins).exceptAll(dels)


def _assert_apply_parity(spark, t, s_from, s_to=None):
    base = t.scan(spark, snapshot_id=s_from)
    target = t.scan(spark, snapshot_id=s_to)
    applied = _apply(base, t.changelog_scan(spark, s_from, s_to))
    assert applied.exceptAll(target).count() == 0
    assert target.exceptAll(applied).count() == 0


def test_append_only_changelog_matches_incremental(spark, warehouse):
    _, t = _table(spark, warehouse)
    s1 = t.current_snapshot().snapshot_id
    b2 = synth_images_df(spark, n_rows=40, seed=22).withColumn(
        "image_id", F.concat(F.lit("b2_"), "image_id")
    )
    t.append(b2, num_files=2)
    s2 = t.current_snapshot().snapshot_id

    ch = t.changelog_scan(spark, s1)
    assert set(ch.columns) == set(t.schema.fieldNames()) | set(CDC_COLS)
    rows = ch.select("_change_type", "_commit_snapshot_id", "_change_ordinal").distinct().collect()
    assert {(r[0], r[1], r[2]) for r in rows} == {("insert", s2, 0)}
    assert _ids(ch) == _ids(t.incremental_scan(spark, s1))
    _assert_apply_parity(spark, t, s1)


def test_mor_delete_emits_exact_tombstoned_rows(spark, warehouse):
    _, t = _table(spark, warehouse)
    s1 = t.current_snapshot().snapshot_id
    doomed = _ids(t.scan(spark).filter("w = 32"))
    assert doomed
    delete_where(spark, t, "w = 32")
    s2 = t.current_snapshot().snapshot_id

    ch = t.changelog_scan(spark, s1)
    assert ch.select("_change_type").distinct().collect()[0][0] == "delete"
    assert _ids(ch) == doomed
    assert ch.select("_commit_snapshot_id").distinct().collect()[0][0] == s2
    _assert_apply_parity(spark, t, s1)
    # incremental_scan refuses this range; changelog is the upgrade path
    with pytest.raises(IncrementalScanError):
        t.incremental_scan(spark, s1)


def test_replace_snapshots_are_silent_and_mixed_range_applies(spark, warehouse):
    cat, t = _table(spark, warehouse)
    s1 = t.current_snapshot().snapshot_id

    # append → MoR delete → compaction (replace) → CoW merge upsert
    t.append(
        synth_images_df(spark, n_rows=30, seed=33).withColumn(
            "image_id", F.concat(F.lit("b2_"), "image_id")
        ),
        num_files=2,
    )
    delete_where(spark, t, "h = 64")
    execute_compaction(spark, t, SystemTables(cat.warehouse), "ocel.images")
    t = t.refresh()
    assert t.current_snapshot().operation == "replace"
    src = synth_merge_source_df(spark, 120, seed=44)
    merge_into(spark, t, src, sys_tables=SystemTables(cat.warehouse), table_name="ocel.images")
    t = t.refresh()

    ch = t.changelog_scan(spark, s1)
    ops = {
        r[0]
        for r in ch.select("_commit_snapshot_id").distinct().collect()
    }
    replace_ids = {s.snapshot_id for s in t.snapshots() if s.operation == "replace"}
    assert not ops & replace_ids  # maintenance never appears in the feed
    # ordinals are dense over emitting commits, in commit order
    ords = sorted(
        r[0] for r in ch.select("_change_ordinal").distinct().collect()
    )
    assert ords == list(range(len(ords)))
    _assert_apply_parity(spark, t, s1)


def test_rollback_past_delete_resurrects_as_insert(spark, warehouse):
    _, t = _table(spark, warehouse)
    s1 = t.current_snapshot().snapshot_id
    doomed = _ids(t.scan(spark).filter("fmt = 'png'"))
    assert doomed
    delete_where(spark, t, "fmt = 'png'")
    s2 = t.current_snapshot().snapshot_id
    t.rollback_to(s1)

    ch = t.changelog_scan(spark, s2)
    assert ch.select("_change_type").distinct().collect()[0][0] == "insert"
    assert _ids(ch) == doomed
    _assert_apply_parity(spark, t, s2)
    # and the full range delete→rollback nets to zero
    _assert_apply_parity(spark, t, s1)


def test_changelog_distributed_diff_parity(spark, warehouse, monkeypatch):
    """Force the distributed entry-diff route (threshold=1) through a
    mixed append → MoR delete → CoW merge history and assert the same
    apply-parity contract the driver route carries. A DV/overwrite commit
    rewrites every manifest, so at warehouse scale the diff must not
    materialize O(table) entries on the driver — this pins the Spark-job
    route's correctness."""
    monkeypatch.setattr(table_mod, "DISTRIBUTED_PLANNING_ENTRIES", 1)
    cat = Catalog(warehouse)
    t = cat.create_table(
        "ocel.images",
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", 2),
            sort_order=SortOrder.by("phash"),
            properties=PROPS,
        ),
    )
    t.append(
        synth_images_df(spark, n_rows=120, seed=11), num_files=6, distribution="fragment"
    )
    s1 = t.current_snapshot().snapshot_id
    doomed = _ids(t.scan(spark).filter("w = 32"))
    t.append(
        synth_images_df(spark, n_rows=30, seed=2).withColumn(
            "image_id", F.concat(F.lit("d2_"), "image_id")
        ),
        num_files=2,
    )
    delete_where(spark, t.refresh(), "w = 32")
    src = synth_merge_source_df(spark, 120, seed=9)
    merge_into(spark, t.refresh(), src, sys_tables=SystemTables(cat.warehouse), table_name="ocel.images")
    t = t.refresh()

    ch = t.changelog_scan(spark, s1)
    dels = _ids(ch.filter("_change_type = 'delete'"))
    assert doomed <= dels  # the DV-delta rows surfaced through the join route
    _assert_apply_parity(spark, t, s1)


def test_changelog_empty_and_bad_range(spark, warehouse):
    _, t = _table(spark, warehouse)
    s1 = t.current_snapshot().snapshot_id
    ch = t.changelog_scan(spark, s1)  # from == head → empty
    assert ch.count() == 0
    assert set(CDC_COLS) <= set(ch.columns)
    with pytest.raises(IncrementalScanError):
        t.changelog_scan(spark, 999_999_999)


def _fmt_stats_build(s, base):
    return base.groupBy("fmt").agg(
        F.count("*").alias("n"), F.sum("w").alias("sum_w")
    )


def _mv_rows(spark, cat, name="ocel.fmt_stats"):
    return sorted(map(tuple, cat.load_table(name).scan(spark).collect()))


def test_cdc_mv_refresh_survives_deletes_merges_rollbacks(spark, warehouse):
    from ocel_ocpn_lakehouse_spark.mviews import (
        MaterializedViewManager,
        MVDefinition,
        algebraic_cdc_merge,
    )

    cat, t = _table(spark, warehouse)
    mgr = MaterializedViewManager(cat)
    mgr.register(
        MVDefinition(
            name="ocel.fmt_stats",
            base="ocel.images",
            build=_fmt_stats_build,
            cdc_merge=algebraic_cdc_merge(["fmt"], ["n"], {"sum_w": "w"}),
        )
    )
    assert mgr.refresh(spark, "ocel.fmt_stats")["status"] == "refreshed"

    def assert_mv_exact():
        expected = sorted(
            map(tuple, _fmt_stats_build(spark, t.refresh().scan(spark)).collect())
        )
        assert _mv_rows(spark, cat) == expected

    # append-only range: cdc path alone handles it (no incr_merge set)
    t.append(
        synth_images_df(spark, n_rows=30, seed=9).withColumn(
            "image_id", F.concat(F.lit("b2_"), "image_id")
        ),
        num_files=2,
    )
    assert mgr.refresh(spark, "ocel.fmt_stats")["status"] == "refreshed-cdc"
    assert_mv_exact()

    # MoR delete — the range incremental_scan refuses — refreshes at delta cost
    delete_where(spark, t.refresh(), "w = 32")
    assert mgr.refresh(spark, "ocel.fmt_stats")["status"] == "refreshed-cdc"
    assert_mv_exact()

    # CoW merge upsert
    src = synth_merge_source_df(spark, 120, seed=3)
    merge_into(spark, t.refresh(), src, sys_tables=SystemTables(cat.warehouse), table_name="ocel.images")
    assert mgr.refresh(spark, "ocel.fmt_stats")["status"] == "refreshed-cdc"
    assert_mv_exact()

    # rollback past the merge
    t = t.refresh()
    s_back = t.snapshots()[-3].snapshot_id
    t.rollback_to(s_back)
    assert mgr.refresh(spark, "ocel.fmt_stats")["status"] == "refreshed-cdc"
    assert_mv_exact()

    # dead group: wipe one fmt entirely — the MV row must disappear
    victim = t.refresh().scan(spark).select("fmt").first()[0]
    delete_where(spark, t, f"fmt = '{victim}'")
    assert mgr.refresh(spark, "ocel.fmt_stats")["status"] == "refreshed-cdc"
    assert_mv_exact()
    assert victim not in {r[0] for r in _mv_rows(spark, cat)}


def test_cdc_mv_incr_merge_priority_and_maintenance_staleness(spark, warehouse):
    from ocel_ocpn_lakehouse_spark.mviews import (
        MaterializedViewManager,
        MVDefinition,
        algebraic_cdc_merge,
    )

    cat, t = _table(spark, warehouse)

    def incr_merge(s, mv_rows, delta):
        return (
            mv_rows.unionByName(_fmt_stats_build(s, delta))
            .groupBy("fmt")
            .agg(F.sum("n").alias("n"), F.sum("sum_w").alias("sum_w"))
        )

    mgr = MaterializedViewManager(cat)
    mgr.register(
        MVDefinition(
            name="ocel.fmt_stats",
            base="ocel.images",
            build=_fmt_stats_build,
            incr_merge=incr_merge,
            cdc_merge=algebraic_cdc_merge(["fmt"], ["n"], {"sum_w": "w"}),
        )
    )
    mgr.refresh(spark, "ocel.fmt_stats")

    # append-only → the cheaper incr path wins
    t.append(synth_images_df(spark, n_rows=20, seed=4), num_files=1)
    assert mgr.refresh(spark, "ocel.fmt_stats")["status"] == "refreshed-incremental"

    # MoR delete → falls through to cdc, never full rebuild
    delete_where(spark, t.refresh(), "h = 64")
    assert mgr.refresh(spark, "ocel.fmt_stats")["status"] == "refreshed-cdc"

    # maintenance-only staleness (replace): the range is append-only-legal
    # (empty delta), so the cheaper incr path wins and rows are unchanged
    execute_compaction(spark, t.refresh(), SystemTables(cat.warehouse), "ocel.images")
    before = _mv_rows(spark, cat)
    r = mgr.refresh(spark, "ocel.fmt_stats")
    assert r["status"] == "refreshed-incremental"
    assert _mv_rows(spark, cat) == before


def test_changelog_projection(spark, warehouse):
    _, t = _table(spark, warehouse)
    s1 = t.current_snapshot().snapshot_id
    t.append(synth_images_df(spark, n_rows=10, seed=5), num_files=1)
    ch = t.changelog_scan(spark, s1, columns=["image_id", "w"])
    assert ch.columns == ["image_id", "w"] + CDC_COLS
    assert ch.count() == 10
