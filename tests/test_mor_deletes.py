"""Merge-on-read positional deletes (Iceberg v2 delete vectors): T16.

Covers the full DV life cycle: delete_where plans/writes/commits a DV
without touching data files; scans anti-join tombstones; repeated deletes
are idempotent and accumulate; compaction, clustering and MERGE absorb
DVs (rewritten files come out clean and tombstoned rows never
resurrect); snapshot expiry sweeps orphaned DV files; the distributed
cluster planner absorbs DVs like the driver planner.
"""

import os

from pyspark.sql import functions as F

from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, SortOrder, TableSpec
from ocel_ocpn_lakehouse_spark.core import table as table_mod
from ocel_ocpn_lakehouse_spark.images.synth import IMAGE_SCHEMA, synth_images_df
from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
from ocel_ocpn_lakehouse_spark.maintenance.cluster import execute_cluster
from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction, plan_compaction
from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_where
from ocel_ocpn_lakehouse_spark.maintenance.expire import expire_snapshots
from ocel_ocpn_lakehouse_spark.maintenance.merge import merge_into

PROPS = {
    "write.target-file-size-bytes": str(512 * 1024),
    "compact.small-file-bytes": str(256 * 1024),
    "snapshot.retention-days": "0",
}


def _table(spark, warehouse, n_rows=300, n_files=12):
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


def checksum(df):
    aggs = [F.count("*").alias("_n")]
    for c in df.columns:
        h = F.xxhash64(F.col(c).cast("string") if c != "bytes" else F.md5("bytes"))
        aggs.append(F.sum(h.cast("decimal(38,0)")).alias(c))
    return df.agg(*aggs).first().asDict()


def test_delete_where_scan_idempotence_accumulation(spark, warehouse):
    _, t = _table(spark, warehouse)
    before = t.scan(spark)
    s_pre = t.current_snapshot().snapshot_id
    expected = _ids(before.filter(~(F.col("w") == 32)))

    r = delete_where(spark, t, "w = 32")
    assert r["status"] == "deleted" and r["deleted_rows"] > 0
    t = t.refresh()
    assert t.current_snapshot().operation == "delete"
    assert _ids(t.scan(spark)) == expected
    # data files untouched: only a DV landed
    assert os.path.isfile(os.path.join(t.root, r["dv_path"]))

    # idempotent: same predicate again matches nothing new
    assert delete_where(spark, t, "w = 32")["status"] == "no-matches"

    # accumulate a second DV; live counts stay exact
    r2 = delete_where(spark, t, "h = 64")
    t = t.refresh()
    expected2 = _ids(before.filter(~((F.col("w") == 32) | (F.col("h") == 64))))
    assert _ids(t.scan(spark)) == expected2
    assert sum(e.live_count for e in t.live_entries()) == len(expected2)
    assert r2["deleted_rows"] == len(expected) - len(expected2)

    # time travel reads the pre-delete row set
    assert t.scan(spark, snapshot_id=s_pre).count() == 300

    # health surfaces the tombstone debt and recommends the absorb
    from ocel_ocpn_lakehouse_spark.maintenance.health import analyze_table_health

    h = analyze_table_health(spark, t, "ocel.images")
    assert h.tombstoned_files > 0
    assert h.dead_rows == 300 - len(expected2)
    assert any("tombstoned" in r for r in h.recommendations)


def test_compaction_absorbs_delete_vectors(spark, warehouse):
    cat, t = _table(spark, warehouse)
    delete_where(spark, t, "w = 32")
    t = t.refresh()
    want = checksum(t.scan(spark))  # MoR scan is the truth to preserve

    execute_compaction(spark, t, SystemTables(cat.warehouse), "ocel.images")
    t = t.refresh()
    assert t.current_snapshot().operation == "replace"
    live = t.live_entries()
    assert all(not e.deletes for e in live), "rewrite must absorb DVs"
    assert checksum(t.scan(spark)) == want
    # physical rows now equal live rows (tombstones gone, not just hidden)
    assert sum(e.record_count for e in live) == want["_n"]


def test_cluster_absorbs_delete_vectors(spark, warehouse):
    cat, t = _table(spark, warehouse)
    delete_where(spark, t, "fmt = 'jpeg'")
    t = t.refresh()
    want = checksum(t.scan(spark))

    r = execute_cluster(spark, t, SystemTables(cat.warehouse), "ocel.images", curve="zorder")
    assert r["status"] == "committed"
    t = t.refresh()
    live = t.live_entries()
    assert all(not e.deletes for e in live)
    assert checksum(t.scan(spark)) == want
    assert sum(e.record_count for e in live) == want["_n"]


def test_cluster_distributed_planning_absorbs_dvs(spark, warehouse, monkeypatch):
    """The distributed cluster planner builds each file's DV reference with
    SQL JSON expressions over entries_df (no driver manifests); forced
    distributed planning on a tombstoned table must produce the same rows
    and a clean layout, like the driver planner."""
    cat, t = _table(spark, warehouse)
    delete_where(spark, t, "w = 32")
    t = t.refresh()
    want = checksum(t.scan(spark))

    monkeypatch.setattr(table_mod, "DISTRIBUTED_PLANNING_ENTRIES", 0)
    r = execute_cluster(spark, t, SystemTables(cat.warehouse), "ocel.images", curve="zorder")
    assert r["status"] == "committed" and r["planning"] == "distributed"
    t = t.refresh()
    assert all(not e.deletes for e in t.live_entries())
    assert checksum(t.scan(spark)) == want
    assert sum(e.record_count for e in t.live_entries()) == want["_n"]


def test_merge_on_tombstoned_table_never_resurrects(spark, warehouse):
    cat, t = _table(spark, warehouse)
    # tombstone a slice that overlaps files the merge will touch
    dead = sorted(_ids(t.scan(spark).filter("w = 32")))
    delete_where(spark, t, "w = 32")
    t = t.refresh()
    pre = t.scan(spark).cache()
    pre.count()

    # source: upsert 10 live rows (new caption), delete 5 live rows, and
    # try to upsert 2 TOMBSTONED ids — MERGE treats them as inserts of new
    # rows (their old rows are dead), never as resurrection of old bytes
    live_ids = sorted(_ids(pre))
    upd = live_ids[:10]
    del_ = live_ids[10:15]
    re_add = dead[:2]
    src = (
        pre.filter(F.col("image_id").isin(upd))
        .withColumn("caption", F.lit("updated"))
        .withColumn("_op", F.lit("upsert"))
    )
    del_src = pre.filter(F.col("image_id").isin(del_)).withColumn("_op", F.lit("delete"))
    # re-add rows built from scratch (new bytes/caption under a dead id);
    # synth ids for n_rows=2 are img_...0000 / ...0001 — remap deterministically
    readd_rows = (
        synth_images_df(spark, n_rows=2, seed=99)
        .withColumn(
            "image_id",
            F.when(F.col("image_id") == "img_000000000000", re_add[0]).otherwise(re_add[1]),
        )
        .withColumn("_op", F.lit("upsert"))
    )
    source = src.unionByName(del_src).unionByName(readd_rows)

    r = merge_into(spark, t, source, sys_tables=SystemTables(cat.warehouse), table_name="ocel.images")
    assert r["status"] == "committed"
    t = t.refresh()
    got = t.scan(spark)

    src_keys = set(upd) | set(del_) | set(re_add)
    expected_ids = (set(live_ids) - src_keys) | set(upd) | set(re_add)
    assert _ids(got) == expected_ids
    # tombstoned-but-not-readded ids stay dead
    assert not (set(dead) - set(re_add)) & _ids(got)
    # updated rows carry the new caption; re-added rows are the NEW rows
    caps = {r["image_id"]: r["caption"] for r in got.filter(F.col("image_id").isin(upd)).collect()}
    assert all(c == "updated" for c in caps.values()) and len(caps) == 10
    pre.unpersist()


def test_mor_merge_matches_cow_and_rewrites_nothing(spark, warehouse):
    """write.merge.mode=merge-on-read: same source merged under CoW and MoR
    strategies must produce identical table contents; the MoR commit must
    leave every pre-merge data file in place (tombstones only), and
    compaction afterwards absorbs them without changing the rows."""
    cat, t_cow = _table(spark, warehouse)
    t_mor = cat.create_table(
        "ocel.images_mor",
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", 2),
            sort_order=SortOrder.by("phash"),
            properties=PROPS,
        ),
    )
    t_mor.append(
        synth_images_df(spark, n_rows=300, seed=11), num_files=12, distribution="fragment"
    )
    # a pre-existing tombstone on the MoR table: the merge must stack on it
    delete_where(spark, t_mor, "w = 16")
    delete_where(spark, t_cow, "w = 16")
    t_mor, t_cow = t_mor.refresh(), t_cow.refresh()
    assert checksum(t_mor.scan(spark)) == checksum(t_cow.scan(spark))

    live = sorted(_ids(t_cow.scan(spark)))
    upd, del_ = live[:12], live[12:18]
    src = (
        t_cow.scan(spark)
        .filter(F.col("image_id").isin(upd))
        .withColumn("caption", F.lit("v2"))
        .withColumn("_op", F.lit("upsert"))
        .unionByName(
            t_cow.scan(spark)
            .filter(F.col("image_id").isin(del_))
            .withColumn("_op", F.lit("delete"))
        )
        .cache()
    )
    src.count()

    st = SystemTables(cat.warehouse)
    pre_files = {e.path for e in t_mor.live_entries()}
    r_cow = merge_into(spark, t_cow, src, sys_tables=st, table_name="ocel.images")
    r_mor = merge_into(
        spark, t_mor, src, sys_tables=st, table_name="ocel.images_mor", strategy="mor"
    )
    assert r_cow["status"] == r_mor["status"] == "committed"
    assert r_mor["strategy"] == "mor" and r_mor["tombstoned_rows"] > 0
    t_cow, t_mor = t_cow.refresh(), t_mor.refresh()
    assert checksum(t_cow.scan(spark)) == checksum(t_mor.scan(spark))
    # zero rewrite: every pre-merge file is still live (now tombstoned),
    # only upsert files were added
    post_files = {e.path for e in t_mor.live_entries()}
    assert pre_files <= post_files
    assert len(post_files - pre_files) == r_mor["files_added"]
    # the merge snapshot is atomic: one commit carries DV refs + new files
    assert t_mor.current_snapshot().operation == "merge"

    execute_compaction(spark, t_mor, st, "ocel.images_mor")
    t_mor = t_mor.refresh()
    assert all(not e.deletes for e in t_mor.live_entries())
    assert checksum(t_mor.scan(spark)) == checksum(t_cow.scan(spark))
    src.unpersist()


def test_partition_evolution_absorbs_dvs(spark, warehouse):
    """evolve_partition_spec rewrites through Table.scan, which applies
    tombstones — the rebucketed table must hold exactly the live rows and
    come out clean."""
    from ocel_ocpn_lakehouse_spark.core import PartitionSpec
    from ocel_ocpn_lakehouse_spark.maintenance.evolve import evolve_partition_spec

    cat, t = _table(spark, warehouse)
    delete_where(spark, t, "w = 32")
    t = t.refresh()
    want = checksum(t.scan(spark))

    res = evolve_partition_spec(
        spark, t, PartitionSpec.bucket("image_id", 4), SystemTables(cat.warehouse), "ocel.images"
    )
    assert res["status"] == "rewritten"
    t = t.refresh()
    assert all(not e.deletes for e in t.live_entries())
    assert checksum(t.scan(spark)) == want
    assert {e.partition.get("_p_image_id_bucket") for e in t.live_entries()} <= {0, 1, 2, 3}


def test_delete_where_with_manifest_pruning(spark, warehouse):
    """The prune parameter bounds the candidate scan at the manifest level:
    only files matching the PrunePredicates are read for tombstone
    planning, so a partition-scoped delete touches one bucket's files."""
    from ocel_ocpn_lakehouse_spark.core.table import PrunePredicate

    _, t = _table(spark, warehouse)
    before = t.scan(spark).cache()
    before.count()
    b = t.bucket_value(spark, "img_000000000001")
    pred = [PrunePredicate("_p_image_id_bucket", "=", b)]
    bucket_files = {e.path for e in t.live_entries() if e.partition.get("_p_image_id_bucket") == b}

    r = delete_where(spark, t, "w = 32", prune=pred)
    assert r["status"] == "deleted"
    assert r["candidate_files"] == len(bucket_files)
    assert set(_dv_files(t.refresh())) <= bucket_files
    t = t.refresh()
    # rows with w=32 in OTHER buckets survive (prune bounds the delete's scope)
    got = _ids(t.scan(spark))
    gone = _ids(before) - got
    assert gone  # something was deleted
    assert gone == _ids(
        spark.read.schema(t.schema)
        .parquet(*[f"{t.root}/{p}" for p in bucket_files])
        .filter("w = 32")
    )
    before.unpersist()


def _dv_files(t):
    return [e.path for e in t.live_entries() if e.deletes]


def test_mor_merge_pure_insert_into_empty_table(spark, warehouse):
    """First CDC batch into a fresh table: a merge-on-read MERGE with only
    upserts and ZERO existing snapshots must commit (no tombstones, just
    the appended files) instead of crashing on the empty-table guard."""
    cat, _ = _table(spark, warehouse)
    t = cat.create_table(
        "ocel.fresh",
        IMAGE_SCHEMA,
        TableSpec(partition_spec=PartitionSpec.bucket("image_id", 2), properties=PROPS),
    )
    src = synth_images_df(spark, n_rows=20, seed=3).withColumn("_op", F.lit("upsert"))
    r = merge_into(spark, t, src, strategy="mor")
    assert r["status"] == "committed" and r["files_added"] > 0
    t = t.refresh()
    assert t.scan(spark).count() == 20
    assert t.current_snapshot().operation == "merge"


def test_merge_rejects_unknown_op_values(spark, warehouse):
    """A CDC feed speaking Debezium vocabulary ('insert'/'update') must
    fail loudly — treating unknown ops as deletes would silently drop
    matched target rows."""
    import pytest as _pytest

    _, t = _table(spark, warehouse)
    src = synth_images_df(spark, n_rows=5, seed=4).withColumn("_op", F.lit("update"))
    with _pytest.raises(ValueError, match="unknown _op"):
        merge_into(spark, t, src)
    assert t.refresh().scan(spark).count() == 300  # untouched


def test_dv_commit_conflicts_with_stale_tombstone_set(spark, warehouse):
    """Two overlapping deletes planned against the same DV state: the
    second commit must CONFLICT (its already-deleted exclusion ran against
    the old tombstones — committing would double-count rows both matched
    and corrupt per-file live counts)."""
    import pytest as _pytest

    from ocel_ocpn_lakehouse_spark.core import metadata as meta

    _, t = _table(spark, warehouse)
    # plan state observed BEFORE any tombstones
    planned = {e.path: len(e.deletes) for e in t.live_entries()}
    victim = next(iter(planned))
    # a concurrent delete lands first
    delete_where(spark, t, "w = 32")
    t = t.refresh()
    tombstoned = {e.path for e in t.live_entries() if e.deletes}
    target = victim if victim in tombstoned else next(iter(tombstoned))
    with _pytest.raises(meta.ConflictError, match="gained tombstones"):
        t.commit_delete_vectors(
            "data/_deletes/dv-stale2.parquet",
            {target: 1},
            expected_dv_counts=planned,
        )


def test_dv_commit_conflicts_with_concurrent_rewrite(spark, warehouse):
    """A delete planned against files that a concurrent maintenance pass
    rewrote must FAIL: its positions index rows of files that no longer
    exist, and committing would tombstone the wrong rows (the same
    validation direction as Iceberg's position-delete conflict checks)."""
    import pytest as _pytest

    from ocel_ocpn_lakehouse_spark.core import metadata as meta

    cat, t = _table(spark, warehouse)
    victim = next(iter(t.live_entries())).path
    stale_counts = {victim: 3}
    # concurrent compaction rewrites every file before the delete commits
    execute_compaction(spark, t, SystemTables(cat.warehouse), "ocel.images")
    t = t.refresh()
    with _pytest.raises(meta.ConflictError):
        t.commit_delete_vectors("data/_deletes/dv-stale.parquet", stale_counts)
    # table unharmed
    assert t.refresh().scan(spark).count() == 300


def test_apply_delete_vectors_property():
    """Arrow-side mask == set difference for arbitrary position sets,
    including duplicates across stacked DVs (idempotent)."""
    import os
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocel_ocpn_lakehouse_spark.core import manifests as mf

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=200),
        data=st.data(),
    )
    def check(n, data):
        pos_a = data.draw(st.lists(st.integers(0, n - 1), max_size=n))
        pos_b = data.draw(st.lists(st.integers(0, n - 1), max_size=n))
        tbl = pa.table({"v": np.arange(n, dtype=np.int64)})
        with tempfile.TemporaryDirectory() as d:
            dva = os.path.join(d, "a.parquet")
            dvb = os.path.join(d, "b.parquet")
            pq.write_table(
                pa.table({"path": ["f.parquet"] * len(pos_a), "pos": pa.array(pos_a, pa.int64())}), dva
            )
            pq.write_table(
                pa.table(
                    {
                        # second DV also carries another file's positions —
                        # they must be ignored for f.parquet
                        "path": ["f.parquet"] * len(pos_b) + ["other.parquet"],
                        "pos": pa.array(pos_b + [0], pa.int64()),
                    }
                ),
                dvb,
            )
            out = mf.apply_delete_vectors(tbl, "f.parquet", [dva, dvb])
        expect = sorted(set(range(n)) - set(pos_a) - set(pos_b))
        assert out["v"].to_pylist() == expect

    check()


def test_expire_sweeps_orphan_dv_files(spark, warehouse):
    import time

    cat, t = _table(spark, warehouse)
    r = delete_where(spark, t, "w = 32")
    t = t.refresh()
    dv_abs = os.path.join(t.root, r["dv_path"])
    assert os.path.isfile(dv_abs)

    # absorb the DV, then expire everything but the head: the DV file is
    # now referenced only by expired snapshots → swept with the dead data
    execute_compaction(spark, t, SystemTables(cat.warehouse), "ocel.images")
    t = t.refresh()
    future = int(time.time() * 1000) + 10**9
    res = expire_snapshots(spark, t, older_than_ms=future, keep_last=1)
    assert res["status"] == "expired"
    assert not os.path.isfile(dv_abs)
    # head still scans clean
    assert t.refresh().scan(spark).count() == sum(e.live_count for e in t.refresh().live_entries())


def test_replace_commit_conflicts_with_concurrent_dv(spark, warehouse):
    """The reverse interleaving of the rewrite/DV races above: a CoW
    rewrite PLANS (captures each input's tombstone set), a concurrent
    delete_where then grows one input's DV list, and the rewrite's
    commit_replace must CONFLICT — the path is still live, so liveness
    alone would pass, and the new tombstones would vanish with the
    replaced entry, resurrecting the concurrently-deleted rows through
    the rewritten output."""
    import pytest as _pytest

    from ocel_ocpn_lakehouse_spark.core import metadata as meta

    cat, t = _table(spark, warehouse)
    groups = plan_compaction(t, include_all=True)
    assert groups
    # a concurrent MoR delete lands between planning and commit
    r = delete_where(spark, t, "w = 32")
    assert r["tombstoned_files"] > 0
    n_live_after_delete = sum(e.live_count for e in t.refresh().live_entries())
    with _pytest.raises(meta.ConflictError, match="delete vectors since planning"):
        execute_compaction(
            spark, t, SystemTables(cat.warehouse), "ocel.images", groups=groups
        )
    # the delete survived; nothing resurrected
    t = t.refresh()
    assert t.scan(spark).count() == n_live_after_delete
    # replanning against the new DV state succeeds and absorbs the DVs
    t2 = t.refresh()
    res = execute_compaction(spark, t2, SystemTables(cat.warehouse), "ocel.images")
    assert res["status"] == "committed"
    t2 = t2.refresh()
    assert t2.scan(spark).count() == n_live_after_delete
    assert all(not e.deletes for e in t2.live_entries())


def test_dv_broadcast_threshold_is_size_based(spark, warehouse, monkeypatch):
    """MoR scans broadcast the DV side only under the byte threshold: a DV
    set 'wider' than DV_BROADCAST_MAX_BYTES must route to a shuffle join
    (a row-count cutoff would happily broadcast hundreds of MB of long
    paths to every executor)."""
    from ocel_ocpn_lakehouse_spark.core import table as table_mod

    _, t = _table(spark, warehouse)
    delete_where(spark, t, "w = 32")
    t = t.refresh()

    def _plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # disable Spark's own size-estimate broadcast so the plan reflects the
    # engine's explicit hint (at real scale a GB DV side never auto-routes)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # under the threshold: DV side is broadcast via the engine hint
        assert "BroadcastHashJoin" in _plan(t.scan(spark))
        # shrink the threshold below the real DV file size: shuffle join
        monkeypatch.setattr(table_mod, "DV_BROADCAST_MAX_BYTES", 1)
        no_bcast = t.scan(spark)
        assert "BroadcastHashJoin" not in _plan(no_bcast)
        # identical results either way
        assert no_bcast.count() == sum(e.live_count for e in t.live_entries())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_conflict_retry_replans_and_commits(spark, warehouse):
    """run_with_conflict_retry: an attempt that loses the DV race (stale
    plan → ConflictError at commit) is retried against the refreshed table,
    replans with the new tombstone state, absorbs it, and commits — the
    Iceberg commit-retry discipline on top of the fail-fast commit layer."""
    import pytest as _pytest

    from ocel_ocpn_lakehouse_spark.core import metadata as meta
    from ocel_ocpn_lakehouse_spark.maintenance.retry import run_with_conflict_retry

    cat, t = _table(spark, warehouse)
    stale = plan_compaction(t, include_all=True)
    delete_where(spark, t, "w = 32")  # race: lands after planning
    live = sum(e.live_count for e in t.refresh().live_entries())
    st = SystemTables(cat.warehouse)

    calls = []

    def attempt():
        # first attempt carries the stale plan (as a long-running job
        # would); the retry plans fresh
        g = stale if not calls else None
        calls.append(1)
        return execute_compaction(
            spark, t.refresh(), st, "ocel.images", groups=g
        )

    res = run_with_conflict_retry(attempt, t, retries=2)
    assert res["status"] == "committed" and len(calls) == 2
    t = t.refresh()
    assert t.scan(spark).count() == live
    assert all(not e.deletes for e in t.live_entries())

    # exhausted retries surface the ConflictError
    def always_stale():
        raise meta.ConflictError("permanent feud")

    with _pytest.raises(meta.ConflictError, match="permanent feud"):
        run_with_conflict_retry(always_stale, t, retries=1)
