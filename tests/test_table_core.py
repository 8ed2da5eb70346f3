import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, SortOrder, TableSpec
from ocel_ocpn_lakehouse_spark.core.table import PrunePredicate


SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("v", T.LongType(), False),
    ]
)


def make_df(spark, n=100, start=0):
    return spark.range(start, start + n).select(
        F.format_string("id_%06d", F.col("id")).alias("id"), F.col("id").alias("v")
    )


def test_create_append_scan(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table(
        "ns.t1", SCHEMA, TableSpec(partition_spec=PartitionSpec.bucket("id", 4))
    )
    t.append(make_df(spark, 100), num_files=4)
    df = t.scan(spark)
    assert df.count() == 100
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in SCHEMA.fields
    ]
    assert df.agg(F.sum("v")).first()[0] == sum(range(100))
    # files live under bucket partition dirs
    entries = t.live_entries()
    assert all("id_bucket" in str(e.partition) for e in entries)
    assert sum(e.record_count for e in entries) == 100


def test_append_accumulates_snapshots(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table("ns.t2", SCHEMA)
    t.append(make_df(spark, 50), num_files=2)
    t.append(make_df(spark, 50, start=50), num_files=2)
    assert t.scan(spark).count() == 100
    snaps = t.snapshots()
    assert len(snaps) == 2
    assert snaps[0].operation == "append"
    # time travel to first snapshot
    old = t.scan(spark, snapshot_id=snaps[0].snapshot_id)
    assert old.count() == 50
    assert old.agg(F.max("v")).first()[0] == 49


def test_overwrite_keeps_time_travel(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table("ns.t3", SCHEMA)
    t.append(make_df(spark, 30), num_files=1)
    first = t.current_snapshot().snapshot_id
    t.overwrite(make_df(spark, 10, start=1000), num_files=1)
    assert t.scan(spark).count() == 10
    assert t.scan(spark, snapshot_id=first).count() == 30


def test_min_max_pruning(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table("ns.t4", SCHEMA)
    # two appends with disjoint v ranges → separate files with disjoint bounds
    t.append(make_df(spark, 100), num_files=1)
    t.append(make_df(spark, 100, start=10_000), num_files=1)
    all_entries = t.live_entries()
    assert len(all_entries) == 2
    pruned = [
        e
        for e in all_entries
        if t._entry_matches(e, [PrunePredicate("v", ">=", 10_000)])
    ]
    assert len(pruned) == 1
    df = t.scan(spark, prune=[PrunePredicate("v", ">=", 10_000)])
    assert df.count() == 100


def test_schema_evolution_null_fill(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table("ns.t5", SCHEMA)
    t.append(make_df(spark, 10), num_files=1)
    t.add_column("extra", T.StringType())
    df = t.scan(spark)
    assert "extra" in df.columns
    assert df.filter(F.col("extra").isNull()).count() == 10
    # new writes carry the column
    df2 = make_df(spark, 5, start=100).withColumn("extra", F.lit("x"))
    t.append(df2, num_files=1)
    assert t.scan(spark).filter(F.col("extra") == "x").count() == 5


def test_create_twice_fails(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("ns.t6", SCHEMA)
    with pytest.raises(FileExistsError):
        cat.create_table("ns.t6", SCHEMA)
    assert cat.table_exists("ns.t6")
    assert cat.list_tables("ns") == ["ns.t6"]


def test_point_lookup_bucket_pruning(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table(
        "ns.t7", SCHEMA, TableSpec(partition_spec=PartitionSpec.bucket("id", 8))
    )
    t.append(make_df(spark, 200), num_files=8)
    key = "id_000042"
    b = t.bucket_value(spark, key)
    assert b is not None
    entries = t.live_entries()
    kept = [e for e in entries if t._entry_matches(e, [PrunePredicate("_p_id_bucket", "=", b)])]
    assert 0 < len(kept) < len(entries)
    df = t.scan(spark, prune=[PrunePredicate("_p_id_bucket", "=", b)]).filter(
        F.col("id") == key
    )
    assert df.count() == 1


def test_read_table_nullfill_column_pruning(tmp_path):
    """columns= prunes the physical read (the cluster bounds sampler must
    never read image bytes) and still null-fills evolved columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocel_ocpn_lakehouse_spark.core import manifests as mf

    old = pa.table({"a": [1, 2], "payload": [b"x" * 10, b"y" * 10]})
    p = str(tmp_path / "f.parquet")
    pq.write_table(old, p)

    full_schema = pa.schema(
        [("a", pa.int64()), ("payload", pa.binary()), ("added", pa.string())]
    )
    pruned = mf.read_table_nullfill(p, full_schema, columns=["a", "added"])
    assert pruned.column_names == ["a", "added"]
    assert pruned["added"].null_count == 2
    assert pruned["a"].to_pylist() == [1, 2]
    # full read unchanged
    full = mf.read_table_nullfill(p, full_schema)
    assert full.column_names == ["a", "payload", "added"]


def test_concurrent_appends_no_lost_updates(spark, warehouse):
    """Multi-writer atomicity: N threads append concurrently to the SAME
    table through independent Table handles. The hard-link CAS commit
    (core/metadata.py commit_metadata) must serialize them — every batch
    lands exactly once (no lost update), the version chain is contiguous,
    and the final scan sees the union of all appends. Writers retry on
    ConflictError exhaustion the way any production committer would."""
    import threading

    from ocel_ocpn_lakehouse_spark.core import metadata as meta

    cat = Catalog(warehouse)
    cat.create_table("ns.conc", SCHEMA, TableSpec())
    n_threads, n_batches, rows_per = 4, 3, 10
    errors = []

    def writer(tid):
        t = Catalog(warehouse).load_table("ns.conc")  # own handle per thread
        for b in range(n_batches):
            df = make_df(spark, rows_per, start=(tid * n_batches + b) * rows_per)
            for attempt in range(4):
                try:
                    t.refresh()
                    t.append(df, num_files=1)
                    break
                except meta.ConflictError:
                    if attempt == 3:
                        errors.append((tid, b))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errors, f"appends lost to conflict exhaustion: {errors}"
    t = Catalog(warehouse).load_table("ns.conc")
    total = n_threads * n_batches * rows_per
    assert t.scan(spark).count() == total
    # every id exactly once — a lost update or double-publish would break this
    assert t.scan(spark).select("id").distinct().count() == total
    # one snapshot per append, contiguous sequence numbers
    seqs = sorted(s.sequence_number for s in t.snapshots())
    assert len(seqs) == n_threads * n_batches
    assert seqs == list(range(seqs[0], seqs[0] + len(seqs)))


def test_scan_plans_distributed_above_threshold(spark, warehouse, monkeypatch):
    """Above DISTRIBUTED_PLANNING_ENTRIES entries, scan planning runs
    over entries_df: the driver must never materialize ManifestEntry
    objects (at 10^7 files that list is GBs of bounds/bloom JSON), prune
    with the same verdict as the driver path, and apply MoR tombstones
    identically."""
    from ocel_ocpn_lakehouse_spark.core import manifests as mf
    from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_where

    from ocel_ocpn_lakehouse_spark.core import table as table_mod

    monkeypatch.setattr(table_mod, "DISTRIBUTED_PLANNING_ENTRIES", 6)
    cat = Catalog(warehouse)
    t = cat.create_table(
        "ns.big", SCHEMA, TableSpec(partition_spec=PartitionSpec.bucket("id", 4))
    )
    for i in range(4):  # 4 appends × 4 bucket files = 16 entries
        t.append(make_df(spark, 100, start=100 * i), num_files=4)
    delete_where(spark, t, "v >= 390")  # MoR path under distributed planning
    t = t.refresh()

    # reference results via the driver planner; the partition predicate
    # prunes whole files (~1/4 of them), so the two planners must agree on
    # exactly which files survive
    monkeypatch.setattr(table_mod, "DISTRIBUTED_PLANNING_ENTRIES", 100_000)
    want_all = {r["id"] for r in t.scan(spark).collect()}
    bucket = t.bucket_value(spark, "id_000100")
    preds = [PrunePredicate("_p_id_bucket", "=", bucket)]
    want_pruned = {r["id"] for r in t.scan(spark, prune=preds).collect()}
    assert len(want_all) == 390 and 0 < len(want_pruned) < len(want_all)

    # distributed planner: forbid ANY driver-side entry materialization
    monkeypatch.setattr(table_mod, "DISTRIBUTED_PLANNING_ENTRIES", 6)

    def _no_driver_entries(*a, **k):
        raise AssertionError("scan materialized ManifestEntry objects on the driver")

    monkeypatch.setattr(mf, "read_manifests", _no_driver_entries)
    assert {r["id"] for r in t.scan(spark).collect()} == want_all
    assert {r["id"] for r in t.scan(spark, prune=preds).collect()} == want_pruned
