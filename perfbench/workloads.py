"""The benchmark's workloads: one closed-loop client each.

Each workload has a ``setup`` that generates every input from the seed and
builds the starting table, and a ``run`` that issues the timed ops in a fixed
order. Op counts are a function of ``(seed, seconds)`` only, so two runs with
the same arguments issue the same ops on the same inputs. Every op's result
is checked against the key model outside its timing; after each maintenance
and mutation phase the whole table is checked too.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

import ocel_ocpn_lakehouse_spark.functions.hamming_index as hamming_index
import ocel_ocpn_lakehouse_spark.images.export as export
import ocel_ocpn_lakehouse_spark.maintenance.cluster as cluster
import ocel_ocpn_lakehouse_spark.maintenance.cluster_incremental as cluster_incremental
import ocel_ocpn_lakehouse_spark.maintenance.compact as compact
import ocel_ocpn_lakehouse_spark.maintenance.deletes as deletes
import ocel_ocpn_lakehouse_spark.maintenance.expire as expire
import ocel_ocpn_lakehouse_spark.maintenance.merge as merge
import ocel_ocpn_lakehouse_spark.maintenance.rewrite_deletes as rewrite_deletes
from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, SortOrder, TableSpec
from ocel_ocpn_lakehouse_spark.core.table import PrunePredicate
from ocel_ocpn_lakehouse_spark.images.synth import IMAGE_SCHEMA
from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables

from . import inputs as I
from .harness import Harness

TABLE = "bench.images"
INDEX = "bench.images_hidx"
BUCKETS = 4
TARGET_FILE_BYTES = 512 * 1024
MISS_BASE = 10**9  # ids at or above this are never written
MERGE_SCHEMA = T.StructType([*IMAGE_SCHEMA.fields, T.StructField("_op", T.StringType())])


def table_spec() -> TableSpec:
    """Bucket-partitioned on image_id, phash-sorted, Bloom filters on the key;
    a small target file size so a few MB of images compact into several files
    per bucket, which incremental clustering can then rewrite selectively."""
    return TableSpec(
        partition_spec=PartitionSpec.bucket("image_id", BUCKETS),
        sort_order=SortOrder.by("phash"),
        properties={
            "write.bloom-columns": "image_id",
            "write.target-file-size-bytes": str(TARGET_FILE_BYTES),
            "compact.small-file-bytes": str(TARGET_FILE_BYTES // 2),
        },
    )


class Ctx:
    """What a workload needs: the session, its directory, seed and tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer

    def read_images(self, path: str):
        return self.spark.read.schema(IMAGE_SCHEMA).parquet(path)


class Fixture:
    """One set-up's inputs, table and key model."""

    def __init__(self, ctx: Ctx, rep: int):
        self.dir = I.ensure_dir(os.path.join(ctx.work, f"rep{rep}"))
        self.inputs = I.ensure_dir(os.path.join(self.dir, "inputs"))
        self.cat = Catalog(os.path.join(self.dir, "wh"))
        self.sys = SystemTables(self.cat.warehouse)
        self.table = self.cat.create_table(TABLE, IMAGE_SCHEMA, table_spec())
        self.model = I.KeyModel()
        self.harness = Harness(ctx.spark, self.table.root, ctx.tracer, tag=f"rep{rep}")
        self.rng = np.random.default_rng([ctx.seed, 424242])

    def write_batch(self, name: str, rows: list[dict]) -> str:
        return I.write_parquet(os.path.join(self.inputs, name), rows, I.IMAGE_ARROW_SCHEMA)


# ---- ops shared by the workloads ------------------------------------------------


def append(ctx: Ctx, fx: Fixture, path: str, rows: list[dict]) -> None:
    """One small fragmented append: two write tasks, so up to two files per
    bucket."""
    fx.harness.op(
        "append",
        lambda: fx.table.append(ctx.read_images(path), num_files=2, distribution="fragment"),
        images=len(rows),
        user_bytes=sum(I.user_bytes(r) for r in rows),
    )
    fx.model.upsert(rows)


def point_read(ctx: Ctx, fx: Fixture, key: str) -> list[tuple]:
    """The rows (key, payload md5, caption) a point lookup returns."""
    df = fx.table.scan(ctx.spark, prune=[PrunePredicate("image_id", "=", key)])
    with ctx.tracer.span("scan.exec"):
        rows = (
            df.filter(F.col("image_id") == key)
            .select("image_id", F.md5("bytes"), "caption")
            .collect()
        )
    return [tuple(r) for r in rows]


def expected_read(fx: Fixture, key: str) -> list[tuple]:
    exp = fx.model.rows.get(key)
    return [(key, exp.md5, exp.caption)] if exp else []


def lookup(ctx: Ctx, fx: Fixture, key: str, timed: bool = True) -> None:
    expected = expected_read(fx, key)
    fx.harness.op(
        "lookup",
        lambda: point_read(ctx, fx, key),
        timed=timed,
        images=len(expected),
        check=lambda rows: rows == expected,
    )


def scan_predicates(model: I.KeyModel) -> list[tuple]:
    """(name, prune predicates, Spark filter, model filter) over fmt, w/h and
    a phash range holding about 15 % of the rows."""
    ph = sorted(e.phash for e in model.rows.values())
    lo, hi = ph[int(len(ph) * 0.40)], ph[int(len(ph) * 0.55)]
    return [
        ("fmt=jpeg", [PrunePredicate("fmt", "=", "jpeg")], F.col("fmt") == "jpeg",
         lambda e: e.fmt == "jpeg"),
        ("w>=64,h>=64", [PrunePredicate("w", ">=", 64), PrunePredicate("h", ">=", 64)],
         (F.col("w") >= 64) & (F.col("h") >= 64), lambda e: e.w >= 64 and e.h >= 64),
        ("phash-range", [PrunePredicate("phash", ">=", lo), PrunePredicate("phash", "<=", hi)],
         F.col("phash").between(lo, hi), lambda e: lo <= e.phash <= hi),
    ]


def scan(ctx: Ctx, fx: Fixture, pred: tuple) -> None:
    _name, prune, cond, keep = pred

    def run():
        df = fx.table.scan(ctx.spark, prune=prune)
        with ctx.tracer.span("scan.exec"):
            r = df.filter(cond).agg(F.count("*"), F.sum(F.length("bytes"))).first()
        return int(r[0]), int(r[1] or 0)

    live = [e for e in fx.model.rows.values() if keep(e)]
    fx.harness.op(
        "scan",
        run,
        images=len(live),
        check=lambda got: got == (len(live), sum(e.nbytes for e in live)),
    )


def verify_table(ctx: Ctx, fx: Fixture) -> None:
    """Whole-table check against the key model (order-insensitive), charged
    to the op that produced the current state."""

    def same():
        rows = (
            fx.table.scan(ctx.spark)
            .select("image_id", F.md5("bytes"), "caption")
            .collect()
        )
        return sorted(tuple(r) for r in rows) == fx.model.digest()

    fx.harness.expect(fx.harness.records[-1], same)


def verify_row_count(fx: Fixture) -> None:
    """Metadata-only check: the live entries hold as many rows as the model."""
    fx.harness.expect(fx.harness.records[-1], lambda: sum(
        e.record_count for e in fx.table.live_entries()) == len(fx.model.rows))


def verify_lookups(ctx: Ctx, fx: Fixture, n: int = 4) -> None:
    """Untimed point-lookup checks (half misses) against the key model."""
    rng = np.random.default_rng([ctx.seed, 99])
    for key in I.lookup_keys(rng, fx.model, n, n // 2, MISS_BASE):
        fx.harness.expect(fx.harness.records[-1],
                          lambda key=key: point_read(ctx, fx, key) == expected_read(fx, key))


def maintain(fx: Fixture, kind: str, fn, rows: bool = True) -> None:
    """One maintenance op on the refreshed table; ``rows`` says whether it
    rewrites the live rows (counted as images for throughput)."""

    def run():
        fx.table.refresh()
        out = fn()
        fx.table.refresh()
        return out

    live_bytes = sum(e.size_bytes for e in fx.table.live_entries())
    fx.harness.op(kind, run, images=len(fx.model.rows) if rows else 0)
    fx.harness.records[-1].result.update(
        live_bytes_before=live_bytes, files_after=len(fx.table.live_entries()))


def merge_op(ctx: Ctx, fx: Fixture, path: str, rows: list[dict]) -> None:
    """MERGE upserts (copy-on-write, the table default) from a prepared
    source file."""
    fx.harness.op(
        "merge",
        lambda: merge.merge_into(ctx.spark, fx.table,
                                 ctx.spark.read.schema(MERGE_SCHEMA).parquet(path),
                                 sys_tables=fx.sys, table_name=TABLE),
        images=len(rows),
        user_bytes=sum(I.user_bytes(r) for r in rows),
        check=lambda res: res.get("source_rows") == len(rows),
    )
    fx.model.upsert(rows)


def delete_op(ctx: Ctx, fx: Fixture, path: str, keys: list[str]) -> None:
    """Merge-on-read delete of a prepared key set (one delete-vector commit)."""
    fx.harness.op(
        "delete",
        lambda: deletes.delete_keys(ctx.spark, fx.table,
                                    ctx.spark.read.schema("image_id string").parquet(path),
                                    sys_tables=fx.sys, table_name=TABLE),
        images=len(keys),
        check=lambda res: res.get("deleted_rows") == len(keys),
    )
    fx.model.delete(keys)


def write_keys(fx: Fixture, name: str, keys: list[str]) -> str:
    return I.write_parquet(os.path.join(fx.inputs, name), [{"image_id": k} for k in keys],
                           I.KEYS_ARROW_SCHEMA)


def _import_engine(batches):
    import ocel_ocpn_lakehouse_spark.core.manifests  # noqa: F401 - pyarrow, pandas

    yield from batches


def start_python_workers(ctx: Ctx) -> None:
    """One Python worker per core with the engine's imports loaded, so the
    first Arrow task of a timed op does not pay for process start. The
    appends write 16 files or fewer and collect their stats in the driver,
    so nothing else starts the workers before the maintenance chain."""
    cores = ctx.spark.sparkContext.defaultParallelism
    ctx.spark.range(cores, numPartitions=cores).mapInPandas(_import_engine, "id long").count()


# ---- ingest_maintain -------------------------------------------------------------


class IngestMaintain:
    """The write side. Many small fragmented appends of a key-uniform stream,
    bin-pack compaction, MERGE upserts and key deletes that favour recent
    keys, then delete-vector rewrite, Z-order clustering, snapshot expiry,
    orphan sweep and manifest rewrite, then a key-localized append absorbed
    by incremental clustering. Reads happen only in the untimed checks."""

    name = "ingest_maintain"
    foreground = "append"
    seed_rows = 120  # an existing table to ingest into; its append warms Spark
    batch = 15
    appends_per_s = 1.47
    upserts = 12
    inserts = 4
    delete_rounds = 2  # two DV commits, so delete-vector rewrite has work
    deletes = 12
    localized = 24

    def setup(self, ctx: Ctx, rep: int) -> Fixture:
        fx = Fixture(ctx, rep)
        n = max(4, round(self.appends_per_s * ctx.seconds))
        rows = [I.gen_image(ctx.seed, i) for i in range(self.seed_rows + n * self.batch)]
        seed, stream = rows[: self.seed_rows], rows[self.seed_rows:]
        fx.harness.op(
            "append",
            lambda: fx.table.append(ctx.read_images(fx.write_batch("seed.parquet", seed)),
                                    num_files=3, distribution="fragment"),
            timed=False, images=len(seed), user_bytes=sum(I.user_bytes(r) for r in seed))
        fx.model.upsert(seed)
        start_python_workers(ctx)
        # key-uniform stream: batch b holds ids b, b+n, b+2n, ... of the stream
        fx.batches = [
            (fx.write_batch(f"b{b:03d}.parquet", stream[b::n]), stream[b::n]) for b in range(n)
        ]
        # mutations, planned against a simulated model of the table after the
        # appends so the timed loop only reads prepared files: MERGE upserts
        # of recent keys plus a few inserts, then key deletes of recent keys
        sim = I.KeyModel()
        sim.rows = dict(fx.model.rows)
        sim.upsert(stream)
        next_id = len(rows)
        upd = [I.gen_image(ctx.seed, int(k[4:]), variant=1)
               for k in sim.recent_keys(fx.rng, self.upserts)]
        ins = [I.gen_image(ctx.seed, next_id + k) for k in range(self.inserts)]
        next_id += self.inserts
        sim.upsert(upd + ins)
        fx.merge = (I.write_parquet(os.path.join(fx.inputs, "merge.parquet"),
                                    [{**r, "_op": "upsert"} for r in upd + ins],
                                    I.MERGE_ARROW_SCHEMA), upd + ins)
        fx.deletes = []
        for r in range(self.delete_rounds):
            gone = sim.recent_keys(fx.rng, self.deletes)
            sim.delete(gone)
            fx.deletes.append((write_keys(fx, f"delete{r}.parquet", gone), gone))
        # key-localized stream: near-duplicates of one hot base → one narrow
        # span of the Z-order curve
        loc = [I.gen_image(ctx.seed, next_id + k, hot_base=0) for k in range(self.localized)]
        fx.localized = (fx.write_batch("localized.parquet", loc), loc)
        return fx

    def run(self, ctx: Ctx, fx: Fixture) -> None:
        for path, rows in fx.batches:
            append(ctx, fx, path, rows)
        verify_row_count(fx)
        maintain(fx, "compact", lambda: compact.execute_compaction(
            ctx.spark, fx.table, fx.sys, TABLE))
        verify_table(ctx, fx)
        merge_op(ctx, fx, *fx.merge)
        for path, keys in fx.deletes:
            delete_op(ctx, fx, path, keys)
        verify_table(ctx, fx)
        maintain(fx, "rewrite_deletes", lambda: rewrite_deletes.rewrite_deletes(
            ctx.spark, fx.table), rows=False)
        verify_table(ctx, fx)
        maintain(fx, "cluster", lambda: cluster.execute_cluster(
            ctx.spark, fx.table, fx.sys, TABLE, curve="zorder"))
        verify_table(ctx, fx)
        maintain(fx, "expire", lambda: expire.expire_snapshots(
            ctx.spark, fx.table, fx.sys, TABLE, older_than_ms=int(time.time() * 1000) + 1,
            keep_last=1), rows=False)
        maintain(fx, "sweep", lambda: expire.sweep_orphans(fx.table, older_than_hours=0),
                 rows=False)
        maintain(fx, "rewrite_manifests", lambda: fx.table.commit_replace(
            set(), [], operation="rewrite-manifests"), rows=False)
        verify_table(ctx, fx)
        append(ctx, fx, *fx.localized)
        maintain(fx, "cluster_incremental", lambda: cluster_incremental.
                 execute_cluster_incremental(ctx.spark, fx.table, fx.sys, TABLE))
        verify_table(ctx, fx)
        verify_lookups(ctx, fx)


# ---- read_serve ------------------------------------------------------------------


class ReadServe:
    """The read side. Point lookups (hits and misses), predicate scans,
    near-dup probes and a training export against a table written in its
    maintained layout — one hash-distributed, phash-sorted file per bucket —
    and its Hamming index. Nothing commits to the table while it is timed."""

    name = "read_serve"
    foreground = "lookup"
    corpus = 600
    rounds_per_s = 0.2
    # one miss in ten keeps the median among hits and leaves the slow misses
    # (an empty plan) above the tail percentile
    lookups_per_round = 10
    misses_per_round = 1
    probe_size = 16

    def setup(self, ctx: Ctx, rep: int) -> Fixture:
        fx = Fixture(ctx, rep)
        rows = [I.gen_image(ctx.seed, i) for i in range(self.corpus)]
        path = fx.write_batch("corpus.parquet", rows)
        fx.harness.op(
            "append",
            lambda: fx.table.append(ctx.read_images(path), num_files=BUCKETS, distribution="hash"),
            timed=False, images=len(rows), user_bytes=sum(I.user_bytes(r) for r in rows))
        fx.model.upsert(rows)
        fx.index = hamming_index.hamming_index_table(ctx.spark, fx.cat, INDEX, fx.table)
        n_rounds = max(2, round(self.rounds_per_s * ctx.seconds))
        fx.lookups = [k for _ in range(n_rounds) for k in I.lookup_keys(
            fx.rng, fx.model, self.lookups_per_round, self.misses_per_round, MISS_BASE)]
        fx.scans = scan_predicates(fx.model)
        fx.probes = []
        for r in range(0, n_rounds, 2):
            batch = I.probe_batch(fx.rng, fx.model, self.probe_size, str(r))
            path = I.write_parquet(os.path.join(fx.inputs, f"probe{r}.parquet"), batch,
                                   I.PROBE_ARROW_SCHEMA)
            fx.probes.append((path, I.expected_pairs(fx.model, batch)))
        fx.n_rounds = n_rounds
        # first hit and first miss off the clock
        lookup(ctx, fx, rows[1]["image_id"], timed=False)
        lookup(ctx, fx, I.image_id(MISS_BASE - 1), timed=False)
        return fx

    def run(self, ctx: Ctx, fx: Fixture) -> None:
        per = self.lookups_per_round
        for r in range(fx.n_rounds):
            for key in fx.lookups[r * per:(r + 1) * per]:
                lookup(ctx, fx, key)
            scan(ctx, fx, fx.scans[r % len(fx.scans)])
            if r % 2 == 0:
                neardup(ctx, fx, *fx.probes[r // 2])
            if r == fx.n_rounds // 2:
                export_images(ctx, fx)
        verify_table(ctx, fx)


def neardup(ctx: Ctx, fx: Fixture, path: str, expected: set) -> None:
    def run():
        batch = ctx.spark.read.schema("image_id string, phash long").parquet(path)
        res = hamming_index.hamming_probe_indexed(ctx.spark, fx.index, batch)
        with ctx.tracer.span("scan.exec"):
            pairs = {(r["batch_id"], r["corpus_id"], int(r["dist"])) for r in res["pairs"].collect()}
        return {**res, "pairs": pairs}

    fx.harness.op("neardup", run, check=lambda res: res["pairs"] == expected)


def export_images(ctx: Ctx, fx: Fixture) -> None:
    """A full training export into a fresh directory and manifest table. Its
    images are the exported items (rows of incomplete batches are left out
    by the packer); each reported shard must be a tar on disk."""
    out_dir = os.path.join(fx.dir, "export")
    n = len(fx.model.rows)

    def run():
        return export.export_webdataset_job(ctx.spark, fx.cat, TABLE, out_dir, batch_size=16)

    def check(res):
        tars = [f for f in os.listdir(out_dir) if f.endswith(".tar")]
        return 0 < res["items"] <= n and len(tars) == res["exported"] > 0

    fx.harness.op("export", run, check=check)
    rec = fx.harness.records[-1]
    rec.images = int(rec.result.get("items", 0))


WORKLOADS = {w.name: w for w in (IngestMaintain(), ReadServe())}
