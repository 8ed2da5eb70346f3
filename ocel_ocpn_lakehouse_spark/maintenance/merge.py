"""T12 / J6 — MERGE INTO as a broadcast/hash-join copy-on-write rewrite.

Absent from the reference entirely (north-rule graft). Semantics follow
SQL MERGE with a source carrying ``_op ∈ {'upsert','delete'}``:

  upsert, key in target  → replace the target row
  upsert, key not in     → insert
  delete, key in target  → remove the row
  delete, key not in     → no-op

Copy-on-write at FILE granularity:
  1. touched files = the distinct data files holding any source key —
     found by an inner join of (target rows + input_file_name) with the
     source key set; the source side is broadcast when small (the
     reference's bucketed-join guidance, ops/performance_optimization.py:
     254-259, maps to Spark broadcast/bucket pruning);
  2. bucket pruning first: with a BUCKET(N, key) partition spec, only
     files in source-key buckets are even scanned for the probe;
  3. rewrite = survivors of touched files (anti-join on key) ∪ all upsert
     rows (unionByName — SURVEY §2.6 O4); untouched files are carried
     forward unchanged in the replace-snapshot commit;
  4. old snapshot still references the pre-merge files → time travel
     reproduces pre-merge results.

Planning reads the live manifest entries on the driver at any table size,
like compaction: the commit that ends the op (``commit_replace`` for CoW,
``commit_delete_vectors`` for MoR) reads every live entry anyway, so a
Spark-job planner over ``entries_df`` would not lower peak driver memory.
The same entries size the upsert files, so neither planning nor sizing
runs a Spark job.

``strategy='mor'`` (or table property ``write.merge.mode=merge-on-read``)
switches step 3 to Iceberg-v2 merge-on-read: matched target rows become
positional tombstones in ONE delete-vector parquet and upserts append as
new files, committed atomically in a single snapshot — zero data-file
rewrite. Wins when merges are point-ish relative to file size (CoW
rewrites gigabytes to drop a handful of rows); scans pay the tombstone
anti-join until routine compaction absorbs the DVs. Both strategies are
content-equivalent (test_mor_merge_matches_cow_and_rewrites_nothing).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.table import Table
from .checkpoint import SystemTables
from .compact import _norm_path_py, _norm_path_sql

BROADCAST_THRESHOLD_ROWS = 2_000_000  # source keys; ~16 MB of longs


def _rewrite_touched_arrow(spark, table, touched_entries, key_set, key):
    """Per-file survivor rewrite via Arrow tasks (no shuffle).

    Returns (manifest entries for the survivor files, survivor row count).
    ``key_set`` is the already-collected source key set (shared with the
    probe — collected once per merge); each task set-filters one file's
    rows in Arrow and writes the survivor file + footer stats. SQL MERGE
    semantics: a NULL target key never matches any source key (NULL is
    dropped from the set and null rows are always survivors — same as the
    left_anti fallback)."""
    import json
    import os
    import shutil
    import uuid as _uuid

    from ..core import manifests as mf

    keys_b = spark.sparkContext.broadcast({k for k in key_set if k is not None})
    staging = table._stage_dir()
    arrow_schema = mf.spark_to_arrow_schema(table.schema)
    stats_cols = table.stats_columns()
    bloom_cols = table.bloom_columns
    codec = str(spark.conf.get("spark.sql.parquet.compression.codec", "snappy")).lower()
    codec = {"uncompressed": "none", "lz4raw": "lz4"}.get(codec, codec)
    specs = [
        (
            i,
            os.path.join(table.root, e.path),
            json.dumps(
                {"rel": e.path, "dvs": [os.path.join(table.root, d["path"]) for d in e.deletes]}
            )
            if e.deletes
            else "",
        )
        for i, e in enumerate(touched_entries)
    ]

    def _task(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        pa.set_cpu_count(1)  # one Arrow thread per one-core task

        kset = keys_b.value
        for pdf in batches:
            out = []
            for fidx, path, dvj in zip(pdf["fidx"], pdf["path"], pdf["dv"]):
                tbl = mf.read_table_nullfill(path, arrow_schema)
                if dvj:  # absorb positional deletes before CoW filtering —
                    # a tombstoned row must not resurrect into the survivor
                    dv = json.loads(dvj)
                    tbl = mf.apply_delete_vectors(tbl, dv["rel"], dv["dvs"])
                kvals = tbl[key].to_pylist()
                mask = np.fromiter(
                    ((k is None) or (k not in kset) for k in kvals), bool, count=len(kvals)
                )
                surv = tbl.filter(pa.array(mask))
                if surv.num_rows == 0:
                    continue  # whole file consumed by the merge
                dest = os.path.join(staging, f"m{fidx}.parquet")
                tmp = f"{dest}.{os.getpid()}.inprogress"  # attempt-unique
                pq.write_table(surv, tmp, compression=codec)
                os.rename(tmp, dest)
                st = mf.footer_stats(dest, stats_cols)
                out.append(
                    {
                        "fidx": int(fidx),
                        "size_bytes": os.path.getsize(dest),
                        "record_count": st["record_count"],
                        "lower_bounds": json.dumps(st["lower_bounds"], default=str),
                        "upper_bounds": json.dumps(st["upper_bounds"], default=str),
                        "null_counts": json.dumps(st["null_counts"]),
                        "blooms": json.dumps(mf.build_blooms(surv, bloom_cols)),
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["fidx", "size_bytes", "record_count", "lower_bounds",
                         "upper_bounds", "null_counts", "blooms"],
            )

    spec_df = spark.createDataFrame(
        spark.sparkContext.parallelize(specs, max(len(specs), 1)),
        "fidx int, path string, dv string",
    )
    rows = spec_df.mapInPandas(
        _task,
        "fidx int, size_bytes long, record_count long, "
        "lower_bounds string, upper_bounds string, null_counts string, blooms string",
    ).collect()

    os.makedirs(table.data_dir, exist_ok=True)
    entries = []
    n_rows = 0
    for r in rows:
        e_in = touched_entries[r["fidx"]]
        pdir = "/".join(f"{k}={v}" for k, v in sorted(e_in.partition.items()))
        destdir = os.path.join(table.data_dir, pdir) if pdir else table.data_dir
        os.makedirs(destdir, exist_ok=True)
        dest = os.path.join(destdir, f"{_uuid.uuid4().hex[:8]}-m{r['fidx']}.parquet")
        os.rename(os.path.join(staging, f"m{r['fidx']}.parquet"), dest)
        entries.append(
            mf.ManifestEntry(
                path=os.path.relpath(dest, table.root),
                partition=e_in.partition,
                size_bytes=r["size_bytes"],
                record_count=r["record_count"],
                lower_bounds=json.loads(r["lower_bounds"]),
                upper_bounds=json.loads(r["upper_bounds"]),
                null_counts=json.loads(r["null_counts"]),
                blooms=json.loads(r["blooms"]),
            )
        )
        n_rows += r["record_count"]
    shutil.rmtree(staging, ignore_errors=True)
    return entries, n_rows


def _upsert_sizer(table: Table, entries: list):
    """``n_rows → number of files`` for upsert writes at the table's target
    file size, using the average on-disk row width of ``entries`` (8 KiB
    when the table holds no bytes yet)."""
    total_bytes = sum(e.size_bytes for e in entries)
    total_rows = sum(e.record_count for e in entries)
    avg_row = (total_bytes / max(1, total_rows)) if total_bytes else 8192
    return lambda n_rows: max(1, -(-int(n_rows * avg_row) // table.target_file_size))


def _any_key_in_bounds(sorted_keys: list, lo, hi) -> bool:
    """True iff some source key falls in the file's [lo, hi] key range.

    ``sorted_keys`` is the sorted non-null source key list; bounds arrive as
    JSON-decoded manifest footer stats (possibly stringified). Coerce the
    bounds to the key type; on ANY doubt (missing bounds, coercion failure,
    cross-type comparison) return True — pruning must never skip a file it
    cannot prove untouched.
    """
    import bisect

    if not sorted_keys or lo is None or hi is None:
        return True
    kt = type(sorted_keys[0])
    try:
        lo, hi = kt(lo), kt(hi)
        i = bisect.bisect_left(sorted_keys, lo)
        return i < len(sorted_keys) and sorted_keys[i] <= hi
    except (TypeError, ValueError):
        return True


def _probe_touched_arrow(spark, table, entries, key_list, key) -> tuple[set, dict]:
    """Touched-file probe as an Arrow key-column job.

    The candidate manifest ``entries`` ship to tasks as (path, lo, hi,
    bloom) rows — relative path plus lower/upper-bounds and bloom JSON.
    Returns the set of RELATIVE paths of files holding ≥1 source key.
    Each one-core task prunes in cost order before any I/O: (1) manifest
    key bounds (bisect over the sorted broadcast keys — prunes when files
    are clustered on the key), (2) the file's manifest Bloom filter
    (vectorized gather against the pre-hashed key matrix — prunes on ANY
    layout, the case bounds cannot help; absence = might-contain), then
    (3) reads only the key column of surviving files (pyarrow, through
    ``read_table_nullfill`` so post-evolution key columns null-fill) and
    set-probes it against the broadcast source keys.
    """
    import json
    import os

    from ..core import manifests as mf

    nonnull = sorted(k for k in key_list if k is not None)
    keys_b = spark.sparkContext.broadcast(
        (set(nonnull), nonnull, mf.bloom_key_hashes(nonnull))
    )
    root = table.root
    arrow_schema = mf.spark_to_arrow_schema(table.schema)
    acc_read = spark.sparkContext.accumulator(0)
    acc_bounds = spark.sparkContext.accumulator(0)
    acc_bloom = spark.sparkContext.accumulator(0)

    def _task(batches):
        import json as _json

        import pandas as pd
        import pyarrow as pa

        pa.set_cpu_count(1)  # one Arrow thread per one-core task
        kset, ksorted, khashes = keys_b.value
        for pdf in batches:
            hits = []
            for rp, lo_j, hi_j, bl_j in zip(pdf["path"], pdf["lo"], pdf["hi"], pdf["bloom"]):
                lo = (_json.loads(lo_j) or {}).get(key) if lo_j else None
                hi = (_json.loads(hi_j) or {}).get(key) if hi_j else None
                if not _any_key_in_bounds(ksorted, lo, hi):
                    acc_bounds.add(1)
                    continue
                bloom = (_json.loads(bl_j) or {}).get(key) if bl_j else None
                if not mf.bloom_any_contains(bloom, khashes):
                    acc_bloom.add(1)
                    continue
                acc_read.add(1)
                vals = mf.read_table_nullfill(
                    os.path.join(root, rp), arrow_schema, columns=[key]
                )[key].to_pylist()
                if not kset.isdisjoint(vals):
                    hits.append(rp)
            yield pd.DataFrame({"path": pd.Series(hits, dtype="object")})

    specs = spark.createDataFrame(
        [
            (
                e.path,
                json.dumps(e.lower_bounds, default=str),
                json.dumps(e.upper_bounds, default=str),
                json.dumps(e.blooms),
            )
            for e in entries
        ],
        "path string, lo string, hi string, bloom string",
    )
    n_parts = spark.sparkContext.defaultParallelism * 4
    out = specs.repartition(n_parts).mapInPandas(_task, "path string")
    touched = {r["path"] for r in out.collect()}
    stats = {
        "files_read": acc_read.value,
        "skipped_by_bounds": acc_bounds.value,
        "skipped_by_bloom": acc_bloom.value,
    }
    return touched, stats


def merge_into(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    key: str = "image_id",
    op_col: str = "_op",
    sys_tables: SystemTables | None = None,
    table_name: str = "",
    strategy: str | None = None,  # cow | mor (default: table write.merge.mode, else cow)
    extra_summary: dict | None = None,  # merged into the commit summary (e.g. stream epoch)
    set_properties: dict | None = None,  # atomic with the commit (e.g. stream max-epoch)
) -> dict:
    """MERGE ``source`` into ``table`` by ``key`` in ONE snapshot.

    Each source row carries ``op_col`` ∈ {'upsert', 'delete'} (any other
    value raises ValueError before anything is written). Every target row
    whose key appears in the source — under either op — is removed, and
    every upsert row is inserted, so an upsert replaces a matching row or
    inserts a new one, and a delete removes it or is a no-op. NULL keys
    never match.

    ``strategy`` picks how matched rows leave (default: the table's
    ``write.merge.mode`` property, else 'cow'): 'cow' rewrites each
    touched file without them (``commit_replace``); 'mor' tombstones
    their positions in one delete vector and rewrites no data file
    (``commit_delete_vectors``). Both give the same table contents.

    The source is not deduplicated: a key's target rows are removed once,
    but EVERY upsert source row is inserted — k upsert rows for one key
    leave k rows with that key, and an upsert row still inserts when a
    delete row for the same key rides along.

    Returns a report dict: ``status`` ('committed', or 'no-op' for a MoR
    merge that matched and inserted nothing), ``snapshot_id``,
    ``source_rows``, ``touched_files``, ``files_added`` and the probe's
    pruning counts under ``probe``.
    """
    t0 = time.time()
    strategy = (strategy or table.properties.get("write.merge.mode", "cow")).lower()
    strategy = {"copy-on-write": "cow", "merge-on-read": "mor"}.get(strategy, strategy)
    if strategy not in ("cow", "mor"):
        raise ValueError(f"unknown merge strategy {strategy!r}")
    data_cols = table.schema.fieldNames()
    src = source.select(*data_cols, op_col).cache()
    try:
        n_src = src.count()
        # an unknown op (e.g. Debezium's 'insert'/'update') would silently
        # behave as a delete — every source key tombstones its target rows
        # and only op=='upsert' rows are re-inserted. Fail loudly instead.
        bad_ops = [
            r[0]
            for r in src.select(op_col).distinct().collect()
            if r[0] not in ("upsert", "delete")
        ]
        if bad_ops:
            raise ValueError(
                f"unknown {op_col} value(s) {bad_ops!r}: MERGE understands "
                "'upsert' and 'delete' only"
            )

        # --- 1+2: find touched files (bucket-pruned probe, broadcast keys)
        # small/medium sources collect the distinct keys ONCE; the list
        # feeds both the probe's broadcast join and the Arrow rewrite's
        # executor set (previously two identical distinct jobs)
        key_list: list | None = None
        if n_src <= BROADCAST_THRESHOLD_ROWS:
            key_schema = src.select(key).schema
            key_list = [r[0] for r in src.select(key).distinct().collect()]
            src_keys = F.broadcast(spark.createDataFrame([(k,) for k in key_list], key_schema))
        else:
            src_keys = src.select(key).distinct()

        spec_buckets = {
            f for f in table.partition_spec.fields if f.transform == "bucket" and f.source == key
        }
        buckets: set | None = None
        if spec_buckets:
            bf = next(iter(spec_buckets))
            buckets = {
                r["b"]
                for r in src.select(
                    F.pmod(F.xxhash64(F.col(key)), F.lit(bf.num_buckets)).cast("int").alias("b")
                )
                .distinct()
                .collect()
            }

        import os

        # driver-side planning at any table size: the commit below reads
        # every live entry anyway (module docstring)
        entries = table.live_entries()
        probe_entries = entries
        if buckets is not None:
            probe_entries = [
                e
                for e in entries
                if e.partition.get(bf.name, e.partition.get(bf.partition_column)) in buckets
                or not e.partition
            ]

        probe_stats: dict = {}
        if key_list is not None:
            # Arrow key-column probe with manifest-bounds pre-pruning: tasks
            # skip files whose key range excludes every source key, then read
            # ONLY the key column of survivors with pyarrow and set-probe it
            # against the broadcast source keys. The JVM scan this replaces
            # paid per-file reader setup (~50 ms/file — minutes at 10^5 tiny
            # files); the Arrow footer read + one-column decode is the same
            # cost model as every other maintenance task here.
            touched_rel, probe_stats = _probe_touched_arrow(
                spark, table, probe_entries, key_list, key
            )
        else:
            # huge source: keys don't fit a broadcast set — JVM scan +
            # distributed semi-join probe (the key column still prunes at
            # the parquet reader; per-file setup amortizes over the big read)
            fb_paths = [e.path for e in probe_entries]
            if not fb_paths:
                touched_rel = set()
            else:
                norm_root = _norm_path_py(table.root).rstrip("/")
                tgt = (
                    spark.read.schema(table.schema)
                    .parquet(*[os.path.join(table.root, p) for p in fb_paths])
                    .withColumn("_file", _norm_path_sql(F.input_file_name()))
                )
                touched_rel = {
                    r["_file"][len(norm_root) + 1 :]
                    for r in tgt.join(src_keys, key, "inner")
                    .select("_file")
                    .distinct()
                    .collect()
                }

        by_path = {e.path: e for e in entries}
        touched_entries = [by_path[p] for p in sorted(touched_rel)]
        upsert_num_files = _upsert_sizer(table, entries)
        # the commit re-reads every live entry: drop the plan-time copy so
        # the driver never holds the manifest twice
        del entries, probe_entries, by_path

        # --- 3: rewrite touched files + write all upserts
        upserts = src.filter(F.col(op_col) == "upsert").select(*data_cols)
        new_entries: list = []
        n_new_rows = 0

        if strategy == "mor":
            # merge-on-read: matched target rows become positional
            # tombstones (Iceberg v2 write.merge.mode=merge-on-read) and
            # upserts append as new files — ZERO data-file rewrite, one
            # atomic commit. The scale case this wins: point-ish merges
            # into large files, where CoW rewrites gigabytes to drop a
            # handful of rows; routine compaction absorbs the tombstones.
            from .deletes import exclude_existing_tombstones, write_delete_vector

            prefix = f"file:{table.root}{os.sep}"
            rel_dv, counts = None, {}
            if touched_entries:
                tpaths = [os.path.join(table.root, e.path) for e in touched_entries]
                tdf = (
                    spark.read.schema(table.schema)
                    .parquet(*tpaths)
                    .select(
                        F.col("_metadata.file_path").alias("_fp"),
                        F.col("_metadata.row_index").alias("_pos"),
                        F.col(key),
                    )
                )
                hits = tdf.join(src_keys, key, "inner").select("_fp", "_pos")
                hits = exclude_existing_tombstones(
                    spark, table, touched_entries, hits, prefix
                )
                rel_dv, counts = write_delete_vector(spark, table, hits, prefix)
            n_upserts_mor = upserts.count()
            if n_upserts_mor:
                new_entries = table.write_data_files(
                    upserts, num_files=upsert_num_files(n_upserts_mor)
                )
            if not counts and not new_entries:
                return {"status": "no-op", "strategy": "mor", "source_rows": n_src}
            snap = table.commit_delete_vectors(
                rel_dv,
                counts,
                added_entries=new_entries,
                operation="merge",
                summary={
                    "source-rows": n_src,
                    "strategy": "merge-on-read",
                    **(extra_summary or {}),
                },
                expected_dv_counts={e.path: len(e.deletes) for e in touched_entries},
                set_properties=set_properties,
            )
            return {
                "status": "committed",
                "strategy": "mor",
                "snapshot_id": snap.snapshot_id,
                "source_rows": n_src,
                "touched_files": len(counts),
                "tombstoned_rows": int(sum(counts.values())),
                "files_added": len(new_entries),
                "probe": probe_stats,
                "duration_ms": int((time.time() - t0) * 1000),
            }

        if touched_entries and n_src <= BROADCAST_THRESHOLD_ROWS:
            # Arrow per-file CoW (the common case): broadcast the source key
            # set, and each task reads ONE touched file with pyarrow, drops
            # rows whose key is in the set (upsert & delete keys both leave
            # the old file), writes the survivor file and returns stats.
            # No shuffle, no JVM row pipeline — same shape as the compact
            # rewrite, and the file-granularity CoW Iceberg uses. Survivor
            # files stay near target size (they lose only matched rows);
            # routine compaction handles any shrinkage.
            new_entries, n_surv = _rewrite_touched_arrow(
                spark, table, touched_entries, key_set=key_list, key=key
            )
            n_new_rows += n_surv
        elif touched_entries:
            # huge-source fallback: distributed anti-join (keys don't fit a
            # broadcast) + re-bin to target-size files. Tombstoned touched
            # files go through the MoR read path so deleted rows cannot
            # resurrect into the rewrite.
            t_clean = [e for e in touched_entries if not e.deletes]
            t_dirty = [e for e in touched_entries if e.deletes]
            if t_dirty:
                touched_df = table._scan_with_deletes(
                    spark, [e.path for e in t_clean], t_dirty, table.schema
                )
            else:
                touched_paths = [os.path.join(table.root, e.path) for e in touched_entries]
                touched_df = spark.read.schema(table.schema).parquet(*touched_paths)
            survivors = touched_df.join(src_keys, key, "left_anti")
            n_surv = survivors.count()
            if n_surv:
                n_files = max(
                    1,
                    -(-sum(e.size_bytes for e in touched_entries) // table.target_file_size),
                )
                new_entries = table.write_data_files(survivors, num_files=int(n_files))
            n_new_rows += n_surv

        n_upserts = upserts.count()
        if n_upserts:
            new_entries = new_entries + table.write_data_files(
                upserts, num_files=upsert_num_files(n_upserts)
            )
            n_new_rows += n_upserts

        snap = table.commit_replace(
            {e.path for e in touched_entries},
            new_entries,
            operation="merge",
            summary={
                "source-rows": n_src,
                "touched-files": len(touched_entries),
                **(extra_summary or {}),
            },
            # touched_entries are the plan-time snapshot of each file's DV
            # set (the CoW rewrite absorbed exactly those tombstones);
            # conflict if a concurrent delete grew any of them since
            expected_dv_counts={e.path: len(e.deletes) for e in touched_entries},
            set_properties=set_properties,
        )
        dur_ms = int((time.time() - t0) * 1000)
        if sys_tables:
            sys_tables.record_lineage(
                {
                    "job_id": f"merge-{table.md.table_uuid[:8]}-snap{snap.snapshot_id}",
                    "op": "merge",
                    "table_name": table_name,
                    "partition_id": "*",
                    "files_before": len(touched_entries),
                    "files_after": len(new_entries),
                    "bytes_before": sum(e.size_bytes for e in touched_entries),
                    "bytes_after": sum(e.size_bytes for e in new_entries),
                    "rows": n_new_rows,
                    "duration_ms": dur_ms,
                    "throughput_rows_s": n_new_rows / (dur_ms / 1000) if dur_ms else 0.0,
                    "throughput_bytes_s": 0.0,
                }
            )
        return {
            "status": "committed",
            "snapshot_id": snap.snapshot_id,
            "source_rows": n_src,
            "touched_files": len(touched_entries),
            "probe": probe_stats,
            "files_added": len(new_entries),
            "rows_rewritten": n_new_rows,
            "duration_ms": dur_ms,
        }
    finally:
        src.unpersist()
