"""T6 — Z-order/Hilbert clustering rewrite, EXECUTED (not just recommended).

The reference checks sort-order drift and recommends re-clustering
(ops/advanced_partitioning.py:154-181); here the rewrite runs, as a fully
Arrow-native two-phase job (Spark is the planner/scheduler; payload bytes
never enter the JVM row pipeline):

  1. KEY SAMPLING (Arrow tasks over file specs): per-partition zkey
     quantiles from key-column-only pyarrow reads — image bytes stay out
     of the sampling pass, and no JVM per-file reader setup is paid on
     fragmented inputs (uniform-rate order statistics pooled per
     partition; bounds shape only file sizes, never row placement
     correctness). One range bucket `_zb` per ≈target-size output file.
     The curve key interleaves (phash, w, h) with a crc32(image_id)
     low-order salt suffix (north rule: "salting for phash hot-spots" —
     boundaries can fall inside a hot phash cell and spread it over
     several files).
  2. MAP (mapInPandas over FILE SPECS — metadata rows): each task reads
     its input files with pyarrow, recomputes the curve key in numpy
     (bit-identical to the Spark expressions — functions/zorder.py numpy
     mirrors, asserted by test_curve_key_numpy_parity), bins rows into
     range buckets with searchsorted, and writes parquet FRAGMENTS into
     a staging shuffle dir — one per (task × bucket), accumulated across
     the task's files with a size-bounded flush, so fragment fan-out
     stays #tasks × buckets even for 10^5 input files. This is a
     file-level shuffle write in Arrow C++ — no JVM row serialization,
     no row-based shuffle.
  3. REDUCE (mapInPandas over COMBO SPECS): each task concatenates its
     bucket's fragments, sorts by `_zkey` (kept as a real column so footer
     stats give per-file zkey min/max — the north rule's "per-file
     min/max stats rewrite"), writes ONE ≈target-size file, and returns
     footer stats with the job.
  4. replace-snapshot commit + manifest rewrite (T7) + lineage rows.

Scale notes: both jobs iterate metadata rows; parallelism = #input files
(map) and #output files (reduce) with zero hash collisions and no idle
reducers. Fragment fan-out per map task is bounded by the combos of its
own table partition (a partition of B bytes has B/target buckets); very
large single partitions should be clustered in partition-range waves, the
same granularity Iceberg's rewrite actions use. Empty range buckets are
legal (quantile estimation); lost reducer outputs are not — a row-count
guard fails the job before the replace commit could drop data.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..core import manifests as mf
from ..core.table import Table
from .checkpoint import SystemTables

ZKEY_COL = "_zkey"
_IMAGE_KEY_COLS = ("phash", "w", "h", "image_id")

# bounds path switch: exact executor-side order statistics pool one table
# partition's sample (~1k keys per output bucket) in one Arrow task; above
# this many sampled keys per partition, route to the JVM percentile_approx
# sketch so no single task holds the pool
BOUNDS_EXACT_MAX_SAMPLES = 4_000_000


def _curve_spec(table: Table, curve: str, key_cols: list[str] | None) -> dict:
    """Resolve the clustering curve to (spark expr, numpy fn inputs).

    curve: 'zorder' | 'hilbert' (image tables) | 'hash' (generic fallback,
    crc32 of stringified key columns — numpy-computable like the others).
    """
    fields = set(table.schema.fieldNames())
    if curve in ("zorder", "hilbert") and set(_IMAGE_KEY_COLS) <= fields:
        return {"kind": curve, "inputs": list(_IMAGE_KEY_COLS)}
    cols = key_cols or [f.column for f in table.sort_order.fields if f.column in fields]
    if not cols:
        cols = sorted(fields - {"bytes"})[:1]
    return {"kind": "hash", "inputs": cols}


def _curve_np(spec: dict, tbl) -> "object":
    """Compute the curve key for a pyarrow Table → np.int64 array."""
    import numpy as np

    from ..functions import zorder as Z

    if spec["kind"] in ("zorder", "hilbert"):
        phash = tbl["phash"].to_numpy(zero_copy_only=False).astype(np.int64)
        w = tbl["w"].to_numpy(zero_copy_only=False).astype(np.int64)
        h = tbl["h"].to_numpy(zero_copy_only=False).astype(np.int64)
        salt = Z.crc32_salt16_np(tbl["image_id"].to_pylist())
        fn = Z.image_zorder_key_np if spec["kind"] == "zorder" else Z.image_hilbert_key_np
        return fn(phash.astype(np.uint64), w.astype(np.uint64), h.astype(np.uint64), salt)
    arrays = [tbl[c].to_pylist() for c in spec["inputs"]]
    return Z.hash_key_np(arrays)


def execute_cluster(
    spark: SparkSession,
    table: Table,
    sys_tables: SystemTables,
    table_name: str = "",
    curve: str = "zorder",  # zorder | hilbert | hash
    key_cols: list[str] | None = None,
    job_id: str | None = None,
) -> dict:
    t0 = time.time()
    phases: dict[str, float] = {}
    snap = table.current_snapshot()
    if snap is None:
        return {"status": "empty-table"}
    job_id = job_id or f"cluster-{table.md.table_uuid[:8]}-snap{snap.snapshot_id}"

    states = sys_tables.group_states(job_id)
    if states.get("cluster-all", {}).get("state") == "committed":
        return {"status": "already-committed", "job_id": job_id}

    spec = table.partition_spec
    pcols = spec.partition_columns()
    cspec = _curve_spec(table, curve, key_cols)
    root = table.root

    # --- 0. planning: per-partition byte/record totals + the file relation.
    # 'driver' materializes the manifest entries; 'distributed' (when
    # table.plans_distributed) keeps them in entries_df — the driver sees
    # only one aggregate row per table partition plus the plan scalars, and
    # the replace_all commit never reads them either, so a 10^7-file table
    # plans and commits without manifests ever becoming driver objects.
    edf = table.entries_df(spark).select(
        "path",
        "partition",
        "size_bytes",
        "record_count",
        F.coalesce(F.col("deletes"), F.lit("[]")).alias("deletes"),
    )
    # live rows per file = record_count − positional-delete counts; the
    # rewrite absorbs DVs, so the map/reduce row guard must expect live rows
    _live_expr = F.expr(
        "record_count - coalesce(aggregate("
        "from_json(deletes, 'array<struct<path:string,count:bigint>>'), "
        "0L, (a, x) -> a + x.count), 0L)"
    )
    planning = "distributed" if table.plans_distributed(snap.manifests) else "driver"
    removed: set[str] | None
    if planning == "driver":
        entries = table.live_entries()
        if not entries:
            return {"status": "empty-table"}
        n_files = len(entries)
        part_agg: dict[str, tuple[int, int]] = {}
        part_files: dict[str, int] = {}
        for e in entries:
            k = json.dumps(e.partition, sort_keys=True)
            b, r = part_agg.get(k, (0, 0))
            part_agg[k] = (b + e.size_bytes, r + e.live_count)
            part_files[k] = part_files.get(k, 0) + 1
        input_ref = [e.path for e in entries]
        removed = {e.path for e in entries}
        # DV counts at plan time — the rewrite absorbs exactly these
        # tombstones; commit_replace conflicts if a concurrent delete
        # lands on an input file after this point
        expected_dvs: dict[str, int] | None = {e.path: len(e.deletes) for e in entries}
    else:
        agg_rows = (
            edf.groupBy("partition")
            .agg(
                F.sum("size_bytes").alias("b"),
                F.sum(_live_expr).alias("r"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        if not agg_rows:
            return {"status": "empty-table"}
        n_files = sum(r["n"] for r in agg_rows)
        part_agg = {r["partition"]: (int(r["b"]), int(r["r"])) for r in agg_rows}
        part_files = {r["partition"]: int(r["n"]) for r in agg_rows}
        # checkpoint rows reference the snapshot instead of materializing
        # 10^7 input paths on the driver; expiry/lineage resolve it lazily
        input_ref = [f"snapshot:{snap.snapshot_id}"]
        removed = None
        expected_dvs = None  # replace_all's snapshot pin subsumes the DV check
    total_bytes = sum(b for b, _ in part_agg.values())
    total_records = sum(r for _, r in part_agg.values())

    sys_tables.record_group(
        job_id, "cluster", table_name, "*", "cluster-all", "planned",
        input_ref, rows=total_records, nbytes=total_bytes,
    )

    part_bytes = {k: b for k, (b, _) in part_agg.items()}
    n_sub = {k: max(1, -(-b // table.target_file_size)) for k, b in part_bytes.items()}
    max_sub = max(n_sub.values())

    staging = table._stage_dir()
    shuffle_dir = os.path.join(staging, "_shuffle")
    os.makedirs(shuffle_dir, exist_ok=True)
    codec = str(spark.conf.get("spark.sql.parquet.compression.codec", "snappy")).lower()
    codec = {"uncompressed": "none", "lz4raw": "lz4"}.get(codec, codec)
    arrow_schema = mf.spark_to_arrow_schema(table.schema)

    # cap slices so a 10^5-tiny-file map still batches files per task
    n_map = max(1, min(n_files, max(4 * int(spark.sparkContext.defaultParallelism), 64)))
    if planning == "driver":
        # parallelize = exact task assignment, no sampling/shuffle sub-job
        file_rows = [
            (
                os.path.join(root, e.path),
                json.dumps(e.partition, sort_keys=True),
                json.dumps(
                    {"rel": e.path, "dvs": [os.path.join(root, d["path"]) for d in e.deletes]}
                )
                if e.deletes
                else "",
            )
            for e in entries
        ]
        files_df = spark.createDataFrame(
            spark.sparkContext.parallelize(file_rows, n_map),
            "path string, pkey string, dv string",
        )
    else:
        # one metadata-row shuffle; payload bytes are untouched. The dv
        # column carries {"rel", "dvs": [abs DV paths]} for tombstoned files
        # ("" for clean ones) so rewrite tasks can absorb deletes.
        dv_col = F.when(F.col("deletes") == "[]", F.lit("")).otherwise(
            F.to_json(
                F.struct(
                    F.col("path").alias("rel"),
                    F.expr(
                        "transform(from_json(deletes, "
                        "'array<struct<path:string,count:bigint>>'), "
                        f"x -> concat('{root + os.sep}', x.path))"
                    ).alias("dvs"),
                )
            )
        )
        files_df = (
            edf.select(
                F.concat(F.lit(root + os.sep), F.col("path")).alias("path"),
                F.col("partition").alias("pkey"),
                dv_col.alias("dv"),
            ).repartition(n_map)
        )

    # --- 1. quantile boundaries from Arrow key sampling --------------------
    # repartitionByRange would sample the full-width shuffle input — on an
    # image table that is a second complete read of every payload byte. A
    # JVM key-only scan avoids the bytes but pays per-file reader setup
    # (~50 ms/file — minutes at 10^4 fragmented inputs). Instead the same
    # Arrow tasks that will rewrite the files sample the curve key: each
    # reads only the key columns, sorts, returns every step-th order
    # statistic at a globally uniform rate; pooled per table-partition,
    # that yields unbiased quantiles. Bounds only shape file sizes — row
    # placement uses searchsorted against whatever bounds all tasks share,
    # and the row-count guard gates the commit — so sampling error cannot
    # cost correctness, only balance.
    t_bounds = time.time()
    bounds_by_pkey: dict[str, list[int]] = {k: [] for k in n_sub}
    if max_sub > 1:
        key_cols_read = [c for c in cspec["inputs"] if c in table.schema.fieldNames()]
        # pooled sample target: ~1k keys per output bucket bounds the
        # relative file-size error at ~3% regardless of table size; rows
        # are subsampled (evenly spaced, deterministic) BEFORE the curve
        # key is computed, so sampling cost shrinks with the rate instead
        # of paying the full-table key computation
        target = max(50_000, 1_000 * sum(n_sub.values()))

        def _sample_keys(batches):
            import numpy as np
            import pandas as pd
            import pyarrow as pa

            pa.set_cpu_count(1)

            for pdf in batches:
                out_pk, out_k = [], []
                for path, pkey, dvj in zip(pdf["path"], pdf["pkey"], pdf["dv"]):
                    tbl = mf.read_table_nullfill(path, arrow_schema, columns=key_cols_read)
                    if dvj:  # sample live rows only (positions index full file)
                        dv = json.loads(dvj)
                        tbl = mf.apply_delete_vectors(tbl, dv["rel"], dv["dvs"])
                    n = tbl.num_rows
                    if n == 0:
                        continue
                    k = max(16, min(n, -(-n * target // max(total_records, 1))))
                    idx = np.linspace(0, n - 1, num=int(k)).astype(np.int64)
                    zkey = _curve_np(cspec, tbl.take(pa.array(idx)))
                    out_pk.extend([pkey] * len(zkey))
                    out_k.extend(int(v) for v in zkey)
                yield pd.DataFrame({"pkey": out_pk, "k": out_k})

        # pool + order-statistics EXECUTOR-side (applyInPandas per table
        # partition): the driver receives only the nb−1 bounds per
        # partition — O(#output files) rows — never the raw sampled keys
        # (at the 10^12-row design point those are 10^9+ longs). The
        # statistic is the same ks[i·len/nb] as ever, so bounds are
        # bit-identical to the driver-pooled implementation.
        nb_map = {k: int(v) for k, v in n_sub.items() if int(v) > 1}

        def _bounds_of_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
            import numpy as np
            import pandas as pd

            pk = pdf["pkey"].iloc[0]
            nb = nb_map.get(pk, 1)
            if nb <= 1 or not len(pdf):
                return pd.DataFrame({"pkey": pd.Series(dtype=object),
                                     "i": pd.Series(dtype="int64"),
                                     "bound": pd.Series(dtype="int64")})
            ks = np.sort(pdf["k"].to_numpy())
            idxs = [min(len(ks) - 1, (i * len(ks)) // nb) for i in range(1, nb)]
            return pd.DataFrame(
                {"pkey": pk, "i": np.arange(1, nb, dtype="int64"),
                 "bound": ks[idxs].astype("int64")}
            )

        sample_df = files_df.mapInPandas(_sample_keys, "pkey string, k long")
        # actual per-partition pool size, not the nominal rate: _sample_keys
        # floors at 16 keys PER FILE, so a heavily fragmented partition
        # pools 16×#files even when 1000×nb is small — both terms must
        # clear the cap or the exact path would concentrate the blowup in
        # one applyInPandas task
        est_pool = max(
            (
                max(1_000 * nb, 16 * part_files.get(pk, 0))
                for pk, nb in nb_map.items()
            ),
            default=0,
        )
        if est_pool > BOUNDS_EXACT_MAX_SAMPLES:
            # a single table partition's sample would concentrate in ONE
            # applyInPandas task (pandas sort of 10^8+ longs) — switch to
            # the JVM t-digest sketch: fixed quantile grid per partition,
            # bounded memory at every stage, driver slices the grid to the
            # nb−1 bounds. Sketch error shifts file-size balance only —
            # row placement searchsorts against whatever bounds all tasks
            # share, and the row-count guard still gates the commit.
            grid_n = min(10_000, 2 * max(nb_map.values()))
            grid = [i / grid_n for i in range(1, grid_n)]
            rows = (
                sample_df.groupBy("pkey")
                .agg(F.percentile_approx("k", grid, 10_000).alias("qs"))
                .collect()
            )
            for r in rows:
                nb = nb_map.get(r["pkey"], 1)
                qs = r["qs"]
                if nb > 1 and qs:
                    bounds_by_pkey[r["pkey"]] = [
                        int(qs[min(len(qs) - 1, max(0, (i * grid_n) // nb - 1))])
                        for i in range(1, nb)
                    ]
        else:
            bound_rows = (
                sample_df.groupBy("pkey")
                .applyInPandas(_bounds_of_group, "pkey string, i long, bound long")
                .collect()
            )
            by_pk: dict[str, list[tuple[int, int]]] = {}
            for r in bound_rows:
                by_pk.setdefault(r["pkey"], []).append((int(r["i"]), int(r["bound"])))
            for pk, pairs in by_pk.items():
                bounds_by_pkey[pk] = [b for _, b in sorted(pairs)]
    phases["bounds"] = time.time() - t_bounds

    # combo = (partition, range bucket) → dense index; combos are metadata
    combos: list[tuple[str, int]] = [
        (pk, zb_i) for pk in sorted(n_sub) for zb_i in range(n_sub[pk])
    ]
    combo_index: dict[tuple[str, int], int] = {c: i for i, c in enumerate(combos)}

    # --- 2. MAP: Arrow file-level shuffle write ---------------------------
    t_map = time.time()

    # flush a bucket's accumulated slices once they exceed this (bounds
    # task memory on huge partitions; deterministic across task retries
    # because the file order within a Spark partition is deterministic)
    flush_bytes = 256 * 1024 * 1024

    def _map_shuffle(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pa.set_cpu_count(1)  # one Arrow thread per one-core task
        task_part = TaskContext.get().partitionId()
        # accumulate per combo across ALL of this task's files, so fragment
        # count is #tasks × buckets, not #files × buckets (a 10^5-file map
        # would otherwise write 10^5 × buckets tiny fragments)
        acc: dict[int, list] = {}
        acc_bytes: dict[int, int] = {}
        flush_idx: dict[int, int] = {}
        counts: dict[int, int] = {}
        timing = {"t_read": 0.0, "t_write": 0.0}

        def _flush(cidx: int):
            import time as _time

            parts = acc.pop(cidx, [])
            if not parts:
                return
            tw = _time.time()
            frag_tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
            cdir = os.path.join(shuffle_dir, f"c{cidx}")
            os.makedirs(cdir, exist_ok=True)
            fi = flush_idx.get(cidx, 0)
            flush_idx[cidx] = fi + 1
            frag = os.path.join(cdir, f"t{task_part}_{fi}.parquet")
            # attempt-unique tmp + atomic rename: a dead/speculative task
            # attempt can never leave a partial file under the final name
            # or race another attempt's tmp
            tmp = f"{frag}.{os.getpid()}.inprogress"
            # fragments are intermediate: cheapest codec wins
            pq.write_table(frag_tbl, tmp, compression="lz4")
            os.rename(tmp, frag)
            acc_bytes[cidx] = 0
            timing["t_write"] += _time.time() - tw

        import time as _time

        for pdf in batches:
            for path, pkey, dvj in zip(pdf["path"], pdf["pkey"], pdf["dv"]):
                tr = _time.time()
                tbl = mf.read_table_nullfill(path, arrow_schema)
                if dvj:  # absorb positional deletes: rewritten layout is clean
                    dv = json.loads(dvj)
                    tbl = mf.apply_delete_vectors(tbl, dv["rel"], dv["dvs"])
                timing["t_read"] += _time.time() - tr
                zkey = _curve_np(cspec, tbl)
                tbl = tbl.append_column(ZKEY_COL, pa.array(zkey, type=pa.int64()))
                bounds = np.asarray(bounds_by_pkey.get(pkey, []), dtype=np.int64)
                zb = (
                    np.searchsorted(bounds, zkey, side="right")
                    if len(bounds)
                    else np.zeros(len(zkey), dtype=np.int64)
                )
                for zb_i in np.unique(zb):
                    cidx = combo_index[(pkey, int(zb_i))]
                    part = tbl.filter(pa.array(zb == zb_i))
                    acc.setdefault(cidx, []).append(part)
                    counts[cidx] = counts.get(cidx, 0) + len(part)
                    acc_bytes[cidx] = acc_bytes.get(cidx, 0) + part.nbytes
                    if acc_bytes[cidx] >= flush_bytes:
                        _flush(cidx)
        for cidx in list(acc):
            _flush(cidx)
        rows_out = [
            {"cidx": c, "rows": n, "t_read": 0.0, "t_write": 0.0}
            for c, n in counts.items()
        ]
        # task-level timings ride on one row per task (summed driver-side)
        if rows_out:
            rows_out[0]["t_read"] = timing["t_read"]
            rows_out[0]["t_write"] = timing["t_write"]
        yield pd.DataFrame(rows_out, columns=["cidx", "rows", "t_read", "t_write"])

    map_acks = files_df.mapInPandas(
        _map_shuffle, "cidx int, rows long, t_read double, t_write double"
    ).collect()
    mapped_rows = sum(r["rows"] for r in map_acks)
    if mapped_rows != total_records:
        raise RuntimeError(f"cluster map row mismatch: {mapped_rows} != {total_records}")
    phases["map"] = time.time() - t_map
    phases["map_task_totals"] = {  # type: ignore[assignment]
        "t_read": round(sum(r["t_read"] for r in map_acks), 2),
        "t_write": round(sum(r["t_write"] for r in map_acks), 2),
    }

    # --- 3. REDUCE: concat + sort + one file per combo --------------------
    t_reduce = time.time()
    stats_cols = (table.stats_columns() or set()) | {ZKEY_COL}
    bloom_cols = table.bloom_columns
    live_combos = sorted({r["cidx"] for r in map_acks})
    combo_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(c,) for c in live_combos], max(len(live_combos), 1)),
        "cidx int",
    )

    def _reduce_write(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        pa.set_cpu_count(1)  # one Arrow thread per one-core task
        pa.set_io_thread_count(1)  # one prefetch thread feeds the scanner

        import time as _time

        for pdf in batches:
            out = []
            for cidx in pdf["cidx"]:
                tr = _time.time()
                cdir = os.path.join(shuffle_dir, f"c{cidx}")
                # only committed fragments — a crashed attempt's .inprogress
                # must never be ingested. Overlapped scanner read: the I/O
                # thread prefetches fragment k+1 while this thread decodes
                # k (3.7x lower read task-time than a read_table loop;
                # tools/reduce_probe_scanner.py)
                frags = sorted(f for f in os.listdir(cdir) if f.endswith(".parquet"))
                tbl = mf.read_tables_overlapped([os.path.join(cdir, f) for f in frags])
                ts_ = _time.time()
                tbl = tbl.sort_by([(ZKEY_COL, "ascending")])
                tw = _time.time()
                dest = os.path.join(staging, f"c{cidx}.parquet")
                tmp = f"{dest}.{os.getpid()}.inprogress"  # attempt-unique
                pq.write_table(tbl, tmp, compression=codec)
                os.rename(tmp, dest)
                st = mf.footer_stats(dest, stats_cols)
                out.append(
                    {
                        "cidx": int(cidx),
                        "size_bytes": os.path.getsize(dest),
                        "record_count": st["record_count"],
                        "lower_bounds": json.dumps(st["lower_bounds"], default=str),
                        "upper_bounds": json.dumps(st["upper_bounds"], default=str),
                        "null_counts": json.dumps(st["null_counts"]),
                        "blooms": json.dumps(mf.build_blooms(tbl, bloom_cols)),
                        "t_read": ts_ - tr,
                        "t_sort": tw - ts_,
                        "t_write": _time.time() - tw,
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["cidx", "size_bytes", "record_count", "lower_bounds",
                         "upper_bounds", "null_counts", "blooms",
                         "t_read", "t_sort", "t_write"],
            )

    stat_rows = combo_df.mapInPandas(
        _reduce_write,
        "cidx int, size_bytes long, record_count long, "
        "lower_bounds string, upper_bounds string, null_counts string, blooms string, "
        "t_read double, t_sort double, t_write double",
    ).collect()
    phases["reduce"] = time.time() - t_reduce
    phases["reduce_task_totals"] = {  # type: ignore[assignment]
        k: round(sum(r[k] for r in stat_rows), 2) for k in ("t_read", "t_sort", "t_write")
    }

    # --- 4. publish + commit ----------------------------------------------
    t_publish = time.time()
    import shutil as _shutil
    import uuid as _uuid

    os.makedirs(table.data_dir, exist_ok=True)
    new_entries: list[mf.ManifestEntry] = []
    for r in stat_rows:
        pk, _zb_i = combos[r["cidx"]]
        partition = json.loads(pk)
        pdir = "/".join(f"{k}={v}" for k, v in sorted(partition.items()))
        destdir = os.path.join(table.data_dir, pdir) if pdir else table.data_dir
        os.makedirs(destdir, exist_ok=True)
        dest = os.path.join(destdir, f"{_uuid.uuid4().hex[:8]}-c{r['cidx']}.parquet")
        os.rename(os.path.join(staging, f"c{r['cidx']}.parquet"), dest)
        new_entries.append(
            mf.ManifestEntry(
                path=os.path.relpath(dest, table.root),
                partition=partition,
                size_bytes=r["size_bytes"],
                record_count=r["record_count"],
                lower_bounds=json.loads(r["lower_bounds"]),
                upper_bounds=json.loads(r["upper_bounds"]),
                null_counts=json.loads(r["null_counts"]),
                blooms=json.loads(r["blooms"]),
            )
        )
    _shutil.rmtree(staging, ignore_errors=True)
    phases["publish"] = time.time() - t_publish

    sys_tables.record_group(
        job_id, "cluster", table_name, "*", "cluster-all", "written",
        input_ref, output_files=[e.path for e in new_entries],
        rows=sum(e.record_count for e in new_entries),
        nbytes=sum(e.size_bytes for e in new_entries),
    )

    rewritten_rows = sum(e.record_count for e in new_entries)
    if rewritten_rows != total_records:
        # a lost reducer output must fail the job before the replace commit
        # removes its input files (empty range buckets are fine; missing
        # rows are not)
        raise RuntimeError(
            f"cluster rewrite row-count mismatch: {rewritten_rows} != {total_records}"
        )
    t_commit = time.time()
    summary = {"job": job_id, "op": "cluster", "curve": curve}
    if removed is not None:
        table.commit_replace(
            removed, new_entries, operation="replace", summary=summary,
            expected_dv_counts=expected_dvs,
        )
    else:
        # whole-table rewrite without a driver-side removed set; fails if
        # the table moved past the planned snapshot (see commit_replace)
        table.commit_replace(
            set(), new_entries, operation="replace", summary=summary,
            replace_all=True, expected_snapshot_id=snap.snapshot_id,
        )
    phases["commit"] = time.time() - t_commit
    dur_ms = int((time.time() - t0) * 1000)
    sys_tables.record_group(
        job_id, "cluster", table_name, "*", "cluster-all", "committed",
        input_ref, output_files=[e.path for e in new_entries],
    )
    sys_tables.record_lineage(
        {
            "job_id": job_id,
            "op": "cluster",
            "table_name": table_name,
            "partition_id": "*",
            "files_before": n_files,
            "files_after": len(new_entries),
            "bytes_before": total_bytes,
            "bytes_after": sum(e.size_bytes for e in new_entries),
            "rows": total_records,
            "duration_ms": dur_ms,
            "throughput_rows_s": total_records / (dur_ms / 1000) if dur_ms else 0.0,
            "throughput_bytes_s": total_bytes / (dur_ms / 1000) if dur_ms else 0.0,
        }
    )
    return {
        "status": "committed",
        "job_id": job_id,
        "curve": curve,
        "planning": planning,
        "files_before": n_files,
        "files_after": len(new_entries),
        "rows": total_records,
        "bytes": total_bytes,
        "duration_ms": dur_ms,
        "phases": {k: (round(v, 3) if isinstance(v, float) else v) for k, v in phases.items()},
    }
