"""Incremental clustering: merge appended data into an existing
curve-sorted layout at cost ∝ delta + overlapped span — never a corpus
rewrite.

Reference parity: the reference maintenance layer re-sorts whole tables
(reference/ops/automated_maintenance_system.py schedules full rewrites),
and Iceberg's rewrite_data_files(sort) defaults to the same full scope.
At the 10^12-image design point a 0.1% daily append cannot pay a
full-table rewrite; this op is the LSM answer: appends are L0, the
clustered layout is L1, and only the L1 files whose key ranges actually
receive new keys are merged.

File classification needs NO extra state and no snapshot walking:
every cluster/rewrite output physically carries the curve key as a
``_zkey`` column (maintenance/cluster.py keeps it in the written file and
in ``stats_cols``), so its manifest entry holds ``_zkey`` lower/upper
bounds — a BASE file with a known immutable key range. DVs only remove
rows, so stamped bounds stay conservative; bin-pack compaction reads
through the table schema and therefore DROPS the column, correctly
demoting its outputs to delta (their sort is destroyed). Any live file
without the stamp — fresh appends, compacted files, pre-clustering
files — is DELTA.

Shape (one key-only delta scan, one delta rewrite, one touched-base
rewrite; zero Spark shuffles — fragments route via searchsorted against
driver-built group spans exactly like the cluster map's bucket routing):

1. PROBE: an Arrow task per delta-file batch reads ONLY the key columns,
   computes each live row's curve key, and classifies it against the
   sorted non-overlapping base intervals: inside file i → file i is
   touched; in the open gap before file g → gap g is touched. Untouched
   base files are never opened.
2. GROUPS: touched entities coalesce greedily (by target file size)
   into merge groups, but only within the segments bounded by untouched
   files — so every group's output key span lies strictly outside every
   untouched file's range, and the non-overlap invariant that makes the
   NEXT incremental pass cheap survives every pass by induction.
3. ROUTE: delta files re-read full-width; rows land in per-group staged
   fragments (attempt-unique tmp + atomic rename, the cluster map's
   discipline).
4. MERGE: one Arrow task per group reads its base file(s) (DVs
   absorbed) + its fragments, sorts by the key, splits at target file
   size, and stamps ``_zkey`` bounds + blooms — each output is itself a
   valid base file for the next pass.
5. COMMIT: commit_replace removes the touched base files + ALL delta
   files, guarded by expected DV counts and row-count equality
   (delta live + touched-base live == rows written).

Planning is driver-side over ``live_entries`` at any table size — O(#files)
interval metadata, like compaction and MERGE: the ``commit_replace`` that
ends the pass reads every live entry anyway, so planning over
``entries_df`` would not lower peak driver memory (the probe and route
passes are distributed Arrow tasks either way).

Fallbacks keep the operator total: no base stamps → full
``execute_cluster`` (first layout); a different curve than the last
cluster commit → full (stamps are curve-specific); delta above
``max_delta_frac`` of table bytes → full (touching most of the table
anyway); overlapping base intervals (foreign writer) → full.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession

from ..core import manifests as mf
from ..core.table import Table
from .checkpoint import SystemTables
from .cluster import ZKEY_COL, _curve_np, _curve_spec, execute_cluster

# above this fraction of table bytes sitting in delta, a full rewrite is
# cheaper (and restores perfect balance); below it, incremental wins
DEFAULT_MAX_DELTA_FRAC = 0.25

_FLUSH_BYTES = 256 * 1024 * 1024


def _last_cluster_curve(table: Table) -> str | None:
    for s in reversed(table.md.snapshots):
        if s.summary.get("op") == "cluster":
            return s.summary.get("curve")
    return None


def execute_cluster_incremental(
    spark: SparkSession,
    table: Table,
    sys_tables: SystemTables,
    table_name: str = "",
    curve: str = "zorder",
    key_cols: list[str] | None = None,
    job_id: str | None = None,
    max_delta_frac: float = DEFAULT_MAX_DELTA_FRAC,
) -> dict:
    t0 = time.time()
    phases: dict[str, float] = {}
    snap = table.current_snapshot()
    if snap is None:
        return {"status": "empty-table"}
    job_id = job_id or f"cluster-incr-{table.md.table_uuid[:8]}-snap{snap.snapshot_id}"

    states = sys_tables.group_states(job_id)
    if states.get("cluster-incr-all", {}).get("state") == "committed":
        return {"status": "already-committed", "job_id": job_id}

    def _full(reason: str) -> dict:
        out = execute_cluster(
            spark, table, sys_tables, table_name, curve=curve, key_cols=key_cols
        )
        out["mode"] = f"full-fallback:{reason}"
        return out

    entries = table.live_entries()
    if not entries:
        return {"status": "empty-table"}
    base = [e for e in entries if e.lower_bounds.get(ZKEY_COL) is not None]
    delta = [e for e in entries if e.lower_bounds.get(ZKEY_COL) is None]
    if not base:
        return _full("no-clustered-layout")
    last_curve = _last_cluster_curve(table)
    if last_curve is not None and last_curve != curve:
        return _full(f"curve-changed:{last_curve}->{curve}")
    if not delta:
        return {"status": "no-op", "reason": "no-delta-files", "job_id": job_id}
    total_bytes = sum(e.size_bytes for e in entries)
    delta_bytes = sum(e.size_bytes for e in delta)
    if delta_bytes > max_delta_frac * total_bytes:
        return _full(f"delta-frac:{delta_bytes / max(total_bytes, 1):.2f}")

    cspec = _curve_spec(table, curve, key_cols)
    root = table.root
    arrow_schema = mf.spark_to_arrow_schema(table.schema)
    target = table.target_file_size

    # ---- interval table: per partition, base files sorted by _zkey lo ----
    def _pkey(e) -> str:
        return json.dumps(e.partition, sort_keys=True)

    base_by_part: dict[str, list] = {}
    for e in base:
        base_by_part.setdefault(_pkey(e), []).append(e)
    intervals: dict[str, dict] = {}
    for pk, es in base_by_part.items():
        es.sort(key=lambda e: int(e.lower_bounds[ZKEY_COL]))
        los = [int(e.lower_bounds[ZKEY_COL]) for e in es]
        his = [int(e.upper_bounds[ZKEY_COL]) for e in es]
        for i in range(1, len(es)):
            if los[i] <= his[i - 1]:
                # a foreign writer broke the invariant; classification
                # would be ambiguous — restore the layout wholesale
                return _full("overlapping-base-intervals")
        intervals[pk] = {"los": los, "his": his, "entries": es}
    # partitions that exist only in delta (fresh partitions) classify
    # everything to gap 0 of an empty interval list
    for e in delta:
        intervals.setdefault(_pkey(e), {"los": [], "his": [], "entries": []})

    delta_by_part: dict[str, list] = {}
    for e in delta:
        delta_by_part.setdefault(_pkey(e), []).append(e)
    delta_live_total = sum(e.live_count for e in delta)
    if delta_live_total == 0:
        # all delta rows are tombstoned; nothing to merge (compaction owns
        # reclaiming fully-dead files)
        return {"status": "no-op", "reason": "delta-fully-deleted", "job_id": job_id}

    sys_tables.record_group(
        job_id, "cluster-incr", table_name, "*", "cluster-incr-all", "planned",
        [f"snapshot:{snap.snapshot_id}"],
        rows=delta_live_total, nbytes=delta_bytes,
    )

    span_meta = {pk: (v["los"], v["his"]) for pk, v in intervals.items()}
    key_cols_read = [c for c in cspec["inputs"] if c in table.schema.fieldNames()]

    def _delta_rows_df():
        rows = [
            (
                os.path.join(root, e.path),
                pk,
                json.dumps(
                    {"rel": e.path, "dvs": [os.path.join(root, d["path"]) for d in e.deletes]}
                )
                if e.deletes
                else "",
            )
            for pk, es in delta_by_part.items()
            for e in es
        ]
        n_slices = max(1, min(len(rows), 4 * int(spark.sparkContext.defaultParallelism)))
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, n_slices),
            "path string, pkey string, dv string",
        )

    def _classify(np, keys, los, his):
        """entity code per key: 2i+1 inside base file i, 2g for the open
        gap before base file g (g in [0..n])."""
        if not len(los):
            return np.zeros(len(keys), dtype=np.int64)
        los_a = np.asarray(los, dtype=np.int64)
        his_a = np.asarray(his, dtype=np.int64)
        pos = np.searchsorted(los_a, keys, side="right") - 1
        safe = np.maximum(pos, 0)
        infile = (pos >= 0) & (keys <= his_a[safe])
        return np.where(infile, 2 * safe + 1, 2 * (pos + 1))

    # ---- 1. PROBE: key-only delta scan → touched entities ----------------
    t_probe = time.time()

    def _probe(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa

        pa.set_cpu_count(1)
        for pdf in batches:
            agg: dict[tuple[str, int], int] = {}
            for path, pkey, dvj in zip(pdf["path"], pdf["pkey"], pdf["dv"]):
                tbl = mf.read_table_nullfill(path, arrow_schema, columns=key_cols_read)
                if dvj:
                    dv = json.loads(dvj)
                    tbl = mf.apply_delete_vectors(tbl, dv["rel"], dv["dvs"])
                if tbl.num_rows == 0:
                    continue
                keys = np.asarray(_curve_np(cspec, tbl), dtype=np.int64)
                los, his = span_meta[pkey]
                ent = _classify(np, keys, los, his)
                for e_i, n in zip(*np.unique(ent, return_counts=True)):
                    k = (pkey, int(e_i))
                    agg[k] = agg.get(k, 0) + int(n)
            yield pd.DataFrame(
                [{"pkey": pk, "entity": e_i, "rows": n} for (pk, e_i), n in agg.items()],
                columns=["pkey", "entity", "rows"],
            )

    probe_rows = _delta_rows_df().mapInPandas(
        _probe, "pkey string, entity long, rows long"
    ).collect()
    probed_total = sum(r["rows"] for r in probe_rows)
    if probed_total != delta_live_total:
        raise RuntimeError(
            f"cluster-incr probe row mismatch: {probed_total} != {delta_live_total}"
        )
    touched: dict[str, dict[int, int]] = {}
    for r in probe_rows:
        touched.setdefault(r["pkey"], {})[int(r["entity"])] = (
            touched.get(r["pkey"], {}).get(int(r["entity"]), 0) + int(r["rows"])
        )
    phases["probe"] = time.time() - t_probe

    # ---- 2. GROUPS: coalesce touched entities within segments ------------
    # entities sort by code; an UNtouched base file (odd code absent from
    # the touched set) ends the current segment — groups never span one,
    # so outputs cannot overlap untouched ranges
    avg_delta_row_bytes = delta_bytes / max(delta_live_total, 1)
    groups: list[dict] = []  # {pkey, entities:[codes], base:[entries], est_bytes, rows}
    entity2group: dict[tuple[str, int], int] = {}
    for pk, ents in sorted(touched.items()):
        base_es = intervals[pk]["entries"]
        n_files = len(base_es)
        codes = sorted(ents)
        cur: dict | None = None
        prev_file_idx = -1  # last base-file index at/before the previous code
        for code in codes:
            file_idx = code // 2 if code % 2 else code // 2 - 1
            # untouched base files strictly between the previous entity and
            # this one break the segment
            barrier = any(
                (2 * i + 1) not in ents
                for i in range(max(prev_file_idx + 1, 0), min(file_idx + 1, n_files))
                if (2 * i + 1) != code
            )
            est = ents[code] * avg_delta_row_bytes
            brows = 0
            if code % 2:  # touched base file joins its group
                e = base_es[code // 2]
                est += e.size_bytes
                brows = e.live_count
            if cur is None or barrier or cur["est_bytes"] + est > target * 2:
                cur = {"pkey": pk, "entities": [], "base": [], "est_bytes": 0.0, "rows": 0}
                groups.append(cur)
            cur["entities"].append(code)
            cur["est_bytes"] += est
            cur["rows"] += ents[code] + brows
            if code % 2:
                cur["base"].append(base_es[code // 2])
            entity2group[(pk, code)] = len(groups) - 1
            prev_file_idx = file_idx
    touched_base = [e for g in groups for e in g["base"]]
    touched_base_live = sum(e.live_count for e in touched_base)

    staging = table._stage_dir()
    shuffle_dir = os.path.join(staging, "_incr_shuffle")
    os.makedirs(shuffle_dir, exist_ok=True)
    codec = str(spark.conf.get("spark.sql.parquet.compression.codec", "snappy")).lower()
    codec = {"uncompressed": "none", "lz4raw": "lz4"}.get(codec, codec)

    # ---- 3. ROUTE: delta rows → per-group staged fragments ---------------
    t_route = time.time()

    def _route(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pa.set_cpu_count(1)
        task_part = TaskContext.get().partitionId()
        acc: dict[int, list] = {}
        acc_bytes: dict[int, int] = {}
        flush_idx: dict[int, int] = {}
        routed = 0

        def _flush(g: int):
            parts = acc.pop(g, [])
            if not parts:
                return
            frag_tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
            gdir = os.path.join(shuffle_dir, f"g{g}")
            os.makedirs(gdir, exist_ok=True)
            fi = flush_idx.get(g, 0)
            flush_idx[g] = fi + 1
            frag = os.path.join(gdir, f"t{task_part}_{fi}.parquet")
            tmp = f"{frag}.{os.getpid()}.inprogress"
            pq.write_table(frag_tbl, tmp, compression="lz4")
            os.rename(tmp, frag)
            acc_bytes[g] = 0

        for pdf in batches:
            for path, pkey, dvj in zip(pdf["path"], pdf["pkey"], pdf["dv"]):
                tbl = mf.read_table_nullfill(path, arrow_schema)
                if dvj:
                    dv = json.loads(dvj)
                    tbl = mf.apply_delete_vectors(tbl, dv["rel"], dv["dvs"])
                if tbl.num_rows == 0:
                    continue
                keys = np.asarray(_curve_np(cspec, tbl), dtype=np.int64)
                tbl = tbl.append_column(ZKEY_COL, pa.array(keys, type=pa.int64()))
                los, his = span_meta[pkey]
                ent = _classify(np, keys, los, his)
                for e_i in np.unique(ent):
                    g = entity2group[(pkey, int(e_i))]  # KeyError = probe/route drift
                    part = tbl.filter(pa.array(ent == e_i))
                    acc.setdefault(g, []).append(part)
                    acc_bytes[g] = acc_bytes.get(g, 0) + part.nbytes
                    routed += len(part)
                    if acc_bytes[g] >= _FLUSH_BYTES:
                        _flush(g)
        for g in list(acc):
            _flush(g)
        yield pd.DataFrame([{"rows": routed}], columns=["rows"])

    route_acks = _delta_rows_df().mapInPandas(_route, "rows long").collect()
    routed_total = sum(r["rows"] for r in route_acks)
    if routed_total != delta_live_total:
        raise RuntimeError(
            f"cluster-incr route row mismatch: {routed_total} != {delta_live_total}"
        )
    phases["route"] = time.time() - t_route

    # ---- 4. MERGE: per group read base + fragments, sort, split, stamp ---
    t_merge = time.time()
    stats_cols = (table.stats_columns() or set()) | {ZKEY_COL}
    bloom_cols = table.bloom_columns
    group_rows = [
        (
            gi,
            g["pkey"],
            json.dumps(
                [
                    {
                        "path": os.path.join(root, e.path),
                        "rel": e.path,
                        "dvs": [os.path.join(root, d["path"]) for d in e.deletes],
                    }
                    for e in g["base"]
                ]
            ),
            int(g["est_bytes"]),
        )
        for gi, g in enumerate(groups)
    ]
    group_df = spark.createDataFrame(
        spark.sparkContext.parallelize(group_rows, max(len(group_rows), 1)),
        "gidx int, pkey string, base string, est_bytes long",
    )

    def _merge(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        for pdf in batches:
            out = []
            for gidx, pkey, base_j, est_bytes in zip(
                pdf["gidx"], pdf["pkey"], pdf["base"], pdf["est_bytes"]
            ):
                parts = []
                for b in json.loads(base_j):
                    tbl = mf.read_table_nullfill(b["path"], arrow_schema)
                    if b["dvs"]:
                        tbl = mf.apply_delete_vectors(tbl, b["rel"], b["dvs"])
                    keys = np.asarray(_curve_np(cspec, tbl), dtype=np.int64)
                    parts.append(
                        tbl.append_column(ZKEY_COL, pa.array(keys, type=pa.int64()))
                    )
                gdir = os.path.join(shuffle_dir, f"g{gidx}")
                if os.path.isdir(gdir):
                    frags = sorted(f for f in os.listdir(gdir) if f.endswith(".parquet"))
                    if frags:
                        parts.append(
                            mf.read_tables_overlapped(
                                [os.path.join(gdir, f) for f in frags]
                            )
                        )
                tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
                tbl = tbl.sort_by([(ZKEY_COL, "ascending")])
                n_out = max(1, -(-int(est_bytes) // target))
                cuts = np.linspace(0, tbl.num_rows, n_out + 1).astype(np.int64)
                # snap interior cuts to the start of the equal-key run they
                # land in: a _zkey value straddling two output files would
                # give them touching bounds, and the NEXT pass's strict
                # non-overlap check would misread that as a foreign writer
                # and full-rewrite forever (duplicate keys are normal —
                # low-cardinality key columns hash to equal curve keys)
                if n_out > 1:
                    zk = tbl.column(ZKEY_COL).to_numpy()
                    for j in range(1, n_out):
                        c = int(cuts[j])
                        if 0 < c < len(zk):
                            cuts[j] = np.searchsorted(zk, zk[c], side="left")
                    cuts = np.maximum.accumulate(cuts)
                for j in range(n_out):
                    sl = tbl.slice(int(cuts[j]), int(cuts[j + 1] - cuts[j]))
                    if sl.num_rows == 0:
                        continue
                    dest = os.path.join(staging, f"incr_g{gidx}_{j}.parquet")
                    tmp = f"{dest}.{os.getpid()}.inprogress"
                    pq.write_table(sl, tmp, compression=codec)
                    os.rename(tmp, dest)
                    st = mf.footer_stats(dest, stats_cols)
                    out.append(
                        {
                            "gidx": int(gidx),
                            "slice": int(j),
                            "pkey": pkey,
                            "size_bytes": os.path.getsize(dest),
                            "record_count": st["record_count"],
                            "lower_bounds": json.dumps(st["lower_bounds"], default=str),
                            "upper_bounds": json.dumps(st["upper_bounds"], default=str),
                            "null_counts": json.dumps(st["null_counts"]),
                            "blooms": json.dumps(mf.build_blooms(sl, bloom_cols)),
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=["gidx", "slice", "pkey", "size_bytes", "record_count",
                         "lower_bounds", "upper_bounds", "null_counts", "blooms"],
            )

    stat_rows = group_df.mapInPandas(
        _merge,
        "gidx int, slice int, pkey string, size_bytes long, record_count long, "
        "lower_bounds string, upper_bounds string, null_counts string, blooms string",
    ).collect()
    phases["merge"] = time.time() - t_merge

    # ---- 5. publish + commit ---------------------------------------------
    t_publish = time.time()
    import shutil as _shutil
    import uuid as _uuid

    os.makedirs(table.data_dir, exist_ok=True)
    new_entries: list[mf.ManifestEntry] = []
    for r in stat_rows:
        partition = json.loads(r["pkey"])
        pdir = "/".join(f"{k}={v}" for k, v in sorted(partition.items()))
        destdir = os.path.join(table.data_dir, pdir) if pdir else table.data_dir
        os.makedirs(destdir, exist_ok=True)
        dest = os.path.join(
            destdir, f"{_uuid.uuid4().hex[:8]}-i{r['gidx']}_{r['slice']}.parquet"
        )
        os.rename(os.path.join(staging, f"incr_g{r['gidx']}_{r['slice']}.parquet"), dest)
        new_entries.append(
            mf.ManifestEntry(
                path=os.path.relpath(dest, root),
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

    rewritten = sum(e.record_count for e in new_entries)
    expected = delta_live_total + touched_base_live
    if rewritten != expected:
        raise RuntimeError(
            f"cluster-incr rewrite row-count mismatch: {rewritten} != {expected}"
        )

    removed_entries = touched_base + delta
    removed = {e.path for e in removed_entries}
    sys_tables.record_group(
        job_id, "cluster-incr", table_name, "*", "cluster-incr-all", "written",
        [f"snapshot:{snap.snapshot_id}"],
        output_files=[e.path for e in new_entries],
        rows=rewritten, nbytes=sum(e.size_bytes for e in new_entries),
    )
    t_commit = time.time()
    table.commit_replace(
        removed,
        new_entries,
        operation="replace",
        summary={"job": job_id, "op": "cluster", "mode": "incremental", "curve": curve},
        expected_dv_counts={e.path: len(e.deletes) for e in removed_entries},
    )
    phases["commit"] = time.time() - t_commit
    dur_ms = int((time.time() - t0) * 1000)
    sys_tables.record_group(
        job_id, "cluster-incr", table_name, "*", "cluster-incr-all", "committed",
        [f"snapshot:{snap.snapshot_id}"], output_files=[e.path for e in new_entries],
    )
    bytes_rewritten = sum(e.size_bytes for e in removed_entries)
    sys_tables.record_lineage(
        {
            "job_id": job_id,
            "op": "cluster-incr",
            "table_name": table_name,
            "partition_id": "*",
            "files_before": len(entries),
            "files_after": len(entries) - len(removed_entries) + len(new_entries),
            "bytes_before": bytes_rewritten,
            "bytes_after": sum(e.size_bytes for e in new_entries),
            "rows": rewritten,
            "duration_ms": dur_ms,
            "throughput_rows_s": rewritten / (dur_ms / 1000) if dur_ms else 0.0,
            "throughput_bytes_s": bytes_rewritten / (dur_ms / 1000) if dur_ms else 0.0,
        }
    )
    return {
        "status": "committed",
        "mode": "incremental",
        "job_id": job_id,
        "curve": curve,
        "groups": len(groups),
        "files_delta": len(delta),
        "files_base_touched": len(touched_base),
        "files_base_untouched": len(base) - len(touched_base),
        "files_out": len(new_entries),
        "rows": rewritten,
        "bytes_rewritten": bytes_rewritten,
        "phases": {k: round(v, 3) for k, v in phases.items()},
    }
