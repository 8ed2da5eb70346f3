"""T2 — size-tiered bin-packing compaction, EXECUTED (not simulated).

The reference stops at simulation: estimated_files_after =
total_size // 256 MB, "would require rewrite" (ops/maintenance_system.py:
115-166). Here the plan is executed as one Spark job + a driver commit:

  plan   : per-partition first-fit-decreasing of small files into bins of
           ≤ target file size (driver, manifest-only — same split as the
           reference's metadata-only planner, §3.3). Always on the driver,
           at any table size: the replace commit reads every live entry
           anyway, so a Spark-job planner would not lower peak driver
           memory (BENCH/METADATA_STRESS.md).
  execute: ONE distributed job, ZERO shuffles, O(1) driver plan. The job
           iterates over the group SPECS (tiny metadata rows); each task
           rewrites whole groups via Arrow: read the group's files with
           pyarrow, sort in memory by the table sort order, write ONE
           ≈target-size output file, return its footer stats. The same
           shape as Iceberg's binpack rewrite — N independent group-tasks
           with perfect locality — expressed as an Arrow-vectorized
           mapInPandas over metadata. The driver then publishes group-by-
           group with checkpoint rows (planned → written) and commits ONE
           replace-snapshot at the end (written → committed).
  resume : deterministic job_id = f(table uuid, snapshot); groups already
           'written' are excluded from the rewrite job, their outputs are
           reused from the checkpoint row; a fully-committed job is a
           no-op — the snapshot is never re-committed (north rule).

Scale notes: NO shuffle, NO join, NO per-group Catalyst plan. Payload
bytes move disk → Arrow → disk exactly once and never cross the JVM row
pipeline; per-file open cost is Arrow-native (a compaction of 10^5 tiny
files pays 10^5 C++ footer reads spread across the cluster, not JVM
reader setups inside few tasks). The spec DataFrame is O(#groups)
metadata rows, so a 10^5-group pass is still one job with one tiny
range-partitioned input; group memory is bounded by target_file_size (no
global sort — SURVEY §7.3 hard part 3).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..core import manifests as mf
from ..core.table import Table
from .checkpoint import SystemTables


class InjectedFailure(RuntimeError):
    """Raised by the fault-injection hook in tests (kill-resume scenario)."""


@dataclass
class FileGroup:
    group_id: str
    partition: dict
    input_paths: list[str]  # relative to table root
    input_bytes: int
    input_records: int
    # MoR absorb: rel data path → [rel DV paths] for tombstoned members;
    # the rewrite task masks those positions, so outputs are clean
    input_dvs: dict = field(default_factory=dict)


def _group_id(paths: list[str], dvs: dict | None = None) -> str:
    """Stable id of a file group = hash of member paths PLUS their delete-
    vector state. Same paths with different tombstone sets must be
    DIFFERENT groups: resume recovers 'written' outputs by group id, and an
    output written before a concurrent delete landed has not absorbed the
    new tombstones — reusing it would resurrect the deleted rows."""
    key = "\n".join(sorted(paths))
    if dvs:
        key += "\n#dv#" + json.dumps({k: sorted(v) for k, v in dvs.items()}, sort_keys=True)
    return hashlib.sha1(key.encode()).hexdigest()[:16]


def plan_compaction(
    table: Table,
    include_all: bool = False,
    min_group_files: int = 2,
) -> list[FileGroup]:
    """First-fit-decreasing bin packing of small files, per partition.

    Only files below the small-file cutoff are candidates (reference
    threshold ops/maintenance_system.py:58) unless include_all; bins cap
    at the 256 MB target (:139). Deterministic: sorted inputs → stable
    group ids, which is what makes resume after a crash find its groups.
    """
    target = table.target_file_size
    small = table.small_file_bytes
    by_partition: dict[str, list[mf.ManifestEntry]] = {}
    for e in table.live_entries():
        # tombstoned files are rewrite candidates regardless of size: the
        # rewrite absorbs their delete vectors (Iceberg rewrite_data_files
        # delete-threshold behavior)
        if include_all or e.size_bytes < small or e.deletes:
            by_partition.setdefault(json.dumps(e.partition, sort_keys=True), []).append(e)

    groups: list[FileGroup] = []
    for pkey in sorted(by_partition):
        entries = sorted(by_partition[pkey], key=lambda e: (-e.size_bytes, e.path))
        bins: list[list[mf.ManifestEntry]] = []
        bin_sizes: list[int] = []
        for e in entries:
            placed = False
            for i, sz in enumerate(bin_sizes):
                if sz + e.size_bytes <= target:
                    bins[i].append(e)
                    bin_sizes[i] += e.size_bytes
                    placed = True
                    break
            if not placed:
                bins.append([e])
                bin_sizes.append(e.size_bytes)
        for b in bins:
            dvs = {e.path: [d["path"] for d in e.deletes] for e in b if e.deletes}
            # a lone tombstoned file still needs its rewrite (absorb), even
            # though a lone clean small file would be left as-is
            if len(b) < min_group_files and not dvs:
                continue
            paths = [e.path for e in b]
            groups.append(
                FileGroup(
                    group_id=_group_id(paths, dvs),
                    partition=b[0].partition,
                    input_paths=paths,
                    input_bytes=sum(e.size_bytes for e in b),
                    input_records=sum(e.live_count for e in b),
                    input_dvs=dvs,
                )
            )
    return groups


def _norm_path_sql(col):
    # 'file:///root/x' | '/root/x' | 's3://b/k' → scheme/leading-slash-free
    return F.regexp_replace(col, r"^([a-zA-Z0-9]+:)?/+", "")


def _norm_path_py(p: str) -> str:
    import re

    return re.sub(r"^([a-zA-Z0-9]+:)?/+", "", p)


def execute_compaction(
    spark: SparkSession,
    table: Table,
    sys_tables: SystemTables,
    table_name: str = "",
    groups: list[FileGroup] | None = None,
    job_id: str | None = None,
    sort_columns: list[str] | None = None,
    test_fail_after_written: int | None = None,
) -> dict:
    """Execute a compaction plan with checkpointed, resumable commits.

    The returned dict carries a ``phases`` timing breakdown (plan/build/
    write/stats/publish/commit seconds) so scaling regressions are
    attributable to a phase, not guessed at.
    """
    t0 = time.time()
    phases: dict[str, float] = {}
    snap = table.current_snapshot()
    if snap is None:
        return {"status": "empty-table", "groups": 0}
    if groups is None:
        groups = plan_compaction(table)
    phases["plan"] = time.time() - t0
    if not groups:
        return {"status": "healthy", "groups": 0}
    job_id = job_id or f"compact-{table.md.table_uuid[:8]}-snap{snap.snapshot_id}"
    op = "compact"

    states = sys_tables.group_states(job_id)
    if states and all(s["state"] == "committed" for s in states.values()) and set(states) >= {
        g.group_id for g in groups
    }:
        return {"status": "already-committed", "job_id": job_id, "groups": len(groups)}

    done = {gid for gid, s in states.items() if s["state"] in ("written", "committed")}
    pending = [g for g in groups if g.group_id not in done]
    sys_tables.record_groups(
        job_id, op, table_name, "planned",
        [
            {
                "partition_id": json.dumps(g.partition, sort_keys=True),
                "file_group_id": g.group_id,
                "input_files": g.input_paths,
                "rows": g.input_records,
                "bytes": g.input_bytes,
            }
            for g in pending
        ],
    )

    written_entries: dict[str, list[mf.ManifestEntry]] = {}
    # recover outputs of previously-written groups from their checkpoint rows
    for gid in done:
        extra = json.loads(states[gid].get("extra") or "{}")
        written_entries[gid] = [mf.ManifestEntry.from_row(r) for r in extra.get("entries", [])]

    if pending:
        staging = table._stage_dir()
        sort_cols = sort_columns or [
            f.column for f in table.sort_order.fields if f.column in table.schema.fieldNames()
        ]
        # ONE Spark job, ZERO shuffles, O(1) driver plan. The job's input is
        # the group SPECS (tiny metadata rows), not the data: each task
        # rewrites whole groups with pyarrow — read that group's files,
        # sort by the table sort order, write ONE output file, return its
        # footer stats. Payload bytes never enter the JVM row pipeline and
        # never shuffle (disk → Arrow C++ → disk exactly once), per-file
        # open overhead is Arrow-native (matters when compacting 10^5 tiny
        # files), stats come back with the job (no second stats job), and
        # parallelism = #groups regardless of plan size. This is the
        # Arrow-vectorized-UDF form the north rule prescribes; the old
        # union-of-coalesce(1) plan was O(branches) driver work and paid
        # JVM reader setup per tiny file inside single-threaded tasks.
        t_write = time.time()
        stats_cols = table.stats_columns()
        bloom_cols = table.bloom_columns
        codec = str(spark.conf.get("spark.sql.parquet.compression.codec", "snappy")).lower()
        codec = {"uncompressed": "none", "lz4raw": "lz4"}.get(codec, codec)
        arrow_schema = mf.spark_to_arrow_schema(table.schema)
        root = table.root

        # LPT order: largest groups first so the last scheduling wave holds
        # the smallest tasks (shrinks the straggler tail when #groups is a
        # small multiple of the core count)
        by_size = sorted(pending, key=lambda g: (-g.input_bytes, g.group_id))
        spec_rows = [
            (
                i,
                g.group_id,
                [os.path.join(root, p) for p in g.input_paths],
                # abs data path → {"rel": manifest path, "dvs": [abs DV paths]}
                json.dumps(
                    {
                        os.path.join(root, p): {
                            "rel": p,
                            "dvs": [os.path.join(root, d) for d in dvl],
                        }
                        for p, dvl in g.input_dvs.items()
                    }
                ),
            )
            for i, g in enumerate(by_size)
        ]
        # parallelize(n slices) = exactly one group per task with NO extra
        # job (repartitionByRange would run a sampling sub-job + shuffle
        # inside the timed rewrite; hash would collide groups into shared
        # tasks)
        spec_df = spark.createDataFrame(
            spark.sparkContext.parallelize(spec_rows, max(len(spec_rows), 1)),
            "gidx int, group_id string, paths array<string>, dv_json string",
        )

        def _rewrite(batches):
            import time as _time

            import pandas as pd
            import pyarrow as _pa
            import pyarrow.parquet as _pq

            # one Arrow thread per worker: each task already owns one core;
            # the default per-process pool (=machine cpu count) makes 16
            # workers spawn 16x32 threads and thrash the cpuset
            _pa.set_cpu_count(1)
            _pa.set_io_thread_count(2)

            for pdf in batches:
                out = []
                for gid, paths, dvj in zip(pdf["group_id"], pdf["paths"], pdf["dv_json"]):
                    tr = _time.time()
                    dvmap = json.loads(dvj or "{}")
                    # DV-free files stream through ONE overlapped dataset
                    # scan (I/O thread prefetches file k+1 while this
                    # thread decodes k — tools/reduce_probe_scanner.py);
                    # DV-laden files keep the per-file read because
                    # positional tombstones index rows within ONE file
                    dv_free = [p for p in paths if not dvmap.get(p)]
                    parts = []
                    if dv_free:
                        parts.append(mf.read_tables_overlapped(dv_free, arrow_schema))
                    for p in paths:
                        dv = dvmap.get(p)
                        if not dv:
                            continue
                        t_ = mf.read_table_nullfill(p, arrow_schema)
                        # absorb positional deletes: output is clean
                        t_ = mf.apply_delete_vectors(t_, dv["rel"], dv["dvs"])
                        parts.append(t_)
                    tbl = parts[0] if len(parts) == 1 else _pa.concat_tables(parts)
                    ts_ = _time.time()
                    if sort_cols:
                        tbl = tbl.sort_by([(c, "ascending") for c in sort_cols])
                    tw = _time.time()
                    dest = os.path.join(staging, f"{gid}.parquet")
                    tmp = f"{dest}.{os.getpid()}.inprogress"  # attempt-unique
                    _pq.write_table(tbl, tmp, compression=codec)
                    os.rename(tmp, dest)
                    tst = _time.time()
                    st = mf.footer_stats(dest, stats_cols)
                    out.append(
                        {
                            "group_id": gid,
                            "size_bytes": os.path.getsize(dest),
                            "record_count": st["record_count"],
                            "lower_bounds": json.dumps(st["lower_bounds"], default=str),
                            "upper_bounds": json.dumps(st["upper_bounds"], default=str),
                            "null_counts": json.dumps(st["null_counts"]),
                            "blooms": json.dumps(mf.build_blooms(tbl, bloom_cols)),
                            "t_read": ts_ - tr,
                            "t_sort": tw - ts_,
                            "t_write": tst - tw,
                            "t_stats": _time.time() - tst,
                        }
                    )
                yield pd.DataFrame(out)

        job_stats = {
            r["group_id"]: r
            for r in spec_df.mapInPandas(
                _rewrite,
                "group_id string, size_bytes long, record_count long, "
                "lower_bounds string, upper_bounds string, null_counts string, "
                "blooms string, "
                "t_read double, t_sort double, t_write double, t_stats double",
            ).collect()
        }
        # summed task-side phase seconds (cross-task concurrency means these
        # exceed wall time; ratios localize where per-task time goes)
        phases["task_totals"] = {  # type: ignore[assignment]
            k: round(sum(r[k] for r in job_stats.values()), 2)
            for k in ("t_read", "t_sort", "t_write", "t_stats")
        }
        phases["write"] = time.time() - t_write
        missing = {g.group_id for g in pending} - set(job_stats)
        if missing:
            # a group without a rewrite result must fail the job, not
            # silently drop its input files from the replace commit
            raise RuntimeError(f"compaction job returned no output for groups {sorted(missing)[:5]}")
        tp = time.time()

        import uuid as _uuid

        n_written = 0
        for g in pending:
            st = job_stats.get(g.group_id)
            entries: list[mf.ManifestEntry] = []
            pdir = "/".join(f"{k}={v}" for k, v in sorted(g.partition.items()))
            destdir = os.path.join(table.data_dir, pdir) if pdir else table.data_dir
            os.makedirs(destdir, exist_ok=True)
            if st is not None:
                f_abs = os.path.join(staging, f"{g.group_id}.parquet")
                newname = f"{_uuid.uuid4().hex[:8]}-{g.group_id}.parquet"
                dest = os.path.join(destdir, newname)
                os.rename(f_abs, dest)
                rel = os.path.relpath(dest, table.root)
                entries.append(
                    mf.ManifestEntry(
                        path=rel,
                        partition=g.partition,
                        size_bytes=st["size_bytes"],
                        record_count=st["record_count"],
                        lower_bounds=json.loads(st["lower_bounds"]),
                        upper_bounds=json.loads(st["upper_bounds"]),
                        null_counts=json.loads(st["null_counts"]),
                        blooms=json.loads(st["blooms"]),
                    )
                )
            written_entries[g.group_id] = entries
            sys_tables.record_group(
                job_id, op, table_name, json.dumps(g.partition, sort_keys=True), g.group_id,
                "written", g.input_paths,
                output_files=[e.path for e in entries],
                rows=sum(e.record_count for e in entries),
                nbytes=sum(e.size_bytes for e in entries),
                extra={"entries": [e.to_row() for e in entries]},
            )
            n_written += 1
            if test_fail_after_written is not None and n_written >= test_fail_after_written:
                raise InjectedFailure(f"injected failure after {n_written} written groups")

        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        phases["publish"] = time.time() - tp

    # single replace-snapshot commit covering every group
    tc = time.time()
    removed = {p for g in groups for p in g.input_paths}
    added = [e for g in groups for e in written_entries.get(g.group_id, [])]
    # plan-time DV counts per input: the rewrite tasks absorbed exactly these
    # tombstone sets, so a concurrent delete landing after planning must
    # conflict (commit_replace raises) rather than be silently dropped
    expected_dvs = {
        p: len(g.input_dvs.get(p, [])) for g in groups for p in g.input_paths
    }
    table.commit_replace(
        removed,
        added,
        operation="replace",
        summary={"job": job_id, "op": op},
        expected_dv_counts=expected_dvs,
    )
    dur_ms = int((time.time() - t0) * 1000)
    total_rows = sum(e.record_count for e in added)
    total_bytes = sum(e.size_bytes for e in added)
    sys_tables.record_groups(
        job_id, op, table_name, "committed",
        [
            {
                "partition_id": json.dumps(g.partition, sort_keys=True),
                "file_group_id": g.group_id,
                "input_files": g.input_paths,
                "output_files": [e.path for e in written_entries.get(g.group_id, [])],
            }
            for g in groups
        ],
    )
    sys_tables.record_lineages(
        [
            {
                "job_id": job_id,
                "op": op,
                "table_name": table_name,
                "partition_id": json.dumps(g.partition, sort_keys=True),
                "files_before": len(g.input_paths),
                "files_after": len(written_entries.get(g.group_id, [])),
                "bytes_before": g.input_bytes,
                "bytes_after": sum(e.size_bytes for e in written_entries.get(g.group_id, [])),
                "rows": g.input_records,
                "duration_ms": dur_ms,
                "throughput_rows_s": (total_rows / (dur_ms / 1000)) if dur_ms else 0.0,
                "throughput_bytes_s": (total_bytes / (dur_ms / 1000)) if dur_ms else 0.0,
            }
            for g in groups
        ]
    )
    phases["commit"] = time.time() - tc
    return {
        "status": "committed",
        "job_id": job_id,
        "groups": len(groups),
        "files_removed": len(removed),
        "files_added": len(added),
        "rows": total_rows,
        "bytes": total_bytes,
        "duration_ms": dur_ms,
        "phases": {
            k: (round(v, 3) if isinstance(v, float) else v) for k, v in phases.items()
        },
    }
