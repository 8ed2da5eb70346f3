"""Metadata-scale stress: EXECUTE a compaction over ~100k real files.

The 10^12-row design point means 10^5-10^7 data files. Planning at that
scale is covered by the 50k-entry forged-manifest planner test; this tool
proves the EXECUTION path end-to-end: 100k tiny parquet files → driver
FFD plan → one Arrow rewrite job (hundreds of groups, each reading hundreds
of files) → single replace-snapshot commit → scan equivalence. Reports
where the time goes and peak driver RSS.

Usage: python tools/metadata_stress.py [n_files] [cpus] [compact|cluster|merge|merge-mor|merge-bloom]

`cluster` runs the fused single-pass rewrite (execute_cluster on the
fragmented input — bin-pack + curve-cluster in one pass) over the same
~100k-file manifest: per-task fragment batching keeps the shuffle-write
fan-out at #tasks × buckets, so metadata scale stresses the planner and
the commit, not the filesystem.

`merge` runs MERGE INTO (1% deletes + 1% upserts) against the ~100k-file
manifest. Planning reads the live entries on the driver at any size: the
commit reads every entry anyway, so keeping them off the driver while
planning would not lower peak driver RSS. Planning and upsert sizing run
no Spark job.

`merge-bloom` compacts first (the Arrow rewrite stamps per-file Bloom
filters for the merge key into the manifest) and then merges a SMALL key
sample (0.01%) — the maintained-table case where the probe must otherwise
read every file's key column because a hash layout defeats bounds
pruning; reports how many files the probe skipped without any I/O.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TMPBASE = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def main() -> int:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    op = sys.argv[3] if len(sys.argv) > 3 else "compact"

    from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, TableSpec
    from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
    from ocel_ocpn_lakehouse_spark.maintenance.cluster import execute_cluster
    from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction
    from ocel_ocpn_lakehouse_spark.session import get_spark

    wh = tempfile.mkdtemp(prefix="stress_wh_", dir=TMPBASE)
    spark = get_spark("metadata-stress", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        cat = Catalog(wh)
        t = cat.create_table(
            "stress.rows",
            spark.range(1).selectExpr("id", "cast(id as string) payload").schema,
            TableSpec(
                partition_spec=PartitionSpec.bucket("id", 8),
                properties={
                    "write.target-file-size-bytes": str(256 * 1024),
                    "compact.small-file-bytes": str(64 * 1024),
                    "write.bloom-columns": "id",
                },
            ),
        )
        t0 = time.time()
        # ~n_files tiny files: 'fragment' writes one file per (task,bucket)
        df = spark.range(n_files * 4).selectExpr("id", "repeat(cast(id as string), 40) payload")
        t.append(df, num_files=max(16, n_files // 8), distribution="fragment")
        gen_s = time.time() - t0
        files = len(t.live_entries())
        rows_before = t.scan(spark).count()

        t1 = time.time()
        if op == "cluster":
            res = execute_cluster(spark, t, SystemTables(cat.warehouse), "stress.rows")
            res.setdefault("groups", res.get("files_after", 0))
        elif op == "merge-bloom":
            from pyspark.sql import functions as F

            from ocel_ocpn_lakehouse_spark.maintenance.merge import merge_into

            # maintain first: the Arrow compaction rewrite stamps id blooms
            t1b = time.time()
            execute_compaction(spark, t, SystemTables(cat.warehouse), "stress.rows")
            t.refresh()
            compact_bloom_s = time.time() - t1b
            files_maintained = len(t.live_entries())
            # tiny key sample: the point-ish merge a CDC upsert stream makes
            n = rows_before
            src = (
                spark.range(0, n, 10000)
                .selectExpr("id", "repeat(cast(id as string), 40) payload")
                .withColumn("_op", F.lit("delete"))
            )
            res = merge_into(spark, t, src, key="id")
            res.setdefault("groups", res.get("touched_files", 0))
            res.setdefault(
                "phases",
                {
                    "compact_first_s": round(compact_bloom_s, 1),
                    "files_after_compact": files_maintained,
                    "probe": res.get("probe", {}),
                    "merge_s": res.get("duration_ms", 0) / 1000,
                },
            )
        elif op in ("merge", "merge-mor"):
            from pyspark.sql import functions as F

            from ocel_ocpn_lakehouse_spark.maintenance.merge import merge_into

            n = rows_before
            src = (
                spark.range(0, n, 100)  # 1% of keys: even hits delete, odd upsert
                .selectExpr(
                    "id",
                    "repeat(cast(id as string), 40) payload",
                )
                .withColumn(
                    "_op",
                    F.when((F.col("id") / 100 % 2) == 0, F.lit("delete")).otherwise(
                        F.lit("upsert")
                    ),
                )
            )
            res = merge_into(
                spark, t, src, key="id",
                strategy="mor" if op == "merge-mor" else None,
            )
            res.setdefault("groups", res.get("touched_files", 0))
            res.setdefault(
                "phases",
                {
                    "merge_s": res.get("duration_ms", 0) / 1000,
                    **(
                        {
                            "tombstoned_rows": res.get("tombstoned_rows", 0),
                            "files_added": res.get("files_added", 0),
                        }
                        if op == "merge-mor"
                        else {}
                    ),
                },
            )
        else:
            res = execute_compaction(spark, t, SystemTables(cat.warehouse), "stress.rows")
        compact_s = time.time() - t1
        t.refresh()
        rows_after = t.scan(spark).count()
        rss_gb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6

        if op in ("merge", "merge-mor"):
            # deletes remove their rows; upserts replace 1:1 (all keys exist)
            n_del = len([i for i in range(0, rows_before, 100) if (i // 100) % 2 == 0])
            rows_expected = rows_before - n_del
        elif op == "merge-bloom":
            rows_expected = rows_before - len(range(0, rows_before, 10000))
        else:
            rows_expected = rows_before
        out = {
            "op": op,
            "requested_files": n_files,
            "actual_files": files,
            "files_after": len(t.live_entries()),
            "groups": res["groups"],
            "rows": rows_before,
            "rows_match": rows_expected == rows_after,
            "gen_s": round(gen_s, 1),
            "compact_s": round(compact_s, 1),
            "compact_phases": res["phases"],
            "driver_maxrss_gb": round(rss_gb, 2),
            "status": res["status"],
        }
        print(json.dumps(out))
        assert out["rows_match"]
        assert op.startswith("merge") or out["files_after"] < files
        return 0
    finally:
        spark.stop()
        import shutil

        shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
