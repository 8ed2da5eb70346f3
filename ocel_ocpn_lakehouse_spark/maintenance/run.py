"""T11 — maintenance orchestration CLI (the spark-submit surface).

    spark-submit --py-files ocel_ocpn_lakehouse_spark.zip \
        -m ocel_ocpn_lakehouse_spark.maintenance.run \
        --warehouse /path/wh --table ocel.images --op full

or locally: ``python -m ocel_ocpn_lakehouse_spark.maintenance.run ...``.

Flow per table (reference: ops/maintenance_system.py:231-290,364-440):
analyze (metadata-only) → plan → execute (compact / cluster / expire) →
verify (quality gate) → lineage metrics. ``--op synth`` bootstraps a
deterministic fragmented image table for demos/benchmarks.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="lakehouse-maintain")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--table", default="ocel.images")
    ap.add_argument(
        "--op",
        default="full",
        choices=[
            "health", "compact", "cluster", "cluster-incr", "rewrite", "expire",
            "quality", "full", "synth", "orphans", "delete", "rollback", "tag",
            "auto", "image-dedup", "branch", "publish", "replicate",
            "rewrite-deletes", "export", "update",
        ],
    )
    ap.add_argument(
        "--set", action="append", default=None, metavar="COL=EXPR",
        help="--op update: SET clause (repeatable), e.g. "
             "--set \"caption=regexp_replace(caption, '[0-9]+', '#')\"",
    )
    ap.add_argument(
        "--export-dir", default=None,
        help="--op export: directory for WebDataset tar shards",
    )
    ap.add_argument(
        "--batch-size", type=int, default=64,
        help="--op export: images per same-aspect-bucket training batch",
    )
    ap.add_argument(
        "--batches-per-shard", type=int, default=1,
        help="--op export: consecutive batches per tar shard (sizes tars "
             "toward the WebDataset 0.5-1 GiB convention independently of "
             "the training batch size)",
    )
    ap.add_argument(
        "--replica", default=None,
        help="target table for --op replicate (changelog-driven mirror sync)",
    )
    ap.add_argument(
        "--branch", default=None,
        help="run the op against this branch (write-audit-publish staging; "
             "created at the current head if absent). Readers of main see "
             "nothing until --op publish fast-forwards.",
    )
    ap.add_argument(
        "--min-quality", type=int, default=100,
        help="--op publish: minimum quality-gate score the branch must "
             "audit at before main fast-forwards",
    )
    ap.add_argument(
        "--keep-branch", action="store_true",
        help="--op publish: keep the branch ref after publishing",
    )
    ap.add_argument("--curve", default="zorder", choices=["zorder", "hilbert"])
    ap.add_argument(
        "--max-dist", type=int, default=6,
        help="Hamming radius over phash64 for --op image-dedup",
    )
    ap.add_argument(
        "--survivor-policy", default="resolution", choices=["resolution", "min_id"],
        help="which member of a near-dup image group survives (--op image-dedup)",
    )
    ap.add_argument(
        "--dry-run", action="store_true",
        help="--op image-dedup: plan and count losers, commit nothing",
    )
    ap.add_argument("--where", default=None, help="SQL predicate for --op delete (MoR)")
    ap.add_argument("--snapshot-id", type=int, default=None, help="target for --op rollback")
    ap.add_argument("--name", default=None, help="tag name for --op tag")
    ap.add_argument("--rows", type=int, default=5000, help="synth rows")
    ap.add_argument("--files", type=int, default=64, help="synth fragment files")
    ap.add_argument("--retention-days", type=float, default=None)
    ap.add_argument(
        "--orphan-grace-hours", type=float, default=24.0,
        help="orphan sweep keeps unreferenced files younger than this "
             "(concurrent-writer grace; 0 = sweep everything unreferenced)",
    )
    ap.add_argument("--keep-last", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--retries", type=int, default=2,
        help="replan-and-retry rewrite commits that lose a concurrency race "
             "(Iceberg commit.retry semantics; 0 = fail fast)",
    )
    args = ap.parse_args(argv)

    from ..core import Catalog, PartitionSpec, SortOrder, TableSpec
    from ..session import get_spark
    from .checkpoint import SystemTables
    from .cluster import execute_cluster
    from .compact import execute_compaction
    from .expire import expire_snapshots, retention_analysis, sweep_orphans
    from .health import analyze_table_health, maintenance_schedule
    from .quality import quality_report

    spark = get_spark("lakehouse-maintain", master=args.master)
    cat = Catalog(args.warehouse)
    sys_tables = SystemTables(cat.warehouse)
    report: dict = {"table": args.table, "op": args.op}

    if args.op == "synth":
        from ..images.synth import IMAGE_SCHEMA, synth_images_df

        if not cat.table_exists(args.table):
            cat.create_table(
                args.table,
                IMAGE_SCHEMA,
                TableSpec(
                    partition_spec=PartitionSpec.bucket("image_id", 16),
                    sort_order=SortOrder.by("phash"),
                    properties={
                        # scaled-down thresholds for local demo data
                        "write.target-file-size-bytes": str(8 * 1024 * 1024),
                        "compact.small-file-bytes": str(2 * 1024 * 1024),
                    },
                ),
            )
        t = cat.load_table(args.table)
        df = synth_images_df(spark, n_rows=args.rows)
        t.append(df, num_files=args.files, distribution="fragment")
        report["rows"] = args.rows
        report["files"] = len(t.live_entries())
        print(json.dumps(report))
        return 0

    def maintain_one(table_name: str) -> dict:
        rep: dict = {"table": table_name}
        t = cat.load_table(table_name)

        if args.op == "branch":
            name = args.name or args.branch
            if not name:
                raise SystemExit("--op branch requires --name")
            sid = t.create_branch(name, args.snapshot_id)
            rep["branch"] = {"name": name, "snapshot_id": sid}
            return rep

        if args.op == "publish":
            # write-audit-publish close: audit the BRANCH state with the
            # quality gate, then fast-forward main atomically. A failed
            # audit publishes nothing — main never saw the staged commits.
            name = args.name or args.branch
            if not name:
                raise SystemExit("--op publish requires --name (or --branch)")
            audit = quality_report(t.branch(name).scan(spark))
            rep["audit"] = audit
            if audit["score"] < args.min_quality:
                rep["published"] = False
                rep["reason"] = (
                    f"quality score {audit['score']} < {args.min_quality}"
                )
            else:
                snap = t.fast_forward(name, drop=not args.keep_branch)
                rep["published"] = True
                rep["snapshot_id"] = snap.snapshot_id
            return rep

        if args.branch is not None:
            # stage every subsequent op's commits on the branch; main's
            # readers are isolated until --op publish
            if args.branch not in t.md.branches:
                t.create_branch(args.branch)
            t = t.branch(args.branch)

        if args.op in ("health", "full"):
            h = analyze_table_health(spark, t, table_name)
            rep["health"] = h.to_dict()
            rep["schedule"] = maintenance_schedule(h.health_score)
            rep["retention"] = retention_analysis(t)

        from .retry import run_with_conflict_retry

        if args.op in ("compact", "full"):
            # groups=None → execute_compaction plans on the driver (its
            # replace commit reads every entry anyway); a lost concurrency
            # race replans from the refreshed table and retries
            rep["compaction"] = run_with_conflict_retry(
                lambda: execute_compaction(spark, t.refresh(), sys_tables, table_name),
                t, retries=args.retries,
            )
            rep["compaction_plan_groups"] = rep["compaction"].get("groups", 0)

        if args.op in ("cluster", "full"):
            rep["cluster"] = run_with_conflict_retry(
                lambda: execute_cluster(
                    spark, t.refresh(), sys_tables, table_name, curve=args.curve
                ),
                t, retries=args.retries,
            )

        if args.op == "cluster-incr":
            # LSM-style merge of appended delta into the existing curve
            # layout: cost ∝ delta + overlapped span. Falls back to a full
            # rewrite on its own when the layout is missing/stale.
            from .cluster_incremental import execute_cluster_incremental

            rep["cluster_incr"] = run_with_conflict_retry(
                lambda: execute_cluster_incremental(
                    spark, t.refresh(), sys_tables, table_name, curve=args.curve
                ),
                t, retries=args.retries,
            )

        if args.op == "rewrite":
            # fused bin-pack + cluster: the cluster rewrite already emits
            # ≈target-size files per range bucket, so running it directly
            # on fragmented input compacts AND clusters in ONE pass over
            # the bytes — at warehouse scale this halves rewrite I/O vs
            # compact-then-cluster (Iceberg's rewrite_data_files with a
            # sort strategy is the same fusion)
            rep["rewrite"] = run_with_conflict_retry(
                lambda: execute_cluster(
                    spark, t.refresh(), sys_tables, table_name, curve=args.curve
                ),
                t, retries=args.retries,
            )

        if args.op == "auto":
            # autonomous pass: the reference's scheduler decision flow
            # (ops/maintenance_system.py health thresholds → actions), but
            # keyed off the STRUCTURED health metrics and executed with the
            # conflict-retry discipline. Runs only what the table needs.
            h = analyze_table_health(spark, t, table_name)
            rep["health"] = h.to_dict()
            actions: list[str] = []
            # decide via the compaction planner, not score heuristics: it
            # emits groups only when a rewrite can actually merge >=2 files
            # or absorb tombstones, so a small-but-packed table is 'none'
            # instead of looping on an avg-size threshold. Health pre-gates
            # the probe — a table with no small-file or tombstone debt
            # skips the manifest read planning costs.
            from .compact import plan_compaction

            # tombstone debt routes by DEAD-ROW ratio: a table whose files
            # merely reference many small DV files (heavy CDC, few rows
            # actually dead) gets the cheap tombstone-side consolidation
            # below, not a payload rewrite — at 10^12 images rewriting
            # bytes to absorb a 0.1% dead fraction is the wrong trade.
            dead_ratio = h.dead_rows / max(h.total_records, 1)
            absorb = float(t.properties.get("compact.dead-row-absorb-ratio", 0.05))
            plan = []
            if h.small_files >= 2 or (h.tombstoned_files > 0 and dead_ratio >= absorb):
                plan = plan_compaction(t)
            rep["plan_groups"] = len(plan)
            needs_rewrite = bool(plan)
            if needs_rewrite:
                # cheapest sufficient rewrite first: the incremental cluster
                # merge pays ∝ delta + overlapped span and keeps untouched
                # base files in place (at 10^12 images a 0.1% append must
                # not trigger a corpus rewrite). It routes ITSELF to a full
                # rewrite when the layout is missing/stale/mostly-delta; the
                # only debt it declines is debt inside already-stamped base
                # files (tombstones, undersized stamped files) — that case
                # falls through to the full fused rewrite below.
                from .cluster_incremental import execute_cluster_incremental

                incr = run_with_conflict_retry(
                    lambda: execute_cluster_incremental(
                        spark, t.refresh(), sys_tables, table_name, curve=args.curve
                    ),
                    t, retries=args.retries,
                )
                rep["rewrite"] = incr
                if incr.get("status") == "committed":
                    actions.append(
                        "rewrite" if incr.get("mode", "").startswith("full") else
                        "rewrite-incremental"
                    )
                else:
                    rep["rewrite"] = run_with_conflict_retry(
                        lambda: execute_cluster(
                            spark, t.refresh(), sys_tables, table_name,
                            curve=args.curve
                        ),
                        t, retries=args.retries,
                    )
                    actions.append("rewrite")
            elif h.tombstoned_files > 0:
                # no data rewrite warranted, but MoR debt exists: consolidate
                # the delete-vector side only (Iceberg's
                # rewrite_position_delete_files) — scans stop opening K
                # tombstone files per data file without a single payload
                # byte moving. plan_rewrite_deletes is a driver pass over
                # the entries health already read; it yields nothing when
                # every file carries at most one DV reference.
                from .rewrite_deletes import plan_rewrite_deletes, rewrite_deletes

                if plan_rewrite_deletes(t):
                    rep["rewrite_deletes"] = run_with_conflict_retry(
                        lambda: rewrite_deletes(spark, t.refresh()),
                        t, retries=args.retries,
                    )
                    if rep["rewrite_deletes"].get("status") == "ok":
                        actions.append("rewrite-deletes")
            if h.snapshot_count > 100 or args.retention_days is not None:
                rep["expire"] = expire_snapshots(
                    spark,
                    t.refresh(),
                    sys_tables,
                    table_name,
                    retention_days=args.retention_days,
                    keep_last=args.keep_last,
                )
                actions.append("expire")
            # export freshness tick: if this table has a training-export
            # manifest, a moved head means consumers read stale shards.
            # Metadata-only detection (two property reads, no Spark job);
            # with --export-dir the stale export refreshes in-line (the
            # incremental path makes this cheap for append-only motion),
            # otherwise staleness is surfaced for an operator to act on.
            mt_name = f"{table_name}_export"
            if cat.table_exists(mt_name):
                cur = t.refresh().current_snapshot()
                props = cat.load_table(mt_name).properties
                stamp = props.get("export-source-snapshot-id")
                stale = cur is not None and stamp != str(cur.snapshot_id)
                rep["export_stale"] = stale
                if stale and args.export_dir:
                    from ..images.export import (
                        export_config_fingerprint,
                        export_webdataset_job,
                    )

                    # config guard: the auto tick only refreshes when ITS
                    # args reproduce the manifest's recorded config — a
                    # mismatch (e.g. the original export used a different
                    # batch size) would silently repack and sweep the
                    # whole directory instead of the cheap incremental
                    # refresh this tick promises. Surface it for an
                    # explicit --op export decision instead.
                    want = export_config_fingerprint(
                        args.export_dir, batch_size=args.batch_size,
                        batches_per_shard=args.batches_per_shard,
                    )
                    if props.get("export-config-fingerprint") == want:
                        rep["export"] = export_webdataset_job(
                            spark, cat, table_name, args.export_dir,
                            batch_size=args.batch_size,
                            batches_per_shard=args.batches_per_shard,
                            table=t.refresh(),
                        )
                        actions.append("export")
                    else:
                        rep["export_config_mismatch"] = True
            # closing tick of the autonomous pass: reclaim files stranded
            # by crashed two-phase writes (publish happened, commit never
            # did). The grace window keeps concurrent in-flight publishes
            # safe, so this is always safe to run; it only costs a data-dir
            # listing.
            rep["orphans"] = sweep_orphans(
                t, older_than_hours=args.orphan_grace_hours
            )
            if rep["orphans"]["orphans"]:
                actions.append("sweep")
            rep["actions"] = actions or ["none"]

        if args.op == "expire":
            rep["expire"] = expire_snapshots(
                spark,
                t,
                sys_tables,
                table_name,
                retention_days=args.retention_days,
                keep_last=args.keep_last,
            )

        if args.op == "orphans":
            rep["orphans"] = sweep_orphans(t, older_than_hours=args.orphan_grace_hours)

        if args.op == "rewrite-deletes":
            from .rewrite_deletes import rewrite_deletes

            rep["rewrite_deletes"] = run_with_conflict_retry(
                lambda: rewrite_deletes(spark, t.refresh()), t, retries=args.retries
            )

        if args.op == "delete":
            if not args.where:
                raise SystemExit("--op delete requires --where '<SQL predicate>'")
            from .deletes import delete_where

            rep["delete"] = delete_where(
                spark, t, args.where, sys_tables=sys_tables, table_name=table_name
            )

        if args.op == "update":
            if not args.where or not args.set:
                raise SystemExit("--op update requires --where and --set COL=EXPR")
            from .transform import transform_where

            exprs = {}
            for s in args.set:
                col, _, ex = s.partition("=")
                if not col or not ex:
                    raise SystemExit(f"--set must be COL=EXPR, got {s!r}")
                exprs[col.strip()] = ex
            rep["update"] = run_with_conflict_retry(
                lambda: transform_where(
                    spark, t.refresh(), args.where, exprs,
                    sys_tables=sys_tables, table_name=table_name,
                ),
                t, retries=args.retries,
            )

        if args.op == "image-dedup":
            from .image_dedup import dedup_images

            rep["image_dedup"] = run_with_conflict_retry(
                lambda: dedup_images(
                    spark,
                    t.refresh(),
                    max_dist=args.max_dist,
                    policy=args.survivor_policy,
                    dry_run=args.dry_run,
                    sys_tables=sys_tables,
                    table_name=table_name,
                ),
                t, retries=args.retries,
            )

        if args.op == "replicate":
            if not args.replica:
                raise SystemExit("--op replicate requires --replica <table>")
            from .replicate import sync_replica

            rep["replicate"] = run_with_conflict_retry(
                lambda: sync_replica(
                    spark, t.refresh(), cat, args.replica, sys_tables=sys_tables
                ),
                t, retries=args.retries,
            )

        if args.op == "export":
            if not args.export_dir:
                raise SystemExit("--op export requires --export-dir <path>")
            from ..images.export import export_webdataset_job

            rep["export"] = export_webdataset_job(
                spark, cat, table_name, args.export_dir,
                batch_size=args.batch_size,
                batches_per_shard=args.batches_per_shard,
                table=t.refresh(),  # honors --branch: export the bound head
            )

        if args.op == "rollback":
            if args.snapshot_id is None:
                raise SystemExit("--op rollback requires --snapshot-id")
            snap = t.rollback_to(args.snapshot_id)
            rep["rollback"] = {"snapshot_id": snap.snapshot_id, "summary": snap.summary}

        if args.op == "tag":
            if not args.name:
                raise SystemExit("--op tag requires --name")
            sid = t.create_tag(args.name, args.snapshot_id)
            rep["tag"] = {"name": args.name, "snapshot_id": sid}

        if args.op in ("quality", "full"):
            rep["quality"] = quality_report(t.refresh().scan(spark))
        return rep

    if args.table == "all":
        # whole-warehouse pass (the reference's scheduler maintains its 20
        # tables; here: every table of every namespace, one report each)
        import os as _os

        tables = []
        for ns in sorted(_os.listdir(cat.warehouse)):
            if ns.startswith("_") or not _os.path.isdir(_os.path.join(cat.warehouse, ns)):
                continue
            tables.extend(cat.list_tables(ns))
        report["tables"] = [maintain_one(name) for name in tables]
    else:
        report.update(maintain_one(args.table))

    print(json.dumps(report, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
