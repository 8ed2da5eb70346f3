"""End-to-end and per-layer metrics from a run's op records and spans."""

from __future__ import annotations

import statistics

from .harness import OpRecord
from .trace import LAYER_SPANS, Tracer

# units of the metrics printed with --trace 0 (BENCHMARK.json end_to_end)
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "work_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}

# op kinds that rewrite or reorganise the table
MAINTENANCE = ("compact", "cluster", "expire", "sweep", "rewrite_manifests",
               "cluster_incremental", "rewrite_deletes")


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the highest percentile that still
    has at least ten samples above it; the maximum when there are ten or
    fewer samples."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0, n
    k = n - 11  # v[k+1:] holds exactly ten samples
    return v[k], 100.0 * (k + 1) / n, n


def _rate(recs: list[OpRecord]) -> float:
    s = sum(r.seconds for r in recs)
    return sum(r.images for r in recs) / s if s else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of the given processes."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except FileNotFoundError:
            continue
    return kb / 1024.0


def end_to_end(records: list[OpRecord], foreground: str, setup_s: list[float],
               space_amp: float, rss_mb: float) -> dict[str, float]:
    timed = [r for r in records if r.timed]
    fg = [r.seconds for r in timed if r.kind == foreground]
    user = sum(r.user_bytes for r in records)
    return {
        "setup_s": statistics.median(setup_s),
        "op_p50_s": statistics.median(fg),
        "op_tail_s": tail(fg)[0],
        "work_s": sum(r.seconds for r in timed),
        "write_amp": sum(r.data_bytes + r.dv_bytes + r.meta_bytes for r in records) / user,
        "space_amp": space_amp,
        "peak_rss_mb": rss_mb,
    }


def op_report(records: list[OpRecord]) -> list[tuple[str, float, str, str]]:
    """The per-op-class figures a user sees, for the op classes the workload
    ran: (name, value, unit, note)."""
    timed = [r for r in records if r.timed]
    by = {}
    for r in timed:
        by.setdefault(r.kind, []).append(r)
    out = []

    def latency(name: str, kind: str) -> None:
        if kind in by:
            secs = [r.seconds for r in by[kind]]
            v, pct, n = tail(secs)
            out.append((f"{name}_p50_s", statistics.median(secs), "s", f"n={n}"))
            out.append((f"{name}_tail_s", v, "s", f"p{pct:.0f} n={n}"))

    def rate(name: str, kinds: tuple, unit: str) -> None:
        recs = [r for k in kinds for r in by.get(k, [])]
        if recs:
            out.append((name, _rate(recs), unit, f"ops={len(recs)}"))

    rate("ingest_images_per_s", ("append",), "images/s")
    latency("append", "append")
    rate("maintain_images_per_s", MAINTENANCE, "images/s")
    rate("mutate_rows_per_s", ("merge", "delete"), "rows/s")
    latency("lookup", "lookup")
    rate("scan_images_per_s", ("scan",), "images/s")
    if "neardup" in by:
        out.append(("neardup_p50_s", statistics.median(r.seconds for r in by["neardup"]), "s",
                    f"n={len(by['neardup'])}"))
    rate("export_images_per_s", ("export",), "images/s")
    failed = sum(not r.ok for r in records)
    out.append(("error_rate", failed / len(records), "failed/attempted",
                f"{failed}/{len(records)}"))
    return out


def _sum(recs, key, sub=None) -> float:
    total = 0.0
    for r in recs:
        v = r.result.get(key, 0) if sub is None else r.result.get(sub, {}).get(key, 0)
        total += float(v or 0)
    return total


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def per_layer(records: list[OpRecord], tracer: Tracer, timed_wall_s: float) -> dict[str, tuple]:
    """Every per-layer metric, 0 where the workload does not reach the layer."""
    timed = [r for r in records if r.timed]
    kind = {k: [r for r in timed if r.kind == k] for k in {r.kind for r in timed}}
    S = tracer.samples
    med = tracer.median_s
    m: dict[str, tuple] = {
        "table.write_data_files_s": (med("table.write_data_files"), "s"),
        "table.commit_s": (med("table.commit"), "s"),
        "table.files_per_commit": (_mean(S["table.files_per_commit"]), "files"),
        "manifests.collect_stats_s": (med("manifests.collect_stats"), "s"),
        "manifests.read_s": (med("manifests.read"), "s"),
        "manifests.entries_read": (_mean(S["manifests.entries_read"]), "entries"),
        "manifests.count": (_mean(S["manifests.count"]), "manifests"),
        "metadata.commit_s": (med("metadata.commit"), "s"),
        "metadata.load_s": (med("metadata.load"), "s"),
        "metadata.json_bytes": (_mean([r.json_bytes for r in timed if r.json_bytes]), "bytes"),
        "metadata.conflict_retries": (float(len(S["metadata.conflict_retries"])), "count"),
        "scan.plan_s": (med("scan.plan"), "s"),
        "scan.exec_s": (med("scan.exec"), "s"),
        "scan.files_planned": (_mean(S["scan.files_planned"]), "files"),
        "scan.files_live": (_mean(S["scan.files_live"]), "files"),
        "scan.prune_ratio": (_ratio(sum(S["scan.files_planned"]), sum(S["scan.files_live"])),
                             "ratio"),
        "scan.dv_files": (_mean(S["scan.dv_files"]), "files"),
        "compact.s": (med("compact"), "s"),
        "compact.bytes_rewritten": (float(sum(r.data_bytes for r in kind.get("compact", []))),
                                    "bytes"),
        "compact.files_after": (_sum(kind.get("compact", []), "files_after"), "files"),
        "cluster.bounds_s": (_sum(kind.get("cluster", []), "bounds", "phases"), "s"),
        "cluster.map_s": (_sum(kind.get("cluster", []), "map", "phases"), "s"),
        "cluster.reduce_s": (_sum(kind.get("cluster", []), "reduce", "phases"), "s"),
        "cluster_incr.bytes_rewritten_frac": (
            _ratio(sum(r.data_bytes for r in kind.get("cluster_incremental", [])),
                   _sum(kind.get("cluster_incremental", []), "live_bytes_before")), "ratio"),
        "merge.s": (med("merge"), "s"),
        "merge.probe_files_read": (_sum(kind.get("merge", []), "files_read", "probe"), "files"),
        "merge.skipped_by_bounds": (_sum(kind.get("merge", []), "skipped_by_bounds", "probe"),
                                    "files"),
        "merge.skipped_by_bloom": (_sum(kind.get("merge", []), "skipped_by_bloom", "probe"),
                                   "files"),
        "merge.rows_rewritten_per_source_row": (
            _ratio(_sum(kind.get("merge", []), "rows_rewritten"),
                   _sum(kind.get("merge", []), "source_rows")), "ratio"),
        "deletes.s": (med("deletes"), "s"),
        "deletes.tombstoned_per_candidate_file": (
            _ratio(_sum(kind.get("delete", []), "tombstoned_files"),
                   _sum(kind.get("delete", []), "candidate_files")), "ratio"),
        "rewrite_deletes.s": (med("rewrite_deletes"), "s"),
        "expire.s": (med("expire"), "s"),
        "expire.deleted_files": (_sum(kind.get("expire", []), "deleted_files"), "files"),
        "sweep.orphans": (_sum(kind.get("sweep", []), "orphans"), "files"),
        "hamming.probe_s": (med("hamming.probe"), "s"),
        "hamming.files_scanned_frac": (
            _ratio(_sum(kind.get("neardup", []), "files_scanned"),
                   _sum(kind.get("neardup", []), "files_total")), "ratio"),
        "export.s": (med("export"), "s"),
        "export.shards": (_sum(kind.get("export", []), "exported"), "shards"),
        "spark.jobs": (float(sum(r.jobs for r in timed)), "count"),
        "spark.stages": (float(sum(r.stages for r in timed)), "count"),
        "spark.tasks": (float(sum(r.tasks for r in timed)), "count"),
        "spark.failed_tasks": (float(sum(r.failed_tasks for r in timed)), "count"),
    }
    self_s = tracer.self_times()
    for name in LAYER_SPANS:
        m[f"self.{name}_s"] = (self_s.get(name, 0.0), "s")
    m["self.client_s"] = (sum(v for k, v in self_s.items() if k.startswith("op.")), "s")
    m["trace.work_s"] = (timed_wall_s, "s")
    m["trace.overhead_s"] = (tracer.overhead_s, "s")
    m["trace.overhead_frac"] = (_ratio(tracer.overhead_s, timed_wall_s), "ratio")
    return m


def names_per_layer() -> list[str]:
    """The per-layer metric names in print order (an empty run's keys)."""
    return list(per_layer([], Tracer(enabled=True), 1.0))
