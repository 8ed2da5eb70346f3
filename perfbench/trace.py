"""Spans around the engine's layer calls, for the traced run.

With tracing on, :meth:`Tracer.install` wraps the public functions listed in
``LAYER_CALLS`` (and the scan planner's per-file pruning verdict) with
span-recording wrappers, from this file only — no engine code changes. A
span records its name, start, end, parent span and op id; spans stay in
memory and are summarised when the run ends. A layer's self time is its
span's duration minus the time its child spans cover.

With tracing off nothing is wrapped and :meth:`Tracer.span` is a no-op.
"""

from __future__ import annotations

import functools
import importlib
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_PKG = "ocel_ocpn_lakehouse_spark"

# (module, attribute, span name). Workloads call these through their module
# attribute so the wrapper is seen; calls inside the engine that go through a
# module attribute (``mf.read_manifests``, ``meta.commit_metadata``) are
# traced too.
LAYER_CALLS = [
    ("core.table", "Table.write_data_files", "table.write_data_files"),
    ("core.table", "Table.commit_append", "table.commit"),
    ("core.table", "Table.commit_replace", "table.commit"),
    ("core.table", "Table.commit_delete_vectors", "table.commit"),
    ("core.table", "Table.scan", "scan.plan"),
    ("core.manifests", "collect_stats", "manifests.collect_stats"),
    ("core.manifests", "read_manifests", "manifests.read"),
    ("core.metadata", "commit_metadata", "metadata.commit"),
    ("core.metadata", "load_metadata", "metadata.load"),
    ("maintenance.compact", "execute_compaction", "compact"),
    ("maintenance.cluster", "execute_cluster", "cluster"),
    ("maintenance.cluster_incremental", "execute_cluster_incremental", "cluster_incr"),
    ("maintenance.expire", "expire_snapshots", "expire"),
    ("maintenance.expire", "sweep_orphans", "sweep"),
    ("maintenance.merge", "merge_into", "merge"),
    ("maintenance.deletes", "delete_keys", "deletes"),
    ("maintenance.rewrite_deletes", "rewrite_deletes", "rewrite_deletes"),
    ("functions.hamming_index", "hamming_probe_indexed", "hamming.probe"),
    ("images.export", "export_webdataset_job", "export"),
]

# every span name a traced run can produce, op roots aside
LAYER_SPANS = sorted({name for _m, _a, name in LAYER_CALLS} | {"scan.exec"})


@dataclass
class Span:
    sid: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    children_s: float = 0.0  # time covered by direct children

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    overhead_s: float = 0.0
    op_id: int | None = None
    _stack: list[Span] = field(default_factory=list)
    _scan: dict | None = None
    _undo: list = field(default_factory=list)

    # ---- spans --------------------------------------------------------------
    @property
    def recording(self) -> bool:
        return self.enabled and self.op_id is not None

    def _open(self, name: str) -> Span:
        t0 = time.perf_counter()
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, self.op_id, parent, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._stack[-1].children_s += s.duration
        self.overhead_s += time.perf_counter() - s.end

    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield
            return
        s = self._open(name)
        try:
            yield
        finally:
            self._close(s)

    @contextmanager
    def op(self, op_id: int, kind: str):
        """Attribute the spans opened inside to timed op ``op_id``, under a
        root span named after the op's kind."""
        self.op_id = op_id
        root = self._open(f"op.{kind}") if self.enabled else None
        try:
            yield
        finally:
            if root is not None:
                self._close(root)
            self.op_id = None

    def sample(self, name: str, value: float) -> None:
        if self.recording:
            self.samples[name].append(float(value))

    # ---- wrapping the engine's layer calls ------------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        from ocel_ocpn_lakehouse_spark.core import table as table_mod

        for mod_name, attr, span_name in LAYER_CALLS:
            owner = importlib.import_module(f"{_PKG}.{mod_name}")
            *path, fn_name = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            self._patch(owner, fn_name, self._wrap(getattr(owner, fn_name), span_name))
        self._patch(table_mod, "entry_matches", self._wrap_verdict(table_mod.entry_matches))

    def uninstall(self) -> None:
        while self._undo:
            owner, name, orig = self._undo.pop()
            setattr(owner, name, orig)

    def _patch(self, owner, name: str, new) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def _wrap(self, fn, span_name: str):
        tracer = self
        after = _AFTER.get(span_name)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.recording:
                return fn(*args, **kwargs)
            scan_ctx = None
            if span_name == "scan.plan":
                scan_ctx = {"live": 0, "dv_all": 0, "checked": 0, "matched": 0, "dv": 0}
                tracer._scan = scan_ctx
            s = tracer._open(span_name)
            try:
                out = fn(*args, **kwargs)
            except Exception as e:
                if span_name == "metadata.commit" and type(e).__name__ == "ConflictError":
                    tracer.samples["metadata.conflict_retries"].append(1.0)
                raise
            finally:
                tracer._close(s)
                if scan_ctx is not None:
                    tracer._scan = None
                    tracer._record_scan(scan_ctx)
            if after is not None:
                t0 = time.perf_counter()
                after(tracer, args, kwargs, out)
                tracer.overhead_s += time.perf_counter() - t0
            return out

        return wrapped

    def _wrap_verdict(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapped(e, preds):
            ok = fn(e, preds)
            ctx = tracer._scan
            if ctx is not None:
                ctx["checked"] += 1
                if ok:
                    ctx["matched"] += 1
                    ctx["dv"] += bool(e.deletes)
            return ok

        return wrapped

    def _record_scan(self, ctx: dict) -> None:
        planned = ctx["matched"] if ctx["checked"] else ctx["live"]
        dv = ctx["dv"] if ctx["checked"] else ctx["dv_all"]
        self.sample("scan.files_live", ctx["live"])
        self.sample("scan.files_planned", planned)
        self.sample("scan.dv_files", dv)

    # ---- summary ------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Total self seconds per span name over the recorded ops."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.self_s
        return out

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def median_s(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0


def _after_read_manifests(tracer: Tracer, args, kwargs, out) -> None:
    names = args[1] if len(args) > 1 else kwargs.get("names", ())
    tracer.sample("manifests.count", len(names) if hasattr(names, "__len__") else 0)
    tracer.sample("manifests.entries_read", len(out))
    ctx = tracer._scan
    if ctx is not None:
        ctx["live"] += len(out)
        ctx["dv_all"] += sum(1 for e in out if e.deletes)


def _after_commit(tracer: Tracer, args, kwargs, out) -> None:
    # only commit_append takes its entry list as the first argument; replace
    # and delete-vector commits pass a path set or a DV path there
    entries = args[1] if len(args) > 1 else None
    if isinstance(entries, list):
        tracer.sample("table.files_per_commit", len(entries))


_AFTER = {"manifests.read": _after_read_manifests, "table.commit": _after_commit}
