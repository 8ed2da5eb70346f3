"""One closed-loop client: times each op, checks it, and accounts for it.

Every op runs under its own Spark job group. After the op returns (outside
its timing) the harness reads the group's job, stage and task counts from
Spark's ``StatusTracker`` and diffs a listing of the table directory, so each
op carries the bytes and files it wrote. With one client and a fixed seed
these counts repeat exactly from run to run, except the sizes of metadata
and delete-vector files: they hold snapshot ids, timestamps and the random
names of data files.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

from ocel_ocpn_lakehouse_spark.maintenance.deletes import DELETES_SUBDIR

from .trace import Tracer


@dataclass
class OpRecord:
    idx: int
    kind: str
    timed: bool
    seconds: float
    ok: bool
    images: int = 0  # images the op ingested, read, rewrote or exported
    user_bytes: int = 0  # logical bytes of user data the op handed over
    data_bytes: int = 0  # bytes of new data files
    dv_bytes: int = 0  # bytes of new delete-vector files
    meta_bytes: int = 0  # bytes of new files under metadata/
    json_bytes: int = 0  # of which table-metadata JSON
    files: int = 0  # new files under the table root
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    result: dict = field(default_factory=dict, repr=False)


def tree_sizes(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out


def spark_counts(sc, group: str) -> tuple[int, int, int, int]:
    """(jobs, stages run, tasks completed, tasks failed) of one job group.
    Stages skipped because their shuffle output was reused run no task and
    are not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            if si is None:
                continue
            if si.numCompletedTasks or si.numFailedTasks:
                stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return len(jobs), stages, tasks, failed


class Harness:
    def __init__(self, spark, root: str, tracer: Tracer, tag: str, log=sys.stderr):
        self.sc = spark.sparkContext
        self.root = root  # the table directory whose bytes are accounted
        self.tracer = tracer
        self.tag = tag  # keeps job-group names unique across harnesses
        self.log = log
        self.records: list[OpRecord] = []
        self._group = 0

    def op(self, kind: str, fn, *, timed: bool = True, images: int = 0, user_bytes: int = 0,
           check=None):
        """Run ``fn`` as one op and record it; returns ``fn``'s result (None
        when it raised). ``check(result)`` runs after the timing and marks the
        op failed when it returns false or raises."""
        idx = len(self.records)
        group = self._new_group(kind)
        before = tree_sizes(self.root)
        error = None
        with self.tracer.op(idx, kind) if timed else contextlib.nullcontext():
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception:
                result, error = None, traceback.format_exc()
            seconds = time.perf_counter() - t0
        self._new_group("check")
        rec = OpRecord(idx, kind, timed, seconds, error is None, images, user_bytes)
        rec.jobs, rec.stages, rec.tasks, rec.failed_tasks = spark_counts(self.sc, group)
        after = tree_sizes(self.root)
        for p, size in after.items():
            if before.get(p) == size:
                continue
            rec.files += 1
            rel = os.path.relpath(p, self.root)
            if rel.startswith("metadata" + os.sep):
                rec.meta_bytes += size
                if p.endswith(".metadata.json"):
                    rec.json_bytes += size
            elif rel.startswith(DELETES_SUBDIR + os.sep):
                rec.dv_bytes += size
            else:
                rec.data_bytes += size
        if isinstance(result, dict):
            rec.result = result
        if error is not None:
            print(f"[perfbench] op {idx} {kind} raised:\n{error}", file=self.log)
        elif check is not None:
            self.expect(rec, check, result)
        self.records.append(rec)
        return result

    def expect(self, rec: OpRecord, check, *args) -> None:
        """Evaluate a correctness check for ``rec``; a false result or an
        exception marks the op failed."""
        try:
            ok = bool(check(*args))
        except Exception:
            print(f"[perfbench] check of op {rec.idx} {rec.kind} raised:\n"
                  f"{traceback.format_exc()}", file=self.log)
            ok = False
        if not ok:
            print(f"[perfbench] op {rec.idx} {rec.kind}: wrong result", file=self.log)
        rec.ok = rec.ok and ok

    def _new_group(self, kind: str) -> str:
        self._group += 1
        group = f"perfbench-{self.tag}-{self._group}-{kind}"
        self.sc.setJobGroup(group, kind)
        return group
