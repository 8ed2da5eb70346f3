"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload read_serve --seed 1 --seconds 12 --trace 0

Runs from the root of a source checkout against ``local[<cores>]``, where
<cores> is the number of CPUs this process may run on. Everything it writes
goes under ``.perfbench_work/`` in the checkout and is removed at exit.
Standard output is a human-readable report — every op with its counts, then
each metric by name with its unit — and, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run records spans
around the engine's layer calls and the metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SETUP_REPS = 3
DRIVER_MEMORY = "1g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_maintain", "read_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (it exits on EOF) and
    wait for it and every process it started."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    procs = _descendants(proc.pid)
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _parse(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    # no JVM perf-data file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    sys.path.insert(0, str(ROOT))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass


def _run(args, work: Path) -> int:
    from ocel_ocpn_lakehouse_spark.session import get_spark
    from pyspark import SparkContext

    from perfbench import metrics
    from perfbench.harness import tree_sizes
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    cores = len(os.sched_getaffinity(0))
    phases = {"start": time.perf_counter()}
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    jvm_pid = SparkContext._gateway.proc.pid
    phases["spark"] = time.perf_counter()
    try:
        wl = WORKLOADS[args.workload]
        tracer = Tracer(enabled=bool(args.trace))
        ctx = Ctx(spark, str(work), args.seed, args.seconds, tracer)
        setup_s = []
        for rep in range(SETUP_REPS):
            if rep:
                shutil.rmtree(fx.dir)
            t0 = time.perf_counter()
            fx = wl.setup(ctx, rep)
            setup_s.append(time.perf_counter() - t0)
        phases["setup"] = time.perf_counter()
        tracer.install()
        try:
            wl.run(ctx, fx)
        finally:
            tracer.uninstall()
        phases["run"] = time.perf_counter()
        fx.table.refresh()
        live = sum(e.size_bytes for e in fx.table.live_entries())
        space_amp = sum(tree_sizes(fx.table.root).values()) / live
        rss = metrics.peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        _stop_spark(spark)
    phases["stop"] = time.perf_counter()

    records = fx.harness.records
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={cores} setup_reps={SETUP_REPS}")
    names = list(phases)
    print("wall " + " ".join(
        f"{b}={phases[b] - phases[a]:.2f}s" for a, b in zip(names, names[1:])))
    for r in records:
        print(f"op {r.idx} {r.kind} timed={int(r.timed)} ok={int(r.ok)} seconds={r.seconds:.4f} "
              f"images={r.images} files={r.files} data_bytes={r.data_bytes} "
              f"dv_bytes={r.dv_bytes} meta_bytes={r.meta_bytes} jobs={r.jobs} "
              f"stages={r.stages} tasks={r.tasks} "
              f"failed_tasks={r.failed_tasks}")
    for name, value, unit, note in metrics.op_report(records):
        print(f"metric {name} {value:.6g} {unit} ({note})")
    if args.trace:
        work_s = sum(r.seconds for r in records if r.timed)
        out = metrics.per_layer(records, tracer, work_s)
    else:
        e2e = metrics.end_to_end(records, wl.foreground, setup_s, space_amp, rss)
        out = {k: (v, metrics.END_TO_END[k]) for k, v in e2e.items()}
        print(f"metric setup_reps_s {' '.join(f'{s:.3f}' for s in setup_s)} s")
    for name, (value, unit) in out.items():
        print(f"metric {name} {value:.6g} {unit}")
    failed = sum(not r.ok for r in records)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
