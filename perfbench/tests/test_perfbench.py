"""Tests of the benchmark itself.

The fast tests cover input generation, the key model and the tail
definition. The two run tests start the benchmark as a subprocess (about a
minute each on 4 cores): they check the output contract against
BENCHMARK.json and that one seed gives the same per-op counts twice.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs as I  # noqa: E402
from perfbench.metrics import END_TO_END, names_per_layer, tail  # noqa: E402


def test_tail_keeps_ten_samples_above():
    values = list(range(1, 41))  # 40 samples
    v, pct, n = tail(values)
    assert n == 40 and v == 30 and sum(x > v for x in values) == 10
    assert pct == pytest.approx(75.0)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_images_repeat_per_seed_and_differ_across_seeds():
    a = [I.gen_image(7, i) for i in range(20)]
    b = [I.gen_image(7, i) for i in range(20)]
    c = [I.gen_image(8, i) for i in range(20)]
    assert a == b
    assert [r["bytes"] for r in a] != [r["bytes"] for r in c]
    assert {r["w"] for r in a} <= set(I.SIZES)
    assert I.gen_image(7, 3, variant=1)["bytes"] != a[3]["bytes"]


def test_localized_images_cluster_in_phash():
    loc = [I.gen_image(5, 1000 + k, hot_base=0) for k in range(12)]
    fps = np.array([r["phash"] for r in loc], dtype=np.int64).view(np.uint64)
    dist = [bin(int(x ^ fps[0])).count("1") for x in fps]
    assert max(dist) <= 8 and all(r["w"] == r["h"] == 32 for r in loc)


def test_key_model_recent_keys_and_lookups():
    model = I.KeyModel()
    model.upsert([{"image_id": I.image_id(i), "bytes": b"x", "caption": "c", "fmt": "png",
                   "w": 1, "h": 1, "phash": i} for i in range(1000)])
    rng = np.random.default_rng(0)
    keys = model.recent_keys(rng, 50)
    assert len(set(keys)) == 50
    recent = sum(int(k[4:]) >= 700 for k in keys)
    assert recent >= 30  # 80 % of picks land in the newest 30 %
    look = I.lookup_keys(rng, model, 9, 3, 10**9)
    assert len(look) == 9 and sum(k not in model.rows for k in look) == 3


def test_expected_pairs_matches_bitwise_popcount():
    model = I.KeyModel()
    model.upsert([I.gen_image(3, i) for i in range(60)])
    probes = I.probe_batch(np.random.default_rng(1), model, 10, "t")
    pairs = I.expected_pairs(model, probes)
    for p in probes:
        for k, e in model.rows.items():
            d = bin((p["phash"] ^ e.phash) & (2**64 - 1)).count("1")
            assert ((p["image_id"], k, d) in pairs) == (d <= I.HAMMING_RADIUS)
    # every even probe is a corpus phash with 1-4 bits flipped
    assert len({p for p, _k, _d in pairs}) >= 5


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == names_per_layer()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END


def _run(workload: str, seed: int, trace: int) -> tuple[dict, list[tuple]]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "3", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    ops = []
    for line in out:
        if line.startswith("op "):
            f = dict(kv.split("=") for kv in line.split()[3:])
            ops.append((line.split()[2], f["images"], f["files"], f["data_bytes"], f["jobs"],
                        f["stages"], f["tasks"], f["failed_tasks"]))
    return json.loads(out[-1]), ops


@pytest.mark.parametrize("workload", ["ingest_maintain", "read_serve"])
def test_run_is_correct_and_counts_repeat(workload):
    first, ops1 = _run(workload, 11, trace=0)
    second, ops2 = _run(workload, 11, trace=1)
    for res in (first, second):
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] == len(ops1)
    assert list(first["metrics"]) == list(END_TO_END)
    assert all(m["value"] > 0 for m in first["metrics"].values())
    assert list(second["metrics"]) == names_per_layer()
    # tracing changes no op: the same ops write the same bytes and files and
    # run the same Spark jobs, stages and tasks
    assert ops1 == ops2
