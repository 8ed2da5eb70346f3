"""Seeded input generation and the key model the outputs are checked against.

Every input is a pure function of ``(seed, index)``: the same seed gives the
same images, batches, key sets and probes. Images follow the record-size mix
of ``images.synth`` — widths and heights from {16, 32, 64, 128}, 80 % PNG /
20 % lossy, 5-20 word captions — and its skew: ``HOT_KEY_FRACTION`` of the
rows are near-duplicates of ``N_HOT_BASES`` base images, so their perceptual
hashes cluster. Generation runs in the benchmark's own process with the
engine's codec and writes Parquet; the engine only ever sees those files.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ocel_ocpn_lakehouse_spark.images.codec import encode_image, phash64

SIZES = (16, 32, 64, 128)
HOT_KEY_FRACTION = 0.2
N_HOT_BASES = 4
PNG_FRACTION = 0.8
HAMMING_RADIUS = 6  # the index's default max_dist

_WORDS = (
    "amber bridge canyon dawn ember forest glacier harbor island juniper "
    "kestrel lagoon meadow nebula orchid prairie quartz river summit timber "
    "umber violet willow zenith basalt cedar delta fjord grove horizon"
).split()

IMAGE_ARROW_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)
MERGE_ARROW_SCHEMA = IMAGE_ARROW_SCHEMA.append(pa.field("_op", pa.string()))
KEYS_ARROW_SCHEMA = pa.schema([("image_id", pa.string())])
PROBE_ARROW_SCHEMA = pa.schema([("image_id", pa.string()), ("phash", pa.int64())])


def image_id(i: int) -> str:
    return f"img_{i:012d}"


def _base_pixels(seed: int, base: int) -> np.ndarray:
    brng = np.random.default_rng([seed, 7_777_777, base])
    return brng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)


def gen_image(seed: int, i: int, variant: int = 0, hot_base: int | None = None) -> dict:
    """One image row. ``variant`` re-draws the pixels of the same key (an
    upsert's new version); ``hot_base`` forces a near-duplicate of that base
    (the key-localized stream)."""
    rng = np.random.default_rng([seed, i, variant])
    hot = rng.random() < HOT_KEY_FRACTION
    if hot_base is not None or hot:
        base = hot_base if hot_base is not None else int(rng.integers(0, N_HOT_BASES))
        noise = rng.integers(-2, 3, size=(32, 32, 3))
        arr = np.clip(_base_pixels(seed, base).astype(np.int16) + noise, 0, 255).astype(np.uint8)
    else:
        w = SIZES[int(rng.integers(0, len(SIZES)))]
        h = SIZES[int(rng.integers(0, len(SIZES)))]
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        f1, f2 = rng.random(2) * 0.3 + 0.02
        base = (
            127
            + 100 * np.sin(f1 * xx + rng.random() * 6.28)
            + 100 * np.cos(f2 * yy + rng.random() * 6.28)
        ) / 2
        arr = np.clip(base[..., None] + rng.integers(0, 60, size=(h, w, 3)), 0, 255).astype(
            np.uint8
        )
    fmt = "png" if rng.random() < PNG_FRACTION else "jpeg"
    n_words = int(rng.integers(5, 21))
    caption = " ".join(_WORDS[int(k)] for k in rng.integers(0, len(_WORDS), n_words))
    return {
        "image_id": image_id(i),
        "bytes": encode_image(arr, fmt),
        "w": int(arr.shape[1]),
        "h": int(arr.shape[0]),
        "fmt": fmt,
        "caption": caption,
        "phash": phash64(arr),
    }


def user_bytes(row: dict) -> int:
    """Logical size of one row as the user handed it over (payload, caption,
    key, format and 16 bytes of fixed-width columns)."""
    return len(row["bytes"]) + len(row["caption"]) + len(row["image_id"]) + len(row["fmt"]) + 16


def write_parquet(path: str, rows: list[dict], schema: pa.Schema) -> str:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path, compression="snappy")
    return path


@dataclass(frozen=True)
class Expected:
    """What the model says one live row holds."""

    md5: str
    caption: str
    fmt: str
    w: int
    h: int
    phash: int
    nbytes: int


def _expected(row: dict) -> Expected:
    return Expected(
        hashlib.md5(row["bytes"]).hexdigest(),
        row["caption"],
        row["fmt"],
        row["w"],
        row["h"],
        row["phash"],
        len(row["bytes"]),
    )


class KeyModel:
    """The table contents the workload's ops should leave behind, keyed by
    ``image_id`` and kept in commit order (for recency-biased key choice)."""

    def __init__(self) -> None:
        self.rows: dict[str, Expected] = {}

    def upsert(self, rows: list[dict]) -> None:
        for r in rows:
            self.rows.pop(r["image_id"], None)  # re-insert: an upsert is recent
            self.rows[r["image_id"]] = _expected(r)

    def delete(self, keys: list[str]) -> None:
        for k in keys:
            self.rows.pop(k, None)

    def digest(self) -> list[tuple[str, str, str]]:
        """Order-insensitive table checksum: the sorted per-row digests."""
        return sorted((k, e.md5, e.caption) for k, e in self.rows.items())

    def recent_keys(self, rng: np.random.Generator, n: int, recent_frac: float = 0.3,
                    recent_weight: float = 0.8) -> list[str]:
        """``n`` distinct live keys; each pick lands in the most recent
        ``recent_frac`` of keys with probability ``recent_weight``."""
        keys = list(self.rows)
        n_recent = max(1, int(len(keys) * recent_frac))
        chosen: dict[str, None] = {}
        while len(chosen) < min(n, len(keys)):
            if rng.random() < recent_weight:
                k = keys[len(keys) - 1 - int(rng.integers(0, n_recent))]
            else:
                k = keys[int(rng.integers(0, len(keys)))]
            chosen[k] = None
        return list(chosen)


def lookup_keys(rng: np.random.Generator, model: KeyModel, n: int, n_miss: int,
                miss_base: int) -> list[str]:
    """``n`` point-lookup keys in shuffled order: exactly ``n_miss`` keys never
    written (ids at or above ``miss_base``), the rest live keys (hits)."""
    keys = list(model.rows)
    out = [image_id(miss_base + int(rng.integers(0, 1_000_000))) for _ in range(n_miss)]
    out += [keys[int(rng.integers(0, len(keys)))] for _ in range(n - n_miss)]
    rng.shuffle(out)
    return out


def probe_batch(rng: np.random.Generator, model: KeyModel, n: int, tag: str) -> list[dict]:
    """Near-dup probe fingerprints: half are corpus phashes with 1-4 bits
    flipped (guaranteed hits within the radius), half are random."""
    live = list(model.rows.values())
    out = []
    for k in range(n):
        if k % 2 == 0:
            bits = np.array([live[int(rng.integers(0, len(live)))].phash], dtype=np.int64)
            for b in rng.choice(64, size=int(rng.integers(1, 5)), replace=False):
                bits ^= np.int64(1) << np.int64(int(b))  # two's complement: bit 63 too
            fp = int(bits[0])
        else:
            fp = int(rng.integers(-(2**63), 2**63 - 1, dtype=np.int64))
        out.append({"image_id": f"probe_{tag}_{k:04d}", "phash": fp})
    return out


def expected_pairs(model: KeyModel, probes: list[dict], radius: int = HAMMING_RADIUS) -> set:
    """Exact (probe_id, corpus_id, dist) near-dup pairs by brute force."""
    ids = list(model.rows)
    fps = np.array([model.rows[k].phash for k in ids], dtype=np.int64).view(np.uint64)
    out = set()
    for p in probes:
        x = fps ^ np.array([p["phash"]], dtype=np.int64).view(np.uint64)
        dist = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
        for j in np.nonzero(dist <= radius)[0]:
            out.add((p["image_id"], ids[int(j)], int(dist[j])))
    return out


def ensure_dir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path
