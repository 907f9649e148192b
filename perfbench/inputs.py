"""Seeded benchmark inputs, cached on disk under the benchmark's work dir.

Every table comes from a ``sparkkd.synth.gen_*`` generator at a seed derived
from the run's ``--seed``.  A cached file is named by a key over
(table, seed, size, fixture versions, this module's version), so a change of
any of them writes a new file and a stale one is never read back.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

INPUTS_VERSION = 1

# Per-table seed offsets: image corpus and query pool use independent
# streams, as the driver-contract fixtures do (synth defaults 42 / 43 / ...).
_SEED_OFFSET = {"images": 0, "queries": 1, "polygons": 2, "poses": 3, "pose_queries": 4}


def table_seed(seed: int, table: str) -> int:
    return seed * 16 + _SEED_OFFSET[table]


def _key(table: str, seed: int, n: int) -> str:
    from sparkkd import synth

    want = {
        "table": table,
        "seed": seed,
        "n": n,
        "fixture": synth.FIXTURE_VERSION,
        "pose_fixture": synth.POSE_FIXTURE_VERSION,
        "inputs": INPUTS_VERSION,
    }
    digest = hashlib.sha256(json.dumps(want, sort_keys=True).encode()).hexdigest()
    return f"{table}-s{seed}-n{n}-{digest[:12]}"


def _generate(table: str, seed: int, n: int):
    from sparkkd import synth

    s = table_seed(seed, table)
    if table == "images":
        # payload-light blobs: the geo joins and tiling ops read only
        # (image_id, phash), and full pixel encoding costs seconds per run
        return synth.gen_images(n, seed=s, lite=True)
    if table == "queries":
        return synth.gen_queries(n, seed=s)
    if table == "polygons":
        return synth.gen_polygons(n, seed=s)
    if table == "poses":
        return synth.gen_poses(n, seed=s)
    if table == "pose_queries":
        return synth.gen_pose_queries(n, seed=s)
    raise ValueError(f"unknown table {table!r}")


def ensure(cache_dir: Path, table: str, seed: int, n: int) -> Path:
    """Path of the parquet file for (table, seed, n), generating it once."""
    import pyarrow.parquet as pq

    cache_dir.mkdir(parents=True, exist_ok=True)
    path = cache_dir / f"{_key(table, seed, n)}.parquet"
    if not path.exists():
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        pq.write_table(_generate(table, seed, n), tmp)
        tmp.replace(path)
    return path


def load(cache_dir: Path, table: str, seed: int, n: int):
    """(parquet path, Arrow table) for one seeded input table."""
    import pyarrow.parquet as pq

    path = ensure(cache_dir, table, seed, n)
    return path, pq.read_table(path)
