"""The benchmark's own tests.

    python3 -m pytest perfbench -q -p no:cacheprovider

The output checks must reject perturbed results; a tiny-size run must print
every metric BENCHMARK.json names; and a directory holding only the
benchmark must fail without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import oracle  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _corpus(n=400, seed=5):
    rng = np.random.default_rng(seed)
    ids = np.array([f"img{i:05d}" for i in range(n)])
    xy = rng.uniform(-10, 10, (n, 2))
    return {"ids": ids, "xy": xy, "tie": oracle.id_rank(ids)}


def _knn_table(corpus, qids, qxy, k):
    from sparkkd import kernel

    qi, idx, dist = kernel.brute_force_knn(corpus["xy"], qxy, k, tie_key=corpus["tie"])
    rank = np.concatenate([np.arange(1, k + 1)] * len(qids))
    return pa.table({
        "query_id": pa.array(qids[qi]), "image_id": pa.array(corpus["ids"][idx]),
        "dist": pa.array(dist), "rank": pa.array(rank, pa.int32()),
    })


def _replace(table, name, values):
    i = table.column_names.index(name)
    return table.set_column(i, name, pa.array(values, table.schema.field(name).type))


def test_knn_check_rejects_perturbed_results():
    corpus = _corpus()
    rng = np.random.default_rng(1)
    qids = np.array([f"q{i}" for i in range(6)])
    qxy = rng.uniform(-10, 10, (6, 2))
    good = _knn_table(corpus, qids, qxy, 4)
    assert oracle.check_planar_knn(good, qids, qxy, corpus, 4) == []

    dist = good.column("dist").to_numpy().copy()
    dist[3] = np.nextafter(dist[3], np.inf)  # one ulp: distances must be bit-exact
    ids = np.array(good.column("image_id").to_pylist())
    ids[[0, 1]] = ids[[1, 0]]
    ranks = good.column("rank").to_numpy().copy()
    ranks[2] = 9
    for bad in (
        _replace(good, "dist", dist),
        _replace(good, "image_id", ids),
        _replace(good, "rank", ranks),
        good.slice(1),
    ):
        assert oracle.check_planar_knn(bad, qids, qxy, corpus, 4)


def test_radius_check_and_pair_count():
    corpus = _corpus()
    rng = np.random.default_rng(2)
    qids = np.array([f"q{i}" for i in range(5)])
    qxy = rng.uniform(-10, 10, (5, 2))
    r = 2.5
    D = oracle.planar_dist(qxy, corpus["xy"])
    qi, idx = np.nonzero(D <= r)
    good = pa.table({
        "query_id": pa.array(qids[qi]), "image_id": pa.array(corpus["ids"][idx]),
        "dist": pa.array(D[qi, idx]),
    })
    assert oracle.check_radius(good, qids, qxy, corpus, r) == []
    assert oracle.radius_pair_count(qxy, corpus["xy"], r) == len(qi)
    assert oracle.check_radius(good.slice(1), qids, qxy, corpus, r)
    dist = good.column("dist").to_numpy().copy()
    dist[0] = np.nextafter(dist[0], 0.0)
    assert oracle.check_radius(_replace(good, "dist", dist), qids, qxy, corpus, r)


def test_pose_checks_reject_perturbed_results():
    rng = np.random.default_rng(3)
    n, nq, k = 300, 4, 3
    q = rng.normal(size=(n, 4))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    ids = np.array([f"pose{i:05d}" for i in range(n)])
    poses = {"ids": ids, "tie": oracle.id_rank(ids), "q": q, "t": rng.uniform(-5, 5, (n, 3))}
    qq = q[:nq] * -1.0  # antipodal: same rotations, distance 0 to themselves
    qt = rng.uniform(-5, 5, (nq, 3))
    qids = np.array([f"pq{i}" for i in range(nq)])

    D = oracle.so3_matrix(qq, q)
    idx = [np.lexsort((poses["tie"], row))[:k] for row in D]
    so3 = pa.table({
        "query_id": pa.array(np.repeat(qids, k)),
        "pose_id": pa.array(np.concatenate([ids[i] for i in idx])),
        "ang": pa.array(np.concatenate([D[j, i] for j, i in enumerate(idx)])),
        "rank": pa.array(np.tile(np.arange(1, k + 1), nq), pa.int32()),
    })
    assert oracle.check_so3_knn(so3, qids, qq, poses, k) == []
    ang = so3.column("ang").to_numpy().copy()
    ang[1] += 1e-9  # beyond the 1e-12 tolerance
    assert oracle.check_so3_knn(_replace(so3, "ang", ang), qids, qq, poses, k)

    from sparkkd import functions

    D = functions.se3_distance(qq[:, None], qt[:, None], q[None], poses["t"][None], 2.0, 0.5)
    idx = [np.lexsort((poses["tie"], row))[:k] for row in D]
    se3 = pa.table({
        "query_id": pa.array(np.repeat(qids, k)),
        "pose_id": pa.array(np.concatenate([ids[i] for i in idx])),
        "dist": pa.array(np.concatenate([D[j, i] for j, i in enumerate(idx)])),
        "rank": pa.array(np.tile(np.arange(1, k + 1), nq), pa.int32()),
    })
    assert oracle.check_se3_knn(se3, qids, qq, qt, poses, k, 2.0, 0.5) == []
    pid = np.array(se3.column("pose_id").to_pylist())
    pid[0] = ids[-1] if pid[0] != ids[-1] else ids[-2]
    assert oracle.check_se3_knn(_replace(se3, "pose_id", pid), qids, qq, qt, poses, k, 2.0, 0.5)


def _run(cwd: Path, *args: str, timeout: int = 600) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [("geo_bulk", 0), ("geo_bulk", 1), ("pose_bulk", 1), ("geo_microbatch", 0)],
)
def test_tiny_run_prints_every_metric(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--scale", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert np.isfinite(got["value"])
    for m in SPEC["end_to_end"]:
        assert m["name"] in proc.stdout  # printed by name with unit and n


def test_run_without_the_program_fails(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                "--seconds", "1", "--trace", "0", timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
