"""NumPy brute-force oracles for the benchmark's output checks.

Each ``check_*`` returns a list of problems (empty when the result is
correct).  They run outside the timed region, on a seeded sample of each
op's queries plus the op's total row count.
"""

from __future__ import annotations

import numpy as np

# tolerances of tests/test_so3engine.py: SO(3) angles to 1e-12, the SE(3)
# compound distance to 1e-9
SO3_ATOL = 1e-12
SE3_ATOL = 1e-9


def id_rank(ids: np.ndarray) -> np.ndarray:
    """Rank of each id in sorted string order: the engine's tie-break."""
    rank = np.empty(len(ids), dtype=np.int64)
    rank[np.argsort(ids, kind="stable")] = np.arange(len(ids))
    return rank


def _rows_by_query(res, id_col: str, dist_col: str) -> dict[str, tuple]:
    """query_id -> (ids, dists, ranks) sorted by (dist, id)."""
    qid = np.asarray(res.column("query_id").to_pylist(), dtype=object)
    ids = np.asarray(res.column(id_col).to_pylist(), dtype=object)
    dist = res.column(dist_col).to_numpy()
    ranks = (
        res.column("rank").to_numpy()
        if "rank" in res.column_names
        else np.zeros(len(qid), dtype=np.int64)
    )
    out: dict[str, tuple] = {}
    order = np.lexsort((ids.astype(str), dist, qid.astype(str)))
    for q in np.unique(qid.astype(str)):
        sel = order[qid[order] == q]
        out[q] = (ids[sel].astype(str), dist[sel], ranks[sel])
    return out


def _compare_topk(got, want_qids, want_idx, want_dist, corpus_ids, k, label, atol):
    """Compare per-query rows with the oracle's top-k (want_idx[i] are
    corpus positions in (dist, id) order).  atol=None demands bit-exact
    distances."""
    problems = []
    for i, q in enumerate(want_qids):
        srt, wd = want_idx[i], want_dist[i]
        ids, dist, ranks = got.get(q, (np.array([]), np.array([]), np.array([])))
        if len(ids) != len(srt):
            problems.append(f"{label} {q}: {len(ids)} rows, want {len(srt)}")
            continue
        if not np.array_equal(ids, corpus_ids[srt]):
            problems.append(f"{label} {q}: neighbour ids differ from brute force")
        elif not np.array_equal(ranks, np.arange(1, len(srt) + 1)):
            problems.append(f"{label} {q}: ranks {ranks.tolist()} are not 1..{len(srt)}")
        exact = (
            np.array_equal(dist, wd)
            if atol is None
            else np.allclose(dist, wd, rtol=0.0, atol=atol)
        )
        if not exact:
            problems.append(f"{label} {q}: distances differ from brute force")
    return problems


def _matrix_topk(D: np.ndarray, tie: np.ndarray, k: int):
    idx = [np.lexsort((tie, row))[: min(k, D.shape[1])] for row in D]
    return idx, [D[i, j] for i, j in enumerate(idx)]


def check_planar_knn(res, sample_qids, sample_xy, corpus, k):
    """res: Arrow (query_id, image_id, dist, rank) rows of the sampled
    queries; corpus: dict with ids, xy (lon, lat) and tie (id rank)."""
    from sparkkd import kernel

    got = _rows_by_query(res, "image_id", "dist")
    qi, idx, dist = kernel.brute_force_knn(corpus["xy"], sample_xy, k, tie_key=corpus["tie"])
    want_idx = [idx[qi == i] for i in range(len(sample_qids))]
    want_dist = [dist[qi == i] for i in range(len(sample_qids))]
    return _compare_topk(got, sample_qids, want_idx, want_dist, corpus["ids"], k, "knn", None)


def planar_dist(sample_xy: np.ndarray, xy: np.ndarray) -> np.ndarray:
    diff = sample_xy[:, None, :] - xy[None, :, :]
    return np.sqrt((diff * diff).sum(axis=2))


def check_radius(res, sample_qids, sample_xy, corpus, r):
    """Exact pair sets and bit-exact distances for the sampled queries."""
    got = _rows_by_query(res, "image_id", "dist")
    D = planar_dist(sample_xy, corpus["xy"])
    problems = []
    for i, q in enumerate(sample_qids):
        sel = np.flatnonzero(D[i] <= r)
        sel = sel[np.lexsort((corpus["tie"][sel], D[i, sel]))]
        ids, dist, _ = got.get(q, (np.array([]), np.array([]), None))
        if len(ids) != len(sel):
            problems.append(f"radius {q}: {len(ids)} pairs, want {len(sel)}")
        elif not np.array_equal(ids, corpus["ids"][sel]):
            problems.append(f"radius {q}: pair ids differ from brute force")
        elif not np.array_equal(dist, D[i, sel]):
            problems.append(f"radius {q}: distances differ from brute force")
    return problems


def radius_pair_count(query_xy: np.ndarray, xy: np.ndarray, r: float) -> int:
    """Total pairs with planar distance <= r, by an x-sorted sweep."""
    order = np.argsort(xy[:, 0], kind="stable")
    xs, ys = xy[order, 0], xy[order, 1]
    lo = np.searchsorted(xs, query_xy[:, 0] - r, side="left")
    hi = np.searchsorted(xs, query_xy[:, 0] + r, side="right")
    total = 0
    step = 256
    for c0 in range(0, len(query_xy), step):
        l, h = lo[c0 : c0 + step], hi[c0 : c0 + step]
        n = h - l
        qi = np.repeat(np.arange(len(l)), n)
        j = np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n) + np.repeat(l, n)
        dx = xs[j] - query_xy[c0 + qi, 0]
        dy = ys[j] - query_xy[c0 + qi, 1]
        total += int((np.sqrt(dx * dx + dy * dy) <= r).sum())
    return total


def so3_matrix(qs: np.ndarray, ps: np.ndarray) -> np.ndarray:
    from sparkkd import functions

    return functions.so3_distance(qs[:, None, :], ps[None, :, :])


def check_so3_knn(res, sample_qids, sample_q, poses, k):
    got = _rows_by_query(res, "pose_id", "ang")
    want_idx, want_dist = _matrix_topk(so3_matrix(sample_q, poses["q"]), poses["tie"], k)
    return _compare_topk(got, sample_qids, want_idx, want_dist, poses["ids"], k, "so3", SO3_ATOL)


def check_se3_knn(res, sample_qids, sample_q, sample_t, poses, k, rw, tw):
    from sparkkd import functions

    got = _rows_by_query(res, "pose_id", "dist")
    D = functions.se3_distance(
        sample_q[:, None, :], sample_t[:, None, :],
        poses["q"][None, :, :], poses["t"][None, :, :],
        rot_weight=rw, trans_weight=tw,
    )
    want_idx, want_dist = _matrix_topk(D, poses["tie"], k)
    return _compare_topk(got, sample_qids, want_idx, want_dist, poses["ids"], k, "se3", SE3_ATOL)


def polygon_edges(polys) -> dict[str, np.ndarray]:
    """poly_id -> (E, 4) edges [x1, y1, x2, y2] over all rings, from the
    vertex-exploded (poly_id, ring, seq, x, y) table."""
    pid = np.asarray(polys.column("poly_id").to_pylist(), dtype=str)
    ring = polys.column("ring").to_numpy()
    seq = polys.column("seq").to_numpy()
    x = polys.column("x").to_numpy()
    y = polys.column("y").to_numpy()
    order = np.lexsort((seq, ring, pid))
    edges: dict[str, list[np.ndarray]] = {}
    for p in np.unique(pid):
        for rg in np.unique(ring[pid == p]):
            sel = order[(pid[order] == p) & (ring[order] == rg)]
            xs, ys = x[sel], y[sel]
            edges.setdefault(p, []).append(
                np.column_stack([xs, ys, np.roll(xs, -1), np.roll(ys, -1)])
            )
    return {p: np.vstack(e) for p, e in edges.items()}


def inside_even_odd(px: np.ndarray, py: np.ndarray, e: np.ndarray) -> np.ndarray:
    """Even-odd ray cast to +x over all rings (holes subtract)."""
    x1, y1, x2, y2 = (e[:, j][None, :] for j in range(4))
    cond = (y1 > py[:, None]) != (y2 > py[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = (x2 - x1) * (py[:, None] - y1) / (y2 - y1) + x1
    return (cond & (px[:, None] < xs)).sum(axis=1) % 2 == 1


def pip_pairs(xy: np.ndarray, ids: np.ndarray, edges: dict[str, np.ndarray]) -> set:
    pairs = set()
    for p, e in edges.items():
        lo, hi = e[:, [0, 2]].min(), e[:, [0, 2]].max()
        ylo, yhi = e[:, [1, 3]].min(), e[:, [1, 3]].max()
        box = np.flatnonzero(
            (xy[:, 0] >= lo) & (xy[:, 0] <= hi) & (xy[:, 1] >= ylo) & (xy[:, 1] <= yhi)
        )
        hit = box[inside_even_odd(xy[box, 0], xy[box, 1], e)]
        pairs.update((str(i), p) for i in ids[hit])
    return pairs
