#!/usr/bin/env python
"""Randomized differential fuzz: every distributed join vs a brute-force
NumPy oracle over randomly-shaped inputs.

The pytest batteries pin the known edge cases; this harness hunts the
UNKNOWN ones by sampling the configuration space — corpus size and
distribution (uniform / tight clusters / point masses / boundary values /
duplicated coordinates), k, radius, grid level, max_cell_rows (forcing
refinement + salting on tiny corpora), compound weights (incl. degenerate
rot-only / trans-only) — and asserting exact agreement (row set and
float-exact distances; rank compared via distance multisets so ties in
id order never false-positive).

Usage: python jobs/fuzz_differential.py [N_TRIALS] [SEED]
Prints one line per trial and a final summary; exits nonzero on any
mismatch with a full repro dump (seed + config).
"""

from __future__ import annotations

import gc
import json
import os
import sys
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession

from sparkkd import cells, engine, so3engine

N_TRIALS = int(sys.argv[1]) if len(sys.argv) > 1 else 60
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 20260818


def _coords(rng, n, flavor):
    if flavor == "uniform":
        return rng.uniform(-60, 60, (n, 2))
    if flavor == "clusters":
        k = max(1, int(rng.integers(1, 8)))
        cents = rng.uniform(-50, 50, (k, 2))
        return cents[rng.integers(0, k, n)] + rng.normal(0, 0.05, (n, 2))
    if flavor == "point_mass":
        p = rng.uniform(-50, 50, 2)
        out = np.tile(p, (n, 1))
        j = max(1, n // 4)
        out[:j] = rng.uniform(-60, 60, (j, 2))
        return out
    if flavor == "boundary":
        c = rng.uniform(-60, 60, (n, 2))
        c[:, 0] = np.round(c[:, 0] * 4) / 4  # land on cell edges
        c[:, 1] = np.round(c[:, 1] * 4) / 4
        return c
    raise AssertionError(flavor)


def _quantized(xy):
    ph = cells.coords_to_phash(xy[:, 1], xy[:, 0])
    lat, lon = cells.phash_to_coords(ph)
    return ph, np.column_stack([lon, lat])


def fuzz_geo(spark, rng, trial):
    n = int(rng.integers(2, 1500))
    nq = int(rng.integers(1, 200))
    flavor = str(rng.choice(["uniform", "clusters", "point_mass", "boundary"]))
    k = int(rng.integers(1, 17))
    level = int(rng.integers(2, 9))
    mcr = int(rng.choice([4, 16, 64, 8192]))
    use_radius = bool(rng.integers(0, 2))
    ph, xy = _quantized(_coords(rng, n, flavor))
    qxy = _coords(rng, nq, flavor)
    img = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"i{j:06d}" for j in range(n)], "phash": ph})
    )
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": [f"q{j:05d}" for j in range(nq)],
                      "qlon": qxy[:, 0], "qlat": qxy[:, 1]})
    )
    d = np.sqrt(((qxy[:, None, :] - xy[None, :, :]) ** 2).sum(-1))
    # alternate the entry point: the one-shot joins and GeoIndex's methods
    # reach the same shared second phase through different builders
    via_index = bool(rng.integers(0, 2))
    cfg = dict(op="geo", n=n, nq=nq, flavor=flavor, k=k, level=level,
               mcr=mcr, use_radius=use_radius, via_index=via_index)
    index = (
        engine.GeoIndex(spark, img, level=level, max_cell_rows=mcr, n_images_hint=n)
        if via_index else None
    )
    if use_radius:
        r = float(rng.uniform(0.1, 40))
        cfg["r"] = r
        got = (
            index.radius_join(q, r) if via_index else engine.radius_join(
                spark, img, q, r=r, level=level, max_cell_rows=mcr,
                n_images_hint=n,
            )
        ).toPandas()
        qi = got.query_id.str.slice(1).astype(int).to_numpy()
        ii = got.image_id.str.slice(1).astype(int).to_numpy()
        want_mask = d <= r
        assert len(got) == int(want_mask.sum()), (cfg, len(got), int(want_mask.sum()))
        assert want_mask[qi, ii].all(), cfg
        assert np.array_equal(got.dist.to_numpy(), d[qi, ii]), cfg
    else:
        mr = float(rng.uniform(0.5, 50)) if rng.integers(0, 2) else float("inf")
        cfg["max_radius"] = mr
        got = (
            index.knn_join(q, k=k, max_radius=mr) if via_index else engine.knn_join(
                spark, img, q, k=k, level=level, max_cell_rows=mcr,
                n_images_hint=n, max_radius=mr,
            )
        ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        # oracle: per query, k smallest (dist, id), bounded by mr
        rows = []
        for qi_ in range(nq):
            idx = np.lexsort((np.arange(n), d[qi_]))[:k]
            for rk, j in enumerate(idx, 1):
                if d[qi_, j] <= mr:
                    rows.append((f"q{qi_:05d}", f"i{j:06d}", d[qi_, j], rk))
        want = pd.DataFrame(rows, columns=["query_id", "image_id", "dist", "rank"])
        want = want.sort_values(["query_id", "rank"]).reset_index(drop=True)
        assert len(got) == len(want), (cfg, len(got), len(want))
        assert (got.query_id.to_numpy() == want.query_id.to_numpy()).all(), cfg
        # ties at equal distance may order differently only if ids differ
        # at the same distance — the engine ties by id, so exact match:
        assert (got.image_id.to_numpy() == want.image_id.to_numpy()).all(), cfg
        assert np.array_equal(got.dist.to_numpy(), want.dist.to_numpy()), cfg
    if via_index:
        index.unpersist()
    return cfg


def _unit_quats(rng, n, flavor):
    if flavor == "uniform":
        x = rng.normal(size=(n, 4))
    elif flavor == "clusters":
        k = max(1, int(rng.integers(1, 6)))
        cents = rng.normal(size=(k, 4))
        x = cents[rng.integers(0, k, n)] + 0.02 * rng.normal(size=(n, 4))
    else:  # antipodal pairs: stress the dual-probe dedupe
        x = rng.normal(size=(n, 4))
        half = n // 2
        x[:half] = -x[half:2 * half]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x


def _ang_matrix(QQ, Q):
    """arccos(|dot|) with the dot accumulated LEFT-TO-RIGHT per coefficient
    — matching the engine's (and DuckDB's) scalar evaluation bit-for-bit.
    A BLAS matmul (``QQ @ Q.T``) may use FMA/blocked accumulation and land
    one ulp away, which arccos amplifies near |dot| ~= 1."""
    dot = QQ[:, 0:1] * Q[None, :, 0]
    for j in range(1, 4):
        dot = dot + QQ[:, j:j + 1] * Q[None, :, j]
    return np.arccos(np.minimum(1.0, np.abs(dot)))


def fuzz_pose(spark, rng, trial):
    n = int(rng.integers(2, 800))
    nq = int(rng.integers(1, 120))
    flavor = str(rng.choice(["uniform", "clusters", "antipodal"]))
    k = int(rng.integers(1, 9))
    mcr = int(rng.choice([8, 64, 16384]))
    space = str(rng.choice(["so3", "se3"]))
    Q = _unit_quats(rng, n, flavor)
    T = rng.uniform(-3, 3, (n, 3))
    QQ = _unit_quats(rng, nq, flavor)
    QT = rng.uniform(-3, 3, (nq, 3))
    poses = spark.createDataFrame(pd.DataFrame({
        "pose_id": [f"p{j:06d}" for j in range(n)],
        "qw": Q[:, 0], "qx": Q[:, 1], "qy": Q[:, 2], "qz": Q[:, 3],
        "tx": T[:, 0], "ty": T[:, 1], "tz": T[:, 2]}))
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": [f"q{j:05d}" for j in range(nq)],
        "qw": QQ[:, 0], "qx": QQ[:, 1], "qy": QQ[:, 2], "qz": QQ[:, 3],
        "tx": QT[:, 0], "ty": QT[:, 1], "tz": QT[:, 2]}))
    ang = _ang_matrix(QQ, Q)
    # alternate one-shot and index entry points (see fuzz_geo)
    via_index = bool(rng.integers(0, 2))
    cfg = dict(op=space, n=n, nq=nq, flavor=flavor, k=k, mcr=mcr,
               via_index=via_index)
    index = None
    if via_index:
        cls = so3engine.So3Index if space == "so3" else so3engine.Se3Index
        index = cls(spark, poses, max_cell_rows=mcr, n_poses_hint=n)
    if space == "so3":
        d = ang
        use_radius = bool(rng.integers(0, 2))
        if use_radius:
            r = float(rng.uniform(0.05, 1.5))
            cfg["r"] = r
            got = (
                index.radius_join(queries, r) if via_index else
                so3engine.so3_radius_join(
                    spark, poses, queries, r, max_cell_rows=mcr, n_poses_hint=n
                )
            ).toPandas()
            val = got.ang.to_numpy()
        else:
            got = (
                index.knn_join(queries, k=k) if via_index else
                so3engine.so3_knn_join(
                    spark, poses, queries, k=k, max_cell_rows=mcr, n_poses_hint=n
                )
            ).toPandas()
            val = got.ang.to_numpy()
    else:
        rw = float(rng.choice([0.0, 0.3, 1.0, 5.0]))
        tw = float(rng.choice([0.1, 1.0, 2.0]))
        cfg["rw"], cfg["tw"] = rw, tw
        d = rw * ang + tw * np.sqrt(
            ((QT[:, None, :] - T[None, :, :]) ** 2).sum(-1)
        )
        use_radius = bool(rng.integers(0, 2))
        if use_radius:
            r = float(np.quantile(d, rng.uniform(0.001, 0.2)))
            cfg["r"] = r
            got = (
                index.radius_join(queries, r, rot_weight=rw, trans_weight=tw)
                if via_index else so3engine.se3_radius_join(
                    spark, poses, queries, r, rot_weight=rw, trans_weight=tw,
                    max_cell_rows=mcr, n_poses_hint=n,
                )
            ).toPandas()
            val = got.dist.to_numpy()
        else:
            got = (
                index.knn_join(queries, k=k, rot_weight=rw, trans_weight=tw)
                if via_index else so3engine.se3_knn_join(
                    spark, poses, queries, k=k, rot_weight=rw, trans_weight=tw,
                    max_cell_rows=mcr, n_poses_hint=n,
                )
            ).toPandas()
            val = got.dist.to_numpy()
    cfg["use_radius"] = use_radius
    if via_index:
        index.unpersist()
    qi = got.query_id.str.slice(1).astype(int).to_numpy()
    ii = got.pose_id.str.slice(1).astype(int).to_numpy()
    # the ENGINE's distances are bit-identical to scalar left-to-right
    # evaluation (that's what the DuckDB oracle rows pin); THIS oracle's
    # matrix arithmetic can differ by ~1 ulp (amplified ~1e-15 by arccos
    # near |dot|=1), so values compare under a tiny atol and selection
    # under an eps band — still fails loudly on any wrong / missing /
    # extra pair or a rank inflated past the kth distance
    eps = 1e-9
    assert np.allclose(val, d[qi, ii], rtol=0.0, atol=1e-10), cfg
    if use_radius:
        r = cfg["r"]
        assert (d[qi, ii] <= r + eps).all(), cfg
        must = d <= r - eps
        got_set = set(zip(qi.tolist(), ii.tolist()))
        missing = [
            (int(a), int(b))
            for a, b in zip(*np.nonzero(must))
            if (int(a), int(b)) not in got_set
        ]
        assert not missing, (cfg, missing[:5])
        assert len(got) <= int((d <= r + eps).sum()), cfg
    else:
        kk = min(k, n)
        assert len(got) == nq * kk, (cfg, len(got), nq * kk)
        # exactly kk distinct corpus ids per query
        per_q = pd.Series(ii).groupby(pd.Series(qi)).nunique()
        assert len(per_q) == nq and (per_q == kk).all(), cfg
        # every returned pair is within eps of that query's kth distance
        kth = np.partition(d, kk - 1, axis=1)[:, kk - 1]
        assert (d[qi, ii] <= kth[qi] + eps).all(), cfg
        # multiset of distances per query matches the kk smallest
        order = np.lexsort((ii, d[qi, ii], qi))
        got_vals = d[qi, ii][order].reshape(nq, kk)
        want_vals = np.sort(np.partition(d, kk - 1, axis=1)[:, :kk], axis=1)
        assert np.allclose(got_vals, want_vals, rtol=0.0, atol=1e-10), cfg
    return cfg


def fuzz_embed(spark, rng, trial):
    """embedding_near_dup's recall-1.0 claim under random dims / cluster
    structure / thresholds.  Pairs with similarity inside a +-1e-5 band of
    the threshold are unchecked (the oracle's BLAS gram matrix and the
    engine's fold rescoring can each land an ulp apart around the 6dp
    rounding rule); a REAL recall bug loses geometrically-separated pairs,
    far outside that band."""
    from sparkkd import datapipe

    n = int(rng.integers(30, 2000))
    ddim = int(rng.choice([4, 16, 64, 96]))
    n_cl = max(1, int(rng.integers(1, max(2, n // 20))))
    thr = float(rng.choice([0.3, 0.6, 0.85, 0.95]))
    cents = rng.normal(size=(n_cl, ddim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    X = cents[rng.integers(0, n_cl, n)] + float(rng.choice([0.01, 0.1])) * rng.normal(size=(n, ddim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [row.astype(np.float32).tolist() for row in X],
        }
    )
    emb = spark.createDataFrame(pdf)
    # half the trials force the DISTRIBUTED pair plan (the >C_MAX path a
    # small corpus never reaches naturally) by shrinking the driver budget
    # to fewer buckets than the corpus occupies
    dist_plan = bool(rng.integers(0, 2))
    saved = datapipe._NEAR_DUP_DRIVER_C_MAX
    if dist_plan:
        datapipe._NEAR_DUP_DRIVER_C_MAX = 1
    try:
        got = datapipe.embedding_near_dup(emb, threshold=thr).toPandas()
    finally:
        datapipe._NEAR_DUP_DRIVER_C_MAX = saved
    got_set = set(zip(got["id_a"].tolist(), got["id_b"].tolist()))
    Xf = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    Xf /= np.linalg.norm(Xf, axis=1, keepdims=True)
    S = Xf @ Xf.T
    iu = np.triu_indices(n, 1)
    sims = S[iu]
    band = 1e-5
    must = sims >= thr + band
    may = sims >= thr - band
    cfg = dict(op="embed", n=n, d=ddim, n_cl=n_cl, thr=thr,
               dist_plan=dist_plan, must=int(must.sum()), got=len(got_set))
    missing = [
        (int(a), int(b))
        for a, b in zip(iu[0][must], iu[1][must])
        if (int(a), int(b)) not in got_set
    ]
    assert not missing, (cfg, missing[:5])
    allowed = set(zip(iu[0][may].tolist(), iu[1][may].tolist()))
    extra = [p for p in got_set if p not in allowed]
    assert not extra, (cfg, extra[:5])
    return cfg


def fuzz_cc(spark, rng, trial):
    """connected_components vs a union-find oracle on random graph shapes:
    sparse ER edges + planted long paths + self-loops + duplicate edges."""
    from sparkkd import datapipe

    n = int(rng.integers(5, 4000))
    m = int(rng.integers(1, max(2, 2 * n)))
    a = rng.integers(0, n, m)
    b = rng.integers(0, n, m)
    path_len = int(rng.integers(0, min(600, n)))
    if path_len >= 2:
        p = rng.choice(n, path_len, replace=False)
        a = np.concatenate([a, p[:-1]])
        b = np.concatenate([b, p[1:]])
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": a.astype(np.int64), "id_b": b.astype(np.int64)})
    )
    res = datapipe.connected_components(pairs, max_iter=80)
    got = res.toPandas()
    # free the result's final checkpoint NOW — 20+ trials of GC-deferred
    # checkpoint blocks OOM the default 1g driver (the very bug this
    # family's first campaign caught)
    datapipe._free_local_checkpoint(res)
    # union-find oracle
    parent = np.arange(n, dtype=np.int64)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(a.tolist(), b.tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    touched = sorted(set(a.tolist()) | set(b.tolist()))
    # component label = min id in component (over TOUCHED ids only)
    root_min: dict[int, int] = {}
    for x in touched:
        r = find(x)
        root_min[r] = min(root_min.get(r, x), x)
    want = {x: root_min[find(x)] for x in touched}
    cfg = dict(op="cc", n=n, edges=int(len(a)),
               comps=len(set(want.values())))
    gm = dict(zip(got["id"].astype(int), got["component"].astype(int)))
    assert gm == want, (cfg, {k: (gm.get(k), want[k]) for k in list(want)[:5]})
    return cfg


def fuzz_interval(spark, rng, trial):
    """interval_overlap_join vs a brute-force pandas non-equi join:
    random interval shapes (multi-bin spans, bin-boundary-aligned ends,
    empty intervals), several bin widths, hot and sparse keys — pair set
    and overlap lengths exact, each pair emitted exactly once."""
    from sparkkd import streaming

    nl = int(rng.integers(1, 600))
    nr = int(rng.integers(1, 600))
    n_users = int(rng.integers(1, 8))
    bin_us = int(rng.choice([7, 64, 1000, 86_400]))
    dur_cap = int(rng.choice([5, 200, 5000]))

    def mk(n):
        start = rng.integers(0, 20_000, n)
        end = start + rng.integers(0, dur_cap + 1, n)
        snap = rng.random(n) < 0.25
        end[snap] = ((end[snap] // bin_us) + 1) * bin_us
        return pd.DataFrame(
            {
                "user_id": rng.integers(0, n_users, n),
                "id": np.arange(n, dtype=np.int64),
                "start_us": start.astype(np.int64),
                "end_us": end.astype(np.int64),
            }
        )

    lp, rp = mk(nl), mk(nr)
    got = streaming.interval_overlap_join(
        spark.createDataFrame(lp), spark.createDataFrame(rp), bin_us=bin_us
    ).toPandas()
    m = lp.merge(rp, on="user_id", suffixes=("_l", "_r"))
    m = m[
        (m.start_us_l < m.end_us_r)
        & (m.start_us_r < m.end_us_l)
        & (m.end_us_l > m.start_us_l)
        & (m.end_us_r > m.start_us_r)
    ]
    want = set(
        zip(
            m.user_id.tolist(),
            m.id_l.tolist(),
            m.id_r.tolist(),
            (
                np.minimum(m.end_us_l, m.end_us_r)
                - np.maximum(m.start_us_l, m.start_us_r)
            ).tolist(),
        )
    )
    gset = set(
        zip(
            got.user_id.tolist(),
            got.l_id.tolist(),
            got.r_id.tolist(),
            got.overlap_us.tolist(),
        )
    )
    cfg = dict(op="interval", nl=nl, nr=nr, bin_us=bin_us, pairs=len(want))
    assert len(got) == len(want), (cfg, len(got))
    assert gset == want, cfg
    return cfg


def fuzz_split(spark, rng, trial):
    """split_assign vs a hashlib oracle: random split counts and integer
    weights, sparse random ids — every row in exactly the bucket the md5
    arithmetic demands."""
    import hashlib

    from sparkkd import datapipe

    n = int(rng.integers(1, 3000))
    k = int(rng.integers(2, 6))
    cuts = sorted(rng.choice(np.arange(1, 100), k - 1, replace=False).tolist())
    weights = tuple(int(w) for w in np.diff([0] + cuts + [100]))
    names = tuple(f"s{i}" for i in range(k))
    ids = rng.choice(10_000_000, n, replace=False).astype(np.int64)
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    got = datapipe.split_assign(docs, weights=weights, names=names).toPandas()
    edges = np.cumsum(weights)

    def want(i):
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 100
        for e, nm in zip(edges, names):
            if b < e:
                return nm
        raise AssertionError(b)

    cfg = dict(op="split", n=n, weights=list(weights))
    for r in got.itertuples():
        assert r.split == want(r.doc_id), (cfg, r.doc_id, r.split)
    return cfg


def _rand_events(rng, n, n_users, gap_us):
    """Random event table biased toward the nasty shapes: duplicate
    timestamps, gaps landing EXACTLY on the boundary (strict-> semantics),
    single-event users, bursts."""
    base = np.int64(1_600_000_000_000_000)
    steps = rng.choice(
        np.array([0, 1, 7, max(gap_us - 1, 0), gap_us, gap_us + 1], np.int64),
        size=n,
    )
    ts_us = base + np.cumsum(steps)
    rng.shuffle(ts_us)  # per-user deltas become arbitrary combinations
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime(ts_us, unit="us"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": rng.choice(["view", "click", "scroll"], size=n),
            "value": np.round(rng.uniform(0, 100, n), 2),
        }
    )


def fuzz_session(spark, rng, trial):
    """sessionize vs a pandas gaps-and-islands oracle: session boundaries
    (strictly-greater gap), tie timestamps (event_id tiebreak), counts and
    2dp-rounded value sums per session."""
    from sparkkd import streaming

    n = int(rng.integers(1, 2500))
    n_users = int(rng.integers(1, 50))
    gap_us = int(rng.choice([1, 1_000, 300_000_000, 10**12]))
    pdf = _rand_events(rng, n, n_users, gap_us)
    got = (
        streaming.sessionize(spark.createDataFrame(pdf), gap_us=gap_us)
        .toPandas()
        .sort_values(["user_id", "session_no"])
        .reset_index(drop=True)
    )
    o = pdf.copy()
    o["ts_us"] = o["ts"].astype("int64") // 1000
    o = o.sort_values(["user_id", "ts_us", "event_id"])
    prev = o.groupby("user_id")["ts_us"].shift()
    brk = (prev.isna() | ((o["ts_us"] - prev) > gap_us)).astype(int)
    o["session_no"] = brk.groupby(o["user_id"]).cumsum().astype(int)
    want = (
        o.groupby(["user_id", "session_no"], as_index=False)
        .agg(
            session_start_us=("ts_us", "min"),
            session_end_us=("ts_us", "max"),
            n_events=("ts_us", "size"),
            total_value=("value", "sum"),
        )
        .sort_values(["user_id", "session_no"])
        .reset_index(drop=True)
    )
    cfg = dict(op="session", n=n, users=n_users, gap_us=gap_us,
               sessions=len(want))
    assert len(got) == len(want), cfg
    for c in ["user_id", "session_no", "session_start_us", "session_end_us",
              "n_events"]:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), (cfg, c)
    # engine rounds HALF_UP, pandas sum is unrounded — compare with a
    # tolerance wider than any representation drift, narrower than a cent
    assert np.allclose(got["total_value"], np.round(want["total_value"], 2),
                       atol=0.006), cfg
    return cfg


def fuzz_asof(spark, rng, trial):
    """asof_join_events vs a per-user scan oracle: for every click, the
    view with the greatest (ts, event_id) among same-user views with
    ts <= click ts (ts-equality counts as prior; NULLs when none)."""
    from sparkkd import streaming

    n = int(rng.integers(1, 2000))
    n_users = int(rng.integers(1, 40))
    pdf = _rand_events(rng, n, n_users, gap_us=1000)
    got = (
        streaming.asof_join_events(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("event_id")
    )
    o = pdf.copy()
    o["ts_us"] = o["ts"].astype("int64") // 1000
    want = {}
    for uid, g in o.groupby("user_id"):
        views = g[g["event_type"] == "view"].sort_values(["ts_us", "event_id"])
        for _, row in g[g["event_type"] == "click"].iterrows():
            prior = views[views["ts_us"] <= row["ts_us"]]
            if len(prior):
                ref = prior.iloc[-1]
                want[int(row["event_id"])] = (
                    int(ref["event_id"]),
                    float(ref["value"]),
                    int(row["ts_us"] - ref["ts_us"]),
                )
            else:
                want[int(row["event_id"])] = (None, None, None)
    cfg = dict(op="asof", n=n, users=n_users, clicks=len(want))
    assert set(got.index) == set(want), cfg
    for eid, (rid, rval, gap) in want.items():
        r = got.loc[eid]
        if rid is None:
            assert pd.isna(r["ref_event_id"]), (cfg, eid)
        else:
            assert int(r["ref_event_id"]) == rid, (cfg, eid)
            assert float(r["ref_value"]) == rval, (cfg, eid)
            assert int(r["gap_us"]) == gap, (cfg, eid)
    return cfg


def _star_ring(rng, cx, cy, rmax):
    """Random star polygon ring (possibly strongly non-convex): sorted
    angles, per-vertex radii in [0.2, 1] * rmax."""
    kv = int(rng.integers(3, 12))
    ang = np.sort(rng.uniform(0, 2 * np.pi, kv))
    rad = rng.uniform(0.2, 1.0, kv) * rmax
    return cx + rad * np.cos(ang), cy + rad * np.sin(ang)


def _inside_even_odd(px, py, rings):
    """Independent even-odd oracle, scalar loop formulation (the engine's
    ray_cast_inside is a vectorized P x E kernel; this recomputes the
    crossing count per point per edge the textbook way)."""
    inside = np.zeros(len(px), dtype=bool)
    for xs, ys in rings:
        kv = len(xs)
        for e in range(kv):
            x1, y1 = xs[e], ys[e]
            x2, y2 = xs[(e + 1) % kv], ys[(e + 1) % kv]
            crosses = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            inside ^= crosses & (px < xi)
    return inside


def fuzz_pip(spark, rng, trial):
    """pip_join vs an independent even-odd ray cast over random star
    polygons (non-convex, optional holes), BOTH modes: the broadcast and
    distributed plans must match the oracle and each other."""
    n = int(rng.integers(10, 1200))
    npoly = int(rng.integers(1, 7))
    level = int(rng.integers(2, 9))
    flavor = str(rng.choice(["uniform", "clusters"]))
    ph, xy = _quantized(_coords(rng, n, flavor))
    img = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"i{j:06d}" for j in range(n)], "phash": ph})
    )
    rows, geoms = [], {}
    for p in range(npoly):
        pid = f"p{p:03d}"
        cx, cy = rng.uniform(-50, 50, 2)
        rings = [_star_ring(rng, cx, cy, float(rng.uniform(2, 25)))]
        if rng.integers(0, 3) == 0:  # hole ~1/3 of polygons
            rings.append(_star_ring(rng, cx, cy, float(rng.uniform(0.5, 1.5))))
        geoms[pid] = rings
        for ri, (xs, ys) in enumerate(rings):
            for si in range(len(xs)):
                rows.append((pid, ri, si, float(xs[si]), float(ys[si])))
    polys = spark.createDataFrame(
        pd.DataFrame(rows, columns=["poly_id", "ring", "seq", "x", "y"])
    )
    cfg = dict(op="pip", n=n, npoly=npoly, level=level, flavor=flavor,
               rings=sum(len(g) for g in geoms.values()))
    want = set()
    for pid, rings in geoms.items():
        ins = _inside_even_odd(xy[:, 0], xy[:, 1], rings)
        want |= {(f"i{j:06d}", pid) for j in np.flatnonzero(ins)}
    got_b = engine.pip_join(spark, img, polys, level=level).toPandas()
    got_d = engine.pip_join(
        spark, img, polys, level=level, mode="distributed"
    ).toPandas()
    sb = set(zip(got_b.image_id, got_b.poly_id))
    sd = set(zip(got_d.image_id, got_d.poly_id))
    assert sb == want, (cfg, len(sb), len(want),
                        list(sb ^ want)[:5])
    assert sd == want, (cfg, len(sd), len(want))
    cfg["pairs"] = len(want)
    return cfg


def fuzz_jaccard(spark, rng, trial):
    """ngram_jaccard_pairs (AllPairs prefix-filtered exact set-similarity
    join) vs brute-force Python set Jaccard over every doc pair, with
    Spark's HALF_UP 6dp rounding replicated exactly."""
    from sparkkd import datapipe

    nd = int(rng.integers(4, 160))
    ng = int(rng.integers(2, 5))
    thr = float(rng.uniform(0.15, 0.95))
    alpha = str(rng.choice(["ab", "abc", "abcd"]))
    lens = rng.integers(ng, 28, nd)
    texts = ["".join(rng.choice(list(alpha), ln)) for ln in lens]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [f"d{j:04d}" for j in range(nd)],
                      "text": texts})
    )
    cfg = dict(op="jacc", nd=nd, n=ng, thr=round(thr, 4), alpha=alpha)
    sets = [
        {t[i:i + ng] for i in range(max(len(t) - ng + 1, 1))} for t in texts
    ]
    want = {}
    for a in range(nd):
        for b in range(a + 1, nd):
            c = len(sets[a] & sets[b])
            if c == 0:
                continue
            j = c / (len(sets[a]) + len(sets[b]) - c)
            rj = np.floor(j * 1e6 + 0.5) / 1e6  # HALF_UP at 6dp, ties
            # impossible: union <= 60 cannot put c*1e6/u on an exact .5
            if rj >= thr:
                want[(f"d{a:04d}", f"d{b:04d}")] = rj
    got = datapipe.ngram_jaccard_pairs(docs, threshold=thr, n=ng).toPandas()
    gm = {(r.doc_a, r.doc_b): r.jacc for r in got.itertuples()}
    assert set(gm) == set(want), (cfg, len(gm), len(want),
                                  list(set(gm) ^ set(want))[:5])
    for key, v in want.items():
        assert abs(gm[key] - v) < 1e-12, (cfg, key, gm[key], v)
    cfg["pairs"] = len(want)
    return cfg


def fuzz_snapshot(spark, rng, trial):
    """Dynamic insert (reference C6): a random write/append/compact
    sequence must be indistinguishable from a static build — kNN over the
    final snapshot equals the brute-force oracle over the full corpus."""
    import shutil
    import tempfile

    from sparkkd.snapshots import SnapshotStore

    n = int(rng.integers(2, 1200))
    nq = int(rng.integers(1, 100))
    k = int(rng.integers(1, 9))
    flavor = str(rng.choice(["uniform", "clusters", "point_mass"]))
    ph, xy = _quantized(_coords(rng, n, flavor))
    pdf = pd.DataFrame(
        {"image_id": [f"i{j:06d}" for j in range(n)], "phash": ph}
    )
    n_batches = int(rng.integers(1, 6))
    n_cuts = min(n_batches - 1, n - 1)
    cuts = (
        np.sort(rng.choice(np.arange(1, n), size=n_cuts, replace=False))
        if n_cuts > 0
        else np.array([], dtype=int)
    )
    parts = np.split(np.arange(n), cuts)
    root = tempfile.mkdtemp(prefix="sparkkd-fuzz-snap-")
    try:
        store = SnapshotStore(root)
        store.write(spark.createDataFrame(pdf.iloc[parts[0]]))
        for p in parts[1:]:
            store.append(spark.createDataFrame(pdf.iloc[p]))
        n_compact = 0
        while store.needs_compaction() and n_compact < 10:
            store.compact(spark)
            n_compact += 1
        snap = store.read(spark)
        qxy = _coords(rng, nq, flavor)
        q = spark.createDataFrame(
            pd.DataFrame({"query_id": [f"q{j:05d}" for j in range(nq)],
                          "qlon": qxy[:, 0], "qlat": qxy[:, 1]})
        )
        got = (
            engine.knn_join(spark, snap, q, k=k, n_images_hint=n)
            .toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        d = np.sqrt(((qxy[:, None, :] - xy[None, :, :]) ** 2).sum(-1))
        rows = []
        for qi_ in range(nq):
            idx = np.lexsort((np.arange(n), d[qi_]))[:k]
            for rk, j in enumerate(idx, 1):
                rows.append((f"q{qi_:05d}", f"i{j:06d}", d[qi_, j], rk))
        want = (
            pd.DataFrame(rows, columns=["query_id", "image_id", "dist", "rank"])
            .sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        cfg = dict(op="snap", n=n, nq=nq, k=k, flavor=flavor,
                   batches=len(parts), compacted=n_compact)
        assert len(got) == len(want), (cfg, len(got), len(want))
        assert (got.image_id.to_numpy() == want.image_id.to_numpy()).all(), cfg
        assert np.array_equal(got.dist.to_numpy(), want.dist.to_numpy()), cfg
        return cfg
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _brute_dbscan_labels(ids, adj, min_pts):
    """Union-find DBSCAN with the engine's deterministic label rules
    (cluster = min core id; border takes min core-neighbor label).
    ``adj`` is the symmetric self-exclusive neighbor matrix; a point is
    core iff its neighborhood INCLUDING itself holds >= min_pts points.
    Returns (roles, labels) object arrays aligned to ``ids``."""
    n = len(ids)
    self_inc = adj.copy()
    np.fill_diagonal(self_inc, True)
    is_core = self_inc.sum(axis=1) >= min_pts
    parent = np.arange(n)

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    ci = np.nonzero(is_core)[0]
    for a in ci:
        for b in np.nonzero(self_inc[a] & is_core)[0]:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comp_label = {}
    for a in ci:
        r = find(a)
        if r not in comp_label or ids[a] < comp_label[r]:
            comp_label[r] = ids[a]
    roles = np.full(n, "noise", dtype=object)
    labels = np.full(n, None, dtype=object)
    roles[is_core] = "core"
    for a in ci:
        labels[a] = comp_label[find(a)]
    for a in np.nonzero(~is_core)[0]:
        nbc = np.nonzero(adj[a] & is_core)[0]
        if len(nbc) > 0:
            roles[a] = "border"
            labels[a] = min(comp_label[find(b)] for b in nbc)
    return roles, labels


def fuzz_dbscan(spark, rng, trial):
    """geo_dbscan (radius self-join + degree + grid-contracted CC + border
    assignment) vs brute-force union-find DBSCAN (shared label rules)."""
    from sparkkd import analytics

    n = int(rng.integers(2, 800))
    flavor = str(rng.choice(["uniform", "clusters", "point_mass", "boundary"]))
    eps = float(rng.uniform(0.05, 5.0))
    min_pts = int(rng.integers(2, 9))
    mcr = int(rng.choice([4, 16, 64, 8192]))
    ph, xy = _quantized(_coords(rng, n, flavor))
    ids = np.array([f"i{j:06d}" for j in range(n)])
    img = spark.createDataFrame(pd.DataFrame({"image_id": ids, "phash": ph}))
    got = (
        analytics.geo_dbscan(spark, img, eps=eps, min_pts=min_pts,
                             max_cell_rows=mcr)
        .toPandas().sort_values("image_id").reset_index(drop=True)
    )
    adj = np.sqrt(((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1)) <= eps
    np.fill_diagonal(adj, False)
    roles, labels = _brute_dbscan_labels(ids, adj, min_pts)
    cfg = dict(op="dbscan", n=n, flavor=flavor, eps=round(eps, 3),
               min_pts=min_pts, mcr=mcr,
               n_core=int((roles == "core").sum()),
               n_clusters=len({l for l in labels if l is not None}))
    assert len(got) == n, (cfg, len(got))
    assert (got.image_id.to_numpy() == ids).all(), cfg
    assert (got.role.to_numpy() == roles).all(), (
        cfg, np.nonzero(got.role.to_numpy() != roles)[0][:5])
    gl = got.cluster.to_numpy(dtype=object)
    gl = np.where(pd.isna(gl), None, gl)
    assert (gl == labels).all(), (cfg, np.nonzero(gl != labels)[0][:5])
    return cfg


def fuzz_embdbscan(spark, rng, trial):
    """embedding_dbscan (cosine-space DBSCAN over the near-dup pair
    table) vs brute-force union-find with the shared label rules.  The
    threshold is nudged to a gap midpoint >= 2e-4 from every realized
    similarity so detector-vs-oracle ulp noise around the 6dp rounding
    rule can never flip a membership (the same band reasoning as
    fuzz_embed, made airtight by construction)."""
    from sparkkd import analytics, datapipe

    n = int(rng.integers(5, 500))
    d = int(rng.choice([8, 16, 64]))
    n_cl = max(1, int(rng.integers(1, max(2, n // 15))))
    cents = rng.normal(size=(n_cl, d))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    X = cents[rng.integers(0, n_cl, n)] + float(
        rng.choice([0.05, 0.3])
    ) * rng.normal(size=(n, d))
    ids = rng.permutation(np.arange(n, dtype=np.int64) * 7 + 3)  # scrambled
    pdf = pd.DataFrame(
        {"vec_id": ids,
         "embedding": [row.astype(np.float32).tolist() for row in X]}
    )
    Xf = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    N = np.linalg.norm(Xf, axis=1)
    S = datapipe._round6_away((Xf @ Xf.T) / np.outer(N, N))
    iu = np.triu_indices(n, 1)
    su = np.unique(S[iu])
    thr0 = float(rng.uniform(0.2, 0.95))
    pos = int(np.searchsorted(su, thr0))
    lo = su[pos - 1] if pos > 0 else thr0 - 1.0
    hi = su[pos] if pos < len(su) else thr0 + 1.0
    thr = thr0 if min(thr0 - lo, hi - thr0) >= 2e-4 else (lo + hi) / 2.0
    if min(thr - lo, hi - thr) < 1e-6:  # freak dense gap: shift clear
        thr = hi + 1e-3
    min_pts = int(rng.integers(2, 7))
    adj = (S >= thr) & ~np.eye(n, dtype=bool)
    roles, labels = _brute_dbscan_labels(ids, adj, min_pts)
    emb = spark.createDataFrame(pdf)
    got = (
        analytics.embedding_dbscan(spark, emb, threshold=float(thr),
                                   min_pts=min_pts)
        .toPandas()
        .set_index("vec_id").loc[ids].reset_index()
    )
    cfg = dict(op="embdbscan", n=n, d=d, n_cl=n_cl, thr=round(float(thr), 4),
               min_pts=min_pts, n_core=int((roles == "core").sum()),
               n_clusters=len({l for l in labels if l is not None}))
    assert len(got) == n, (cfg, len(got))
    assert (got.role.to_numpy() == roles).all(), (
        cfg, np.nonzero(got.role.to_numpy() != roles)[0][:5])
    gl = got.cluster.to_numpy(dtype="float64")
    el = np.array([np.nan if l is None else float(l) for l in labels])
    np.testing.assert_array_equal(gl, el, err_msg=str(cfg))
    return cfg


def fuzz_labelstats(spark, rng, trial):
    """knn_label_stats (majority label + agreement over exact cosine
    top-k) vs a NumPy recomputation with identical ranking and tie rules.
    Escape hatch: a mismatch is excused ONLY if some similarity sits
    within 1e-9 of a 6dp rounding boundary (the documented detector-vs-
    oracle ulp class — the gram-matrix oracle and the engine's fold
    rescore can then legitimately round to adjacent 6dp values)."""
    from sparkkd import analytics, datapipe

    n = int(rng.integers(5, 250))
    d = int(rng.choice([8, 16, 64]))
    n_cl = max(1, int(rng.integers(1, max(2, n // 12))))
    n_lab = int(rng.integers(2, 6))
    k = int(rng.integers(1, 13))
    cents = rng.normal(size=(n_cl, d))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    X = cents[rng.integers(0, n_cl, n)] + float(
        rng.choice([0.05, 0.3])
    ) * rng.normal(size=(n, d))
    ids = rng.permutation(np.arange(n, dtype=np.int64) * 3 + 1)
    labels = rng.integers(0, n_lab, n).astype(np.int32)
    pdf = pd.DataFrame(
        {"vec_id": ids, "label": labels,
         "embedding": [row.astype(np.float32).tolist() for row in X]}
    )
    Xf = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    N = np.linalg.norm(Xf, axis=1)
    raw = (Xf @ Xf.T) / np.outer(N, N)
    S = datapipe._round6_away(raw)
    rows = []
    for a in range(n):
        cand = [b for b in range(n) if b != a]
        cand.sort(key=lambda b: (-S[a, b], ids[b]))
        nb = cand[:k]
        nbl = labels[nb]
        counts = {}
        for l in nbl:
            counts[l] = counts.get(l, 0) + 1
        majority = min(counts, key=lambda l: (-counts[l], l))
        n_agree = int((nbl == labels[a]).sum())
        rows.append((ids[a], labels[a], majority, n_agree, len(nb),
                     float(n_agree) / len(nb)))
    expect = (
        pd.DataFrame(rows, columns=["vec_id", "own_label", "majority_label",
                                    "n_agree", "n_nbrs", "agree_frac"])
        .sort_values("vec_id").reset_index(drop=True)
    )
    got = (
        analytics.knn_label_stats(spark.createDataFrame(pdf), k=k)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    cfg = dict(op="labelstats", n=n, d=d, n_cl=n_cl, n_lab=n_lab, k=k)
    try:
        pd.testing.assert_frame_equal(got, expect, check_dtype=False)
    except AssertionError:
        scaled = raw[np.triu_indices(n, 1)] * 1e6
        hazard = float(np.abs(scaled - np.floor(scaled) - 0.5).min())
        if hazard < 1e-3:  # some sim within 1e-9 of a rounding boundary
            cfg["ulp_skip"] = True
            return cfg
        raise
    return cfg


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        # the embed/cc families localCheckpoint intermediate frames; on the
        # 1g default heap a long campaign OOMs the driver JVM even with the
        # GC discipline below (observed at ~24 mixed-family trials)
        .config("spark.driver.memory", os.environ.get("FUZZ_DRIVER_MEM", "6g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(SEED)
    kinds = [fuzz_geo, fuzz_pose, fuzz_embed, fuzz_cc, fuzz_session,
             fuzz_asof, fuzz_snapshot, fuzz_pip, fuzz_jaccard,
             fuzz_interval, fuzz_split, fuzz_dbscan, fuzz_embdbscan,
             fuzz_labelstats]
    for t in range(N_TRIALS):
        cfg = kinds[t % len(kinds)](spark, rng, t)
        print(f"[{t}] OK {json.dumps(cfg)}", flush=True)
        # py4j pins every JVM object handed to Python until Python GC
        # detaches the proxy — on a deliberately small (default-1g) driver
        # heap, hundreds of trials of plan/DataFrame handles otherwise
        # OOM the JVM even though the engine released its blocks.  Python
        # GC flushes the detach queue; a periodic JVM GC lets Spark's
        # ContextCleaner reclaim the freed broadcasts and shuffles.
        gc.collect()
        if t % 8 == 7:
            spark.sparkContext._jvm.System.gc()
    print(f"ALL {N_TRIALS} TRIALS PASSED (seed={SEED})")


if __name__ == "__main__":
    main()
