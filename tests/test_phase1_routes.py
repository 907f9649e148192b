"""The routes every kNN join's phase 1 takes on its way to phase 2: the
home-probe kernel emits each query's phase-2 candidates itself, so queries
whose home is empty, whose home is split over hash salts, or whose home
rows all lie beyond max_radius must come out of that one kernel right.
Each case runs through the index AND the one-shot entry point and is
compared exactly with NumPy brute force; a coverage check proves the
case really takes the route it names.  Also: the plan shape (two Python
cogroups, no Python map) and the per-index broadcast lifecycle."""

import types

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkkd import cells, engine, so3engine

pytestmark = pytest.mark.spark

INF = float("inf")


def _topk_rows(qids, ids, D, k, mr=INF):
    """Brute-force bounded kNN: per query the k smallest (dist, id) with
    dist <= mr, ranked 1..k."""
    rows = []
    for i, qid in enumerate(qids):
        for r, j in enumerate(np.lexsort((ids, D[i]))[:k]):
            if D[i, j] <= mr:
                rows.append((qid, ids[j], D[i, j], r + 1))
    return pd.DataFrame(rows, columns=["query_id", "id", "d", "rank"])


def _assert_exact(got, want, id_col, dist_col):
    got = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(got) == len(want), (len(got), len(want))
    assert (got["query_id"].to_numpy() == want["query_id"].to_numpy()).all()
    assert (got[id_col].to_numpy() == want["id"].to_numpy()).all()
    assert (got["rank"].to_numpy() == want["rank"].to_numpy()).all()
    assert np.array_equal(got[dist_col].to_numpy(), want["d"].to_numpy())


# ------------------------------------------------------------------ planar


def _planar(spark, xy, qxy, k, level, max_cell_rows=8192, mr=INF):
    """Run both planar entry points against brute force; returns (index,
    per-query home keys, per-image keys, distance matrix) for the
    coverage checks (caller unpersists)."""
    ph = cells.coords_to_phash(xy[:, 1], xy[:, 0])
    lat, lon = cells.phash_to_coords(ph)
    P = np.column_stack([lon, lat])
    ids = np.array([f"i{j:06d}" for j in range(len(P))])
    qids = np.array([f"q{j:05d}" for j in range(len(qxy))])
    img = spark.createDataFrame(pd.DataFrame({"image_id": ids, "phash": ph}))
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": qids, "qlon": qxy[:, 0], "qlat": qxy[:, 1]})
    )
    diff = qxy[:, None, :] - P[None, :, :]
    D = np.sqrt((diff * diff).sum(-1))
    want = _topk_rows(qids, ids, D, k, mr)
    index = engine.GeoIndex(spark, img, level=level, max_cell_rows=max_cell_rows)
    for got in (
        index.knn_join(q, k=k, max_radius=mr),
        engine.knn_join(
            spark, img, q, k=k, level=level, max_cell_rows=max_cell_rows,
            max_radius=mr,
        ),
    ):
        _assert_exact(got.toPandas(), want, "image_id", "dist")
    qkey = np.array(
        [r[0] for r in q.select(F.expr(index.stats.key_sql("qlon", "qlat"))).collect()]
    )
    kmap = dict(index.img_salted.select("image_id", "key").collect())
    ikey = np.array([kmap[i] for i in ids])
    return index, qkey, ikey, D


def test_planar_empty_home_cells(spark):
    rng = np.random.default_rng(31)
    xy = np.vstack(
        [
            rng.uniform([10, 5], [12, 6], (400, 2)),
            rng.uniform([-100, -40], [-95, -38], (60, 2)),
        ]
    )
    qxy = np.vstack(
        [rng.uniform([-120, -50], [40, 30], (40, 2)), rng.uniform([10, 5], [12, 6], (8, 2))]
    )
    index, qkey, _, _ = _planar(spark, xy, qxy, k=5, level=6)
    try:
        empty = ~np.isin(qkey, index.stats.keys)
        assert 0 < empty.sum() < len(qkey)
    finally:
        index.unpersist()


def test_planar_multi_salt_home(spark):
    rng = np.random.default_rng(32)
    xy = np.vstack([np.tile([3.3, 4.4], (300, 1)), rng.uniform(0, 10, (200, 2))])
    ph = cells.coords_to_phash(np.array([4.4]), np.array([3.3]))
    lat, lon = cells.phash_to_coords(ph)
    qxy = np.vstack(
        [
            np.tile([lon[0], lat[0]], (6, 1)),
            [lon[0], lat[0]] + rng.normal(0, 0.05, (10, 2)),
            rng.uniform(0, 10, (10, 2)),
        ]
    )
    for k in (6, 20):
        index, qkey, _, _ = _planar(spark, xy, qxy, k=k, level=4, max_cell_rows=16)
        try:
            salt_n = dict(zip(index.stats.keys.tolist(), index.stats.salt_n.tolist()))
            assert any(salt_n.get(int(h), 0) > 1 for h in qkey)
        finally:
            index.unpersist()


def test_planar_max_radius_every_home_row_out_of_radius(spark):
    """A query at the left edge of its cell whose home rows all sit at the
    cell's right edge: none is within max_radius, but the point just
    across the left edge is."""
    rng = np.random.default_rng(33)
    level = 5
    wx, wy = cells.X_SPAN / (1 << level), cells.Y_SPAN / (1 << level)
    pts, qs = [], []
    for ix, iy in [(17, 18), (20, 21), (22, 12), (9, 25)]:
        x0, y0 = cells.X_MIN + ix * wx, cells.Y_MIN + iy * wy
        pts.append(np.column_stack(
            [np.full(12, x0 + 0.9 * wx), y0 + wy * rng.uniform(0.3, 0.7, 12)]
        ))
        pts.append([[x0 - 0.05 * wx, y0 + 0.5 * wy]])
        qs.append([x0 + 0.05 * wx, y0 + 0.5 * wy])
    # background rows and queries stay west of every constructed cell
    xy = np.vstack(pts + [rng.uniform([-170, -60], [-100, 60], (200, 2))])
    qxy = np.vstack([np.array(qs), rng.uniform([-170, -60], [-100, 60], (20, 2))])
    mr = 0.3 * wx
    index, qkey, ikey, D = _planar(spark, xy, qxy, k=3, level=level, mr=mr)
    try:
        routed = [
            (ikey == h).any()
            and not (D[i, ikey == h] <= mr).any()
            and (D[i] <= mr).any()
            for i, h in enumerate(qkey)
        ]
        assert sum(routed) >= 4
    finally:
        index.unpersist()


# ------------------------------------------------------------------- SO(3)


def _unit(a):
    return a / np.linalg.norm(a, axis=1, keepdims=True)


def _pose_frames(spark, P, Q, T=None, QT=None):
    T = np.zeros((len(P), 3)) if T is None else T
    QT = np.zeros((len(Q), 3)) if QT is None else QT
    ids = np.array([f"p{j:06d}" for j in range(len(P))])
    qids = np.array([f"q{j:05d}" for j in range(len(Q))])

    def frame(idc, idv, R, t):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    idc: idv,
                    "qw": R[:, 0], "qx": R[:, 1], "qy": R[:, 2], "qz": R[:, 3],
                    "tx": t[:, 0], "ty": t[:, 1], "tz": t[:, 2],
                }
            )
        )

    return frame("pose_id", ids, P, T), frame("query_id", qids, Q, QT), ids, qids


def _ang_exact(Q, P):
    """The engine's own angular formula (left-associated dot, libm acos)."""
    return np.stack([so3engine._angular_np(np.repeat(q[None], len(P), 0), P) for q in Q])


def _so3(spark, P, Q, k, level, max_cell_rows=16384, mr=INF):
    poses, queries, ids, qids = _pose_frames(spark, P, Q)
    D = _ang_exact(Q, P)
    want = _topk_rows(qids, ids, D, k, mr)
    index = so3engine.So3Index(spark, poses, level=level, max_cell_rows=max_cell_rows)
    for got in (
        index.knn_join(queries, k=k, max_radius=mr),
        so3engine.so3_knn_join(
            spark, poses, queries, k=k, level=level, max_cell_rows=max_cell_rows,
            max_radius=mr,
        ),
    ):
        _assert_exact(got.toPandas(), want, "pose_id", "ang")
    return index, queries, ids, D


def _pose_homes(index, queries, neg=False):
    """Per-query home leaf key and home pid (-1 when unoccupied) of the
    plus probe (neg=True: the minus probe), query_id order."""
    leaf = index.leaf_expr
    if neg:
        leaf = so3engine.leaf_key_sql(
            [f"(- {c})" for c in so3engine.CCOLS], so3engine._B4, index.layout
        )
    pdf = (
        index._queries(queries).select("query_id", F.expr(leaf).alias("key"))
        .toPandas().sort_values("query_id")
    )
    pid = dict(zip(index.layout.leaf_keys.tolist(), index.layout.leaf_pid.tolist()))
    keys = pdf["key"].to_numpy()
    return keys, np.array([pid.get(int(k_), -1) for k_ in keys])


def _corpus_pids(index, ids):
    m = {
        r.pose_id: r.part_key >> so3engine.SALT_BITS
        for r in index.corpus.select("pose_id", "part_key").collect()
    }
    return np.array([m[i] for i in ids])


def test_so3_empty_home_leaves(spark):
    rng = np.random.default_rng(41)
    center = _unit(np.array([[0.6, 0.3, -0.5, 0.55]]))
    P = _unit(center + rng.normal(0, 0.05, (300, 4)))
    Q = np.vstack([_unit(rng.normal(size=(30, 4))), _unit(center + rng.normal(0, 0.05, (6, 4)))])
    index, queries, _, _ = _so3(spark, P, Q, k=5, level=2)
    try:
        _, home = _pose_homes(index, queries)
        assert 0 < (home < 0).sum() < len(Q)
    finally:
        index.unpersist()


def test_so3_multi_salt_home(spark):
    rng = np.random.default_rng(42)
    mass = _unit(np.array([[0.5, -0.5, 0.5, 0.5]]))
    P = np.vstack([np.repeat(mass, 400, 0), _unit(rng.normal(size=(100, 4)))])
    Q = np.vstack(
        [np.repeat(mass, 4, 0), _unit(mass + rng.normal(0, 0.02, (8, 4))),
         _unit(rng.normal(size=(8, 4)))]
    )
    index, queries, _, _ = _so3(spark, P, Q, k=6, level=None, max_cell_rows=32)
    try:
        _, home = _pose_homes(index, queries)
        assert (index.layout.p_salt_n[home[home >= 0]] > 1).any()
    finally:
        index.unpersist()


def test_so3_max_radius_every_home_row_out_of_radius(spark):
    """Queries whose home partition holds only the A cluster (~0.46 rad
    away) while the B cluster sits ~0.05 rad away across the cx = 0
    boundary — a different partition (partitions never straddle a level-1
    ancestor, and the background avoids the queries' ancestor)."""
    rng = np.random.default_rng(43)
    q0, a0, b0 = _unit(
        np.array([[0.7, 0.02, 0.3, 0.2], [0.7, 0.3, 0.1, 0.35], [0.7, -0.02, 0.3, 0.2]])
    )
    bg = _unit(rng.normal(size=(1500, 4)))
    bg *= np.where(bg[:, :1] < 0, -1.0, 1.0)  # canonical: cw >= 0
    bg = bg[~(bg >= 0).all(axis=1)]  # nothing else under the home ancestor
    P = np.vstack(
        [_unit(a0 + rng.normal(0, 1e-3, (20, 4))),
         _unit(b0 + rng.normal(0, 1e-3, (20, 4))), bg]
    )
    Q = np.vstack([_unit(q0 + rng.normal(0, 1e-3, (6, 4))), _unit(rng.normal(size=(20, 4)))])
    mr = 0.2
    index, queries, ids, D = _so3(spark, P, Q, k=4, level=2, mr=mr)
    try:
        _, home = _pose_homes(index, queries)
        pids = _corpus_pids(index, ids)
        routed = [
            h >= 0 and not (D[i, pids == h] <= mr).any() and (D[i] <= mr).any()
            for i, h in enumerate(home)
        ]
        assert sum(routed[:6]) == 6
    finally:
        index.unpersist()


def test_so3_qw_zero_minus_probe_home_occupied(spark):
    """qw = 0 puts the minus probe (-0.0, -cx, -cy, -cz) in the same w
    cell as corpus points with small positive cw: its home is occupied,
    and its home pid must be excluded from the minus sign's candidates."""
    rng = np.random.default_rng(44)
    P = _unit(rng.normal(size=(600, 4)))
    P[:, 0] = np.abs(P[:, 0]) * 0.25
    P = _unit(P)
    Q = _unit(rng.normal(size=(30, 4)))
    Q[:, 0] = 0.0
    Q = _unit(Q)
    index, queries, _, _ = _so3(spark, P, Q, k=5, level=2, max_cell_rows=64)
    try:
        _, plus = _pose_homes(index, queries)
        _, minus = _pose_homes(index, queries, neg=True)
        assert (minus >= 0).any()
        assert ((minus >= 0) & (minus != plus)).any()
    finally:
        index.unpersist()


# ------------------------------------------------------------------- SE(3)


def _se3(spark, P, T, Q, QT, k, level, max_cell_rows=16384, rw=1.0, tw=1.0):
    poses, queries, ids, qids = _pose_frames(spark, P, Q, T, QT)
    diff = QT[:, None, :] - T[None, :, :]
    D = rw * _ang_exact(Q, P) + tw * np.sqrt((diff * diff).sum(-1))
    want = _topk_rows(qids, ids, D, k)
    index = so3engine.Se3Index(spark, poses, level=level, max_cell_rows=max_cell_rows)
    for got in (
        index.knn_join(queries, k=k, rot_weight=rw, trans_weight=tw),
        so3engine.se3_knn_join(
            spark, poses, queries, k=k, rot_weight=rw, trans_weight=tw,
            level=level, max_cell_rows=max_cell_rows,
        ),
    ):
        _assert_exact(got.toPandas(), want, "pose_id", "dist")
    return index, queries


def test_se3_empty_home_leaves(spark):
    rng = np.random.default_rng(51)
    T = np.vstack(
        [rng.uniform(0.2, 0.8, (300, 3)), rng.uniform(9.2, 9.8, (300, 3))]
    )
    P = _unit(rng.normal(size=(600, 4)))
    QT = np.vstack([rng.uniform(0, 10, (30, 3)), rng.uniform(0.2, 0.8, (6, 3))])
    Q = _unit(rng.normal(size=(36, 4)))
    index, queries = _se3(spark, P, T, Q, QT, k=5, level=3)
    try:
        _, home = _pose_homes(index, queries)
        assert 0 < (home < 0).sum() < len(Q)
    finally:
        index.unpersist()


def test_se3_multi_salt_home(spark):
    rng = np.random.default_rng(52)
    mass_r = _unit(np.array([[0.3, 0.4, -0.5, 0.7]]))
    T = np.vstack([np.tile([1.0, 2.0, 3.0], (400, 1)), rng.uniform(0, 5, (100, 3))])
    P = np.vstack([np.repeat(mass_r, 400, 0), _unit(rng.normal(size=(100, 4)))])
    QT = np.vstack([np.tile([1.0, 2.0, 3.0], (4, 1)), rng.uniform(0, 5, (10, 3))])
    Q = np.vstack([np.repeat(mass_r, 4, 0), _unit(rng.normal(size=(10, 4)))])
    index, queries = _se3(spark, P, T, Q, QT, k=6, level=None, max_cell_rows=32)
    try:
        _, home = _pose_homes(index, queries)
        assert (index.layout.p_salt_n[home[home >= 0]] > 1).any()
    finally:
        index.unpersist()


# -------------------------------------------------------------- plan shape


def _python_op_counts(df) -> dict[str, int]:
    """Node names of the executed plan, descending into adaptive query
    stages and the plans of cached relations (each cache counted once)."""
    counts: dict[str, int] = {}
    seen: set[int] = set()

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        counts[node.nodeName()] = counts.get(node.nodeName(), 0) + 1
        if cls == "InMemoryTableScanExec":
            rel = node.relation()
            if rel.cacheBuilder().hashCode() not in seen:
                seen.add(rel.cacheBuilder().hashCode())
                walk(rel.cachedPlan())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return counts


def test_knn_plans_hold_two_python_cogroups_and_no_python_map(spark):
    rng = np.random.default_rng(61)
    xy = rng.uniform([-30, -20], [30, 20], (800, 2))
    ph = cells.coords_to_phash(xy[:, 1], xy[:, 0])
    img = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"i{j}" for j in range(len(xy))], "phash": ph})
    )
    qxy = rng.uniform([-30, -20], [30, 20], (50, 2))
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": [f"q{j}" for j in range(50)], "qlon": qxy[:, 0], "qlat": qxy[:, 1]})
    )
    P = _unit(rng.normal(size=(800, 4)))
    poses, queries, _, _ = _pose_frames(
        spark, P, _unit(rng.normal(size=(40, 4))),
        rng.uniform(0, 5, (800, 3)), rng.uniform(0, 5, (40, 3)),
    )
    geo = engine.GeoIndex(spark, img, max_cell_rows=64)
    so3 = so3engine.So3Index(spark, poses, max_cell_rows=64)
    se3 = so3engine.Se3Index(spark, poses, max_cell_rows=64)
    try:
        for name, out in (
            ("geo", geo.knn_join(q, k=4)),
            ("so3", so3.knn_join(queries, k=4)),
            ("se3", se3.knn_join(queries, k=4)),
        ):
            out.collect()
            counts = _python_op_counts(out)
            assert counts.get("FlatMapCoGroupsInArrow", 0) == 2, (name, counts)
            python_maps = {n: c for n, c in counts.items() if "MapIn" in n}
            assert not python_maps, (name, counts)
    finally:
        for idx in (geo, so3, se3):
            idx.unpersist()


# ------------------------------------------------------ broadcast lifecycle


def _broadcasts(owner):
    from pyspark import Broadcast

    cache = owner.__dict__.get("_runtime_cache", {})
    return [v for v in cache.values() if isinstance(v, Broadcast)]


def test_index_broadcast_built_once_and_destroyed_by_unpersist(spark):
    rng = np.random.default_rng(71)
    xy = rng.uniform([-30, -20], [30, 20], (500, 2))
    img = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"i{j}" for j in range(len(xy))],
                "phash": cells.coords_to_phash(xy[:, 1], xy[:, 0]),
            }
        )
    )
    qxy = rng.uniform([-30, -20], [30, 20], (30, 2))
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": [f"q{j}" for j in range(30)], "qlon": qxy[:, 0], "qlat": qxy[:, 1]})
    )
    geo = engine.GeoIndex(spark, img, max_cell_rows=64)
    poses, queries, _, _ = _pose_frames(
        spark, _unit(rng.normal(size=(400, 4))), _unit(rng.normal(size=(20, 4)))
    )
    so3 = so3engine.So3Index(spark, poses, max_cell_rows=64)
    runs = [
        (geo, geo, lambda: geo.knn_join(q, k=3), lambda: geo.radius_join(q, 2.0)),
        (so3, so3.layout, lambda: so3.knn_join(queries, k=3),
         lambda: so3.radius_join(queries, 0.3)),
    ]
    for index, owner, knn, radius in runs:
        ids = set()
        for join in (knn, radius, knn, radius):
            join().collect()
            bcs = _broadcasts(owner)
            assert len(bcs) == 1, bcs
            ids.add(bcs[0]._jbroadcast.id())
        assert len(ids) == 1
        (bc,) = _broadcasts(owner)
        index.unpersist()
        assert not bc._jbroadcast.isValid()
        assert _broadcasts(owner) == []


def test_cached_drops_entries_of_other_applications(spark):
    owner = types.SimpleNamespace()
    owner._runtime_cache = {("leaf_salts", "app-19700101000000-0000"): "stale"}
    key = ("leaf_salts", engine._session_key(spark))
    assert engine._cached(owner, key, lambda: "fresh") == "fresh"
    assert owner._runtime_cache == {key: "fresh"}


def test_session_key_raises_without_application_id():
    fake = types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId=None))
    with pytest.raises(RuntimeError, match="applicationId"):
        engine._session_key(fake)
