"""The benchmark's workloads: seeded inputs, index set-up, and the ops a
single closed-loop client issues, each with its output check.

An op is one batch through a public entry point of sparkkd.  It is timed in
two parts: the *call* (the entry point itself: driver planning plus any eager
collects it runs) and the *action* (``toArrow()``, which executes the
returned plan and hands every result row to the client).  Checks run after
the timed window, on the rows of the last batch of each op.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from . import inputs, oracle

# sizes per scale; "full" is what BENCHMARK.json runs, "tiny" is for the
# benchmark's own test
SIZES = {
    "full": {
        "n_images": 50_000,
        "n_queries": 5_000,
        "micro_batch": 256,
        "radius": 1.0,
        "n_polygons": 32,
        "n_poses": 15_000,
        "n_pose_queries": 300,
        "setup_reps": 3,
        "check_sample": 32,
    },
    "tiny": {
        "n_images": 3_000,
        "n_queries": 200,
        "micro_batch": 32,
        "radius": 3.0,
        "n_polygons": 32,
        "n_poses": 3_000,
        "n_pose_queries": 100,
        "setup_reps": 2,
        "check_sample": 8,
    },
}

KNN_K = 8
SO3_K = 8
SE3_K = 4
SE3_ROT_WEIGHT = 2.0
SE3_TRANS_WEIGHT = 0.5
TILE_LEVEL = 7


def _pick(rng: np.random.Generator, n: int, m: int) -> np.ndarray:
    return np.sort(rng.choice(n, size=min(m, n), replace=False))


def _rows_of(table, col: str, ids):
    import pyarrow as pa
    import pyarrow.compute as pc

    return table.filter(pc.is_in(table.column(col), pa.array([str(i) for i in ids])))


@dataclass
class Batch:
    """One op's input: the query DataFrame and the positions of its rows in
    the workload's NumPy query arrays (None = the whole pool)."""

    df: object
    rows: np.ndarray | None = None


class Op:
    name = ""
    layer = "engine"
    n_queries = 0  # query rows per batch (0: the op takes no queries)
    check_n = 32  # sampled queries compared with brute force

    def batch(self, rng: np.random.Generator) -> Batch:
        raise NotImplementedError

    def call(self, batch: Batch):
        raise NotImplementedError

    def action(self, result):
        """Execute the call's plan; returns (rows, what the check reads)."""
        table = result.toArrow()
        return table.num_rows, table

    def check(self, out, batch: Batch, rows: int, rng: np.random.Generator) -> list[str]:
        raise NotImplementedError


# ------------------------------------------------------------------ geo


@dataclass
class GeoData:
    images: object  # Spark DataFrame (image_id, phash), cached
    queries: object  # Spark DataFrame (query_id, qlat, qlon), cached
    polygons: object  # Spark DataFrame, vertex-exploded polygons
    corpus: dict  # NumPy: ids, xy (lon, lat), tie
    qids: np.ndarray
    qxy: np.ndarray
    queries_pd: object  # pandas pool, for drawing micro-batches
    polygons_pa: object
    index: object = None

    @classmethod
    def load(cls, spark, cache: Path, seed: int, size: dict) -> GeoData:
        from sparkkd import cells

        img_path, img = inputs.load(cache, "images", seed, size["n_images"])
        q_path, q = inputs.load(cache, "queries", seed, size["n_queries"])
        poly_path, poly = inputs.load(cache, "polygons", seed, size["n_polygons"])
        # only the query pool is cached: it is the input of every bulk batch,
        # while the corpus is read once per index build
        images = spark.read.parquet(str(img_path)).select("image_id", "phash")
        queries = spark.read.parquet(str(q_path)).cache()
        queries.count()
        polygons = spark.read.parquet(str(poly_path))
        lat, lon = cells.phash_to_coords(img.column("phash").to_numpy())
        ids = np.asarray(img.column("image_id").to_pylist(), dtype=str)
        return cls(
            images=images,
            queries=queries,
            polygons=polygons,
            corpus={"ids": ids, "xy": np.column_stack([lon, lat]), "tie": oracle.id_rank(ids)},
            qids=np.asarray(q.column("query_id").to_pylist(), dtype=str),
            qxy=np.column_stack(
                [q.column("qlon").to_numpy(), q.column("qlat").to_numpy()]
            ),
            queries_pd=q.to_pandas(),
            polygons_pa=poly,
        )

    def build(self, spark) -> None:
        from sparkkd import engine

        if self.index is not None:
            self.index.unpersist()
        self.index = engine.GeoIndex(spark, self.images, n_images_hint=len(self.corpus["ids"]))

    def subset(self, spark, rows: np.ndarray) -> Batch:
        return Batch(spark.createDataFrame(self.queries_pd.iloc[rows]), rows)


class KnnOp(Op):
    """Planar kNN k=8 over a query batch: the whole pool, or a seeded draw
    of `batch_rows` queries from it (the stream_knn_enrich shape)."""

    def __init__(self, spark, data: GeoData, name: str, batch_rows: int | None):
        self.spark, self.data, self.name, self.batch_rows = spark, data, name, batch_rows
        self.n_queries = len(data.qids) if batch_rows is None else batch_rows

    def batch(self, rng):
        if self.batch_rows is None:
            return Batch(self.data.queries)
        return self.data.subset(self.spark, _pick(rng, len(self.data.qids), self.batch_rows))

    def call(self, batch):
        return self.data.index.knn_join(batch.df, k=KNN_K)

    def check(self, out, batch, rows, rng):
        d = self.data
        pos = np.arange(len(d.qids)) if batch.rows is None else batch.rows
        problems = []
        if rows != KNN_K * len(pos):
            problems.append(f"{self.name}: {rows} rows, want {KNN_K * len(pos)}")
        sample = pos[_pick(rng, len(pos), self.check_n)]
        res = _rows_of(out, "query_id", d.qids[sample])
        return problems + oracle.check_planar_knn(
            res, d.qids[sample], d.qxy[sample], d.corpus, KNN_K
        )


class RadiusOp(Op):
    """Planar radius join of the whole query pool: output-heavy."""

    name = "radius"

    def __init__(self, spark, data: GeoData, r: float):
        self.spark, self.data, self.r = spark, data, r
        self.n_queries = len(data.qids)

    def batch(self, rng):
        return Batch(self.data.queries)

    def call(self, batch):
        return self.data.index.radius_join(batch.df, self.r)

    def check(self, out, batch, rows, rng):
        d = self.data
        pos = np.arange(len(d.qids)) if batch.rows is None else batch.rows
        problems = []
        want = oracle.radius_pair_count(d.qxy[pos], d.corpus["xy"], self.r)
        if rows != want:
            problems.append(f"radius: {rows} pairs, want {want}")
        sample = pos[_pick(rng, len(pos), self.check_n)]
        res = _rows_of(out, "query_id", d.qids[sample])
        return problems + oracle.check_radius(res, d.qids[sample], d.qxy[sample], d.corpus, self.r)


class TilingOp(Op):
    """Point-in-polygon over the polygons, level-7 tile assignment and
    per-cell counts over the whole corpus (engine.pip_join, with_cell)."""

    name = "tiling"
    layer = "cells"

    def __init__(self, spark, data: GeoData):
        self.spark, self.data = spark, data

    def batch(self, rng):
        return Batch(self.data.images)

    def call(self, batch):
        from pyspark.sql import functions as F

        from sparkkd import engine

        img = batch.df
        cells7 = engine.with_cell(engine.with_coords(img), TILE_LEVEL)
        return {
            "pip": engine.pip_join(self.spark, img, self.data.polygons),
            "tiles": cells7.select("image_id", "cell_id"),
            "cell_stats": cells7.groupBy("cell_id").agg(F.count("*").alias("n_rows")),
        }

    def action(self, result):
        tables = {name: df.toArrow() for name, df in result.items()}
        return sum(t.num_rows for t in tables.values()), tables

    def check(self, out, batch, rows, rng):
        from sparkkd import cells

        d = self.data
        xy, ids = d.corpus["xy"], d.corpus["ids"]
        want_cells = cells.cell_id(xy[:, 0], xy[:, 1], TILE_LEVEL)
        uniq, counts = np.unique(want_cells, return_counts=True)
        want_pip = oracle.pip_pairs(xy, ids, oracle.polygon_edges(d.polygons_pa))
        problems = []
        if rows != len(want_pip) + len(ids) + len(uniq):
            problems.append(
                f"tiling: {rows} rows, want {len(want_pip) + len(ids) + len(uniq)}"
            )
        pip = out["pip"]
        got_pip = set(zip(pip.column("image_id").to_pylist(), pip.column("poly_id").to_pylist()))
        if got_pip != want_pip or len(got_pip) != pip.num_rows:
            problems.append(f"pip: {pip.num_rows} pairs differ from the ray-cast oracle")
        sample = _pick(rng, len(ids), 64)
        tiles = _rows_of(out["tiles"], "image_id", ids[sample])
        got = dict(zip(tiles.column("image_id").to_pylist(), tiles.column("cell_id").to_pylist()))
        if got != {str(i): int(c) for i, c in zip(ids[sample], want_cells[sample])}:
            problems.append("tiles: sampled cell ids differ from cells.cell_id")
        st = out["cell_stats"]
        order = np.argsort(st.column("cell_id").to_numpy())
        if not (
            np.array_equal(st.column("cell_id").to_numpy()[order], uniq)
            and np.array_equal(st.column("n_rows").to_numpy()[order], counts)
        ):
            problems.append("cell_stats: per-cell counts differ from NumPy")
        return problems


# ----------------------------------------------------------------- poses


def _pose_arrays(tbl) -> dict:
    ids = np.asarray(tbl.column(tbl.column_names[0]).to_pylist(), dtype=str)
    return {
        "ids": ids,
        "tie": oracle.id_rank(ids),
        "q": np.column_stack([tbl.column(c).to_numpy() for c in ("qw", "qx", "qy", "qz")]),
        "t": np.column_stack([tbl.column(c).to_numpy() for c in ("tx", "ty", "tz")]),
    }


@dataclass
class PoseData:
    poses: object
    queries: object
    corpus: dict
    pq: dict
    queries_pd: object
    so3: object = None
    se3: object = None

    @classmethod
    def load(cls, spark, cache: Path, seed: int, size: dict) -> PoseData:
        p_path, p = inputs.load(cache, "poses", seed, size["n_poses"])
        q_path, q = inputs.load(cache, "pose_queries", seed, size["n_pose_queries"])
        poses = spark.read.parquet(str(p_path))
        queries = spark.read.parquet(str(q_path)).cache()
        queries.count()
        return cls(poses, queries, _pose_arrays(p), _pose_arrays(q), q.to_pandas())

    def build(self, spark) -> None:
        from sparkkd import so3engine

        for idx in (self.so3, self.se3):
            if idx is not None:
                idx.unpersist()
        n = len(self.corpus["ids"])
        self.so3 = so3engine.So3Index(spark, self.poses, n_poses_hint=n)
        self.se3 = so3engine.Se3Index(spark, self.poses, n_poses_hint=n)


class PoseOp(Op):
    """SO(3) kNN k=8 or SE(3) kNN k=4 (rot 2.0, trans 0.5) over the whole
    pose-query pool."""

    layer = "so3engine"

    def __init__(self, spark, data: PoseData, name: str):
        self.spark, self.data, self.name = spark, data, name
        self.n_queries = len(data.pq["ids"])

    def batch(self, rng):
        return Batch(self.data.queries)

    def call(self, batch):
        if self.name == "so3":
            return self.data.so3.knn_join(batch.df, k=SO3_K)
        return self.data.se3.knn_join(
            batch.df, k=SE3_K, rot_weight=SE3_ROT_WEIGHT, trans_weight=SE3_TRANS_WEIGHT
        )

    def check(self, out, batch, rows, rng):
        d, pq = self.data, self.data.pq
        k = SO3_K if self.name == "so3" else SE3_K
        pos = np.arange(len(pq["ids"])) if batch.rows is None else batch.rows
        problems = []
        if rows != k * len(pos):
            problems.append(f"{self.name}: {rows} rows, want {k * len(pos)}")
        sample = pos[_pick(rng, len(pos), self.check_n)]
        res = _rows_of(out, "query_id", pq["ids"][sample])
        if self.name == "so3":
            return problems + oracle.check_so3_knn(
                res, pq["ids"][sample], pq["q"][sample], d.corpus, k
            )
        return problems + oracle.check_se3_knn(
            res, pq["ids"][sample], pq["q"][sample], pq["t"][sample], d.corpus, k,
            SE3_ROT_WEIGHT, SE3_TRANS_WEIGHT,
        )


# -------------------------------------------------------------- workloads


@dataclass
class Workload:
    name: str
    data: object
    ops: list[Op] = field(default_factory=list)


def make(name: str, spark, cache: Path, seed: int, size: dict) -> Workload:
    if name in ("geo_bulk", "geo_microbatch"):
        data = GeoData.load(spark, cache, seed, size)
        if name == "geo_bulk":
            ops = [
                KnnOp(spark, data, "knn", None),
                RadiusOp(spark, data, size["radius"]),
                TilingOp(spark, data),
            ]
        else:
            ops = [KnnOp(spark, data, "microbatch", size["micro_batch"])]
        return Workload(name, data, ops)
    if name == "pose_bulk":
        data = PoseData.load(spark, cache, seed, size)
        ops = [PoseOp(spark, data, "so3"), PoseOp(spark, data, "se3")]
        return Workload(name, data, ops)
    raise ValueError(f"unknown workload {name!r}")


NAMES = ("geo_bulk", "geo_microbatch", "pose_bulk")
