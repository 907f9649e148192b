"""kNN-join edge cases: k > corpus, boundary queries, tiny/skewed corpora,
forced fine levels with mostly-empty cells — all against the DuckDB oracle."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from sparkkd import bucketstore, cells, engine

pytestmark = pytest.mark.spark


def _oracle(img_pdf, q_pdf, k):
    con = duckdb.connect()
    con.register("img", img_pdf)
    con.register("q", q_pdf)
    return con.execute(
        f"""
        WITH d AS (SELECT q.query_id, img.image_id,
                sqrt((img.x - q.qlon)*(img.x - q.qlon) + (img.y - q.qlat)*(img.y - q.qlat)) AS dist
              FROM q CROSS JOIN img)
        SELECT query_id, image_id, dist,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY dist, image_id) AS INT) AS rank
        FROM d QUALIFY rank <= {k}
        """
    ).df()


def _spark_inputs(spark, img_pdf, q_pdf):
    img = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": img_pdf["image_id"],
                "phash": cells.coords_to_phash(
                    img_pdf["y"].to_numpy(), img_pdf["x"].to_numpy()
                ),
            }
        )
    )
    return img, spark.createDataFrame(q_pdf)


def _run_case(spark, img_pdf, q_pdf, k, **kw):
    # canonicalize coords through the phash quantization both sides
    ph = cells.coords_to_phash(img_pdf["y"].to_numpy(), img_pdf["x"].to_numpy())
    lat, lon = cells.phash_to_coords(ph)
    img_pdf = img_pdf.assign(x=lon, y=lat)
    img, q = _spark_inputs(spark, img_pdf, q_pdf)
    got = (
        engine.knn_join(spark, img, q, k=k, n_images_hint=len(img_pdf), **kw)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    want = _oracle(img_pdf, q_pdf, k).sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(got) == len(want), (len(got), len(want))
    assert (got["image_id"].to_numpy() == want["image_id"].to_numpy()).all()
    assert np.array_equal(got["dist"].to_numpy(), want["dist"].to_numpy())
    return got


def test_k_exceeds_corpus(spark):
    rng = np.random.default_rng(50)
    img = pd.DataFrame(
        {
            "image_id": [f"img{i:04d}" for i in range(7)],
            "x": rng.uniform(-170, 170, 7),
            "y": rng.uniform(-80, 80, 7),
        }
    )
    q = pd.DataFrame(
        {"query_id": ["a", "b"], "qlat": [0.0, 45.0], "qlon": [0.0, 90.0]}
    )
    got = _run_case(spark, img, q, k=50)
    assert len(got) == 14  # 2 queries x all 7 images


def test_single_image_corpus(spark):
    img = pd.DataFrame({"image_id": ["only"], "x": [10.0], "y": [20.0]})
    q = pd.DataFrame({"query_id": ["q1"], "qlat": [-60.0], "qlon": [-120.0]})
    got = _run_case(spark, img, q, k=3)
    assert len(got) == 1 and got["image_id"][0] == "only"


def test_queries_on_cell_boundaries(spark):
    """Queries exactly on grid lines (the clamp/floor edge) stay exact."""
    rng = np.random.default_rng(51)
    img = pd.DataFrame(
        {
            "image_id": [f"img{i:05d}" for i in range(3000)],
            "x": rng.uniform(-180, 180, 3000),
            "y": rng.uniform(-90, 90, 3000),
        }
    )
    # level-4 cell edges: multiples of 22.5 (lon) / 11.25 (lat)
    edges_lon = np.arange(-180.0, 181.0, 22.5)
    edges_lat = np.arange(-90.0, 91.0, 11.25)
    qs = [(lo, la) for lo in edges_lon for la in edges_lat][:80]
    q = pd.DataFrame(
        {
            "query_id": [f"q{i:03d}" for i in range(len(qs))],
            "qlat": [la for _, la in qs],
            "qlon": [lo for lo, _ in qs],
        }
    )
    _run_case(spark, img, q, k=5, level=4)


def test_forced_fine_level_mostly_empty_cells(spark):
    """Fine level (4096 cells for 500 points): most candidate cells are
    empty; count-bound fallbacks and ring logic must stay exact."""
    rng = np.random.default_rng(52)
    img = pd.DataFrame(
        {
            "image_id": [f"img{i:05d}" for i in range(500)],
            "x": rng.uniform(-180, 180, 500),
            "y": rng.uniform(-90, 90, 500),
        }
    )
    q = pd.DataFrame(
        {
            "query_id": [f"q{i:03d}" for i in range(100)],
            "qlat": rng.uniform(-90, 90, 100),
            "qlon": rng.uniform(-180, 180, 100),
        }
    )
    _run_case(spark, img, q, k=9, level=6)


def test_extreme_skew_all_in_one_cell(spark):
    """Whole corpus inside one tiny cell + forced salting: the salted
    sub-trees must collectively return the exact result."""
    rng = np.random.default_rng(53)
    img = pd.DataFrame(
        {
            "image_id": [f"img{i:05d}" for i in range(2000)],
            "x": rng.uniform(10.0, 10.01, 2000),
            "y": rng.uniform(20.0, 20.01, 2000),
        }
    )
    q = pd.DataFrame(
        {
            "query_id": [f"q{i:03d}" for i in range(50)],
            "qlat": rng.uniform(19.99, 20.02, 50),
            "qlon": rng.uniform(9.99, 10.02, 50),
        }
    )
    _run_case(spark, img, q, k=8, level=5, max_cell_rows=100)


def test_knn_join_max_radius_matches_bounded_brute_force(spark, sf0001_fixtures):
    """Bounded kNN (reference Q2 maxRadius): results equal brute force with
    the radius cutoff applied before ranking; a radius below every
    distance yields zero rows."""
    import numpy as np

    from sparkkd import cells, engine

    images = spark.read.parquet(str(sf0001_fixtures / "images.parquet"))
    queries = spark.read.parquet(str(sf0001_fixtures / "queries.parquet")).limit(60)
    mr = 1.5
    got = (
        engine.knn_join(spark, images, queries, k=5, max_radius=mr, n_images_hint=2000)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    img = images.toPandas()
    lat, lon = cells.phash_to_coords(img["phash"].to_numpy())
    q = queries.toPandas()
    rows = []
    for t in q.itertuples():
        d = np.sqrt((lon - t.qlon) ** 2 + (lat - t.qlat) ** 2)
        order = np.lexsort((img["image_id"].to_numpy(), d))
        kept = [(i, d[i]) for i in order if d[i] <= mr][:5]
        for r, (i, dist) in enumerate(kept):
            rows.append((t.query_id, img["image_id"].iloc[i], dist, r + 1))
    assert len(got) == len(rows) > 0
    for (qid, iid, dist, rank), g in zip(rows, got.itertuples()):
        assert (qid, iid, rank) == (g.query_id, g.image_id, g.rank)
        assert abs(dist - g.dist) < 1e-12
    # radius below the minimum distance: empty result
    tiny = engine.knn_join(
        spark, images, queries, k=5, max_radius=1e-12, n_images_hint=2000
    )
    assert tiny.count() == 0


def test_probe_filter_plan_shape(spark):
    """InSet pushdown below _INSET_MAX_KEYS, broadcast semi-join above —
    plan-size blowup guard for 1e5+ touched partitions (VERDICT r4 #6)."""
    df = spark.range(100).withColumnRenamed("id", "part_key")
    small = engine._probe_filter(spark, df, list(range(50)))
    plan_small = small._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan_small
    big = engine._probe_filter(
        spark, df, list(range(engine._INSET_MAX_KEYS + 1))
    )
    plan_big = big._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan_big
    # both select the same rows
    assert small.count() == 50 and big.count() == 100
    assert engine._probe_filter(spark, df, []).count() == 0


def test_empty_corpus_and_empty_queries(spark, tmp_path):
    """A zero-row corpus or a zero-row query frame must produce an EMPTY
    result, not a schema-inference crash (the createDataFrame sites ship
    explicit schemas; salt offset math handles len 0) — for the one-shot
    joins and the bucket-stored index alike."""
    rng = np.random.default_rng(3)
    img_pdf = pd.DataFrame(
        {
            "image_id": [f"i{j}" for j in range(20)],
            "x": rng.uniform(-10, 10, 20),
            "y": rng.uniform(-10, 10, 20),
        }
    )
    q_pdf = pd.DataFrame(
        {"query_id": ["q0", "q1"], "qlon": [0.0, 1.0], "qlat": [0.0, 1.0]}
    )
    img, q = _spark_inputs(spark, img_pdf, q_pdf)
    assert engine.knn_join(spark, img.limit(0), q, k=3, n_images_hint=0).count() == 0
    assert engine.knn_join(spark, img, q.limit(0), k=3, n_images_hint=20).count() == 0
    assert engine.radius_join(spark, img.limit(0), q, r=2.0, n_images_hint=0).count() == 0
    assert engine.radius_join(spark, img, q.limit(0), r=2.0, n_images_hint=20).count() == 0
    bidx = bucketstore.save_geo_index(
        spark, img.limit(0), "t_empty_geoidx", tmp_path, n_images_hint=0
    )
    assert bidx.knn_join(q, k=3).count() == 0
    assert bidx.radius_join(q, 2.0).count() == 0


def test_nan_query_drops_without_damage(spark):
    """A non-finite query coordinate (NaN or inf) yields no rows for THAT
    query (explicit finite filter) and leaves every other query's result
    untouched."""
    rng = np.random.default_rng(9)
    img_pdf = pd.DataFrame(
        {
            "image_id": [f"i{j}" for j in range(50)],
            "x": rng.uniform(-10, 10, 50),
            "y": rng.uniform(-10, 10, 50),
        }
    )
    q_ok = pd.DataFrame({"query_id": ["ok"], "qlon": [0.0], "qlat": [0.0]})
    q_mix = pd.DataFrame(
        {
            "query_id": ["ok", "nan", "inf"],
            "qlon": [0.0, float("nan"), float("inf")],
            "qlat": [0.0, 1.0, 1.0],
        }
    )
    img, _ = _spark_inputs(spark, img_pdf, q_ok)
    got_mix = (
        engine.knn_join(spark, img, spark.createDataFrame(q_mix), k=3, n_images_hint=50)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    got_ok = (
        engine.knn_join(spark, img, spark.createDataFrame(q_ok), k=3, n_images_hint=50)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert set(got_mix["query_id"]) == {"ok"}
    assert got_mix.equals(got_ok)
