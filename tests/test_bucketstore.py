"""Bucket-stored index: correctness parity with the in-memory path AND the
no-corpus-shuffle property (the whole point: at 10^12 rows the per-query
corpus exchange is the cost the bucketed layout removes)."""

import re

import pytest

from sparkkd import bucketstore, engine

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def data(spark, sf0001_fixtures):
    images = spark.read.parquet(str(sf0001_fixtures / "images.parquet"))
    queries = spark.read.parquet(str(sf0001_fixtures / "queries.parquet"))
    return images, queries


def _exchanges_feeding_scan_side(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_knn_matches_inmemory(spark, data, tmp_path_factory):
    images, queries = data
    root = tmp_path_factory.mktemp("geoidx")
    idx = bucketstore.save_geo_index(
        spark, images, "t_geoidx_a", root, n_images_hint=2000
    )
    a = (
        idx.knn_join(queries, k=8)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    b = (
        engine.knn_join(spark, images, queries, k=8, n_images_hint=2000)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert a.equals(b)
    # radius parity too
    ra = idx.radius_join(queries, 2.0).count()
    rb = engine.radius_join(spark, images, queries, r=2.0, n_images_hint=2000).count()
    assert ra == rb


def test_bucketed_load_fresh_catalog(spark, data, tmp_path_factory):
    """Reload after dropping the catalog entry (= session restart for an
    in-memory catalog): stats come from JSON, table from the DDL."""
    images, queries = data
    root = tmp_path_factory.mktemp("geoidx2")
    bucketstore.save_geo_index(spark, images, "t_geoidx_b", root, n_images_hint=2000)
    spark.sql("DROP TABLE t_geoidx_b")
    idx = bucketstore.BucketedGeoIndex.load(spark, root)
    res = idx.knn_join(queries.limit(50), k=3).toPandas()
    assert len(res) == 150


def test_bucketed_scan_avoids_corpus_exchange(spark, data, tmp_path_factory):
    """The executed plan must contain a bucketed corpus scan with NO
    Exchange between that scan and its cogroup — only query-side exchanges
    remain."""
    images, queries = data
    root = tmp_path_factory.mktemp("geoidx3")
    idx = bucketstore.save_geo_index(
        spark, images, "t_geoidx_c", root, n_images_hint=2000
    )
    df = idx.knn_join(queries, k=4)
    df.count()  # materialize (AQE finalizes the plan)
    plan = _exchanges_feeding_scan_side(df)
    assert "Bucketed: true" in plan
    # every corpus scan (t_geoidx_c) must be bucketed, i.e. the plan's
    # FileScan of the index table reports SelectedBucketsCount
    scans = [
        seg for seg in plan.split("FileScan") if "t_geoidx_c" in seg.split("\n")[0]
    ]
    assert scans, plan
    assert all("Bucketed: true" in s.split("\n")[0] for s in scans)
    # and the equivalent UNBUCKETED plan has strictly more exchanges
    unbucketed = engine.knn_join(spark, images, queries, k=4, n_images_hint=2000)
    unbucketed.count()
    p2 = _exchanges_feeding_scan_side(unbucketed)
    n_ex_bucketed = len(re.findall(r"Exchange hashpartitioning", plan))
    n_ex_plain = len(re.findall(r"Exchange hashpartitioning", p2))
    assert n_ex_bucketed < n_ex_plain, (n_ex_bucketed, n_ex_plain)


def test_bucketed_radius_uses_index_registry(spark, data, tmp_path_factory):
    """Round-6 regression (review finding): BucketedGeoIndex.radius_join
    must register its intermediates in the INDEX registry, not drain the
    global one-shot registry — a still-unconsumed one-shot result (e.g.
    a checkpoint-backed DBSCAN map) must survive a bucketed radius call."""
    images, queries = data
    root = tmp_path_factory.mktemp("bstore-reg")
    idx = bucketstore.save_geo_index(
        spark, images, "sparkkd_regtest_radius", root / "idx", n_images_hint=2000
    )
    sentinel = spark.range(3).persist()
    engine._ONESHOT_CACHES.append(sentinel)
    try:
        n = idx.radius_join(queries, 2.0).count()
        assert n > 0
        # global registry untouched; the call's caches went to idx._caches
        assert sentinel in engine._ONESHOT_CACHES
        assert sentinel.storageLevel.useMemory  # still persisted
        assert len(idx._caches) >= 1
        # the shared GeoIndex lifecycle releases the index's intermediates
        # (the MEMORY_AND_DISK candidate cache would stay pinned otherwise)
        # and never drops the table
        pinned = list(idx._caches)
        idx.unpersist()
        assert idx._caches == []
        assert not any(df.storageLevel.useMemory for df in pinned)
        assert spark.catalog.tableExists("sparkkd_regtest_radius")
        assert idx.knn_join(queries.limit(5), k=2).count() == 10
    finally:
        engine._release_registry(engine._ONESHOT_CACHES)
