"""Bucket-stored geo index: build once, persist BUCKETED, query many times
with NO corpus shuffle per query batch.

The reference's contract is build-once/query-many (``KDTree`` constructed
over the data, then ``nearest`` called repeatedly,
``src/_kdtree_base.hpp:38-55``).  Round 1's GeoIndex kept the salted
projection cached in executor memory — good within a session, but every
fresh session (and every cache eviction) re-scanned and re-SHUFFLED the
whole corpus.  At 10^12 rows the shuffle is the cost; this module removes
it:

* ``save_geo_index`` writes the salted projection as a parquet table
  bucketed by ``part_key`` (Spark's ``bucketBy`` — files are hash-split by
  the same murmur3 the shuffle would use) with an in-file sort.
* ``BucketedGeoIndex`` is a ``GeoIndex`` whose corpus is the table: it
  answers kNN / radius joins through the SAME plan, but the corpus side's cogroup requirement
  (hash distribution by part_key) is satisfied by the bucketed SCAN — the
  plan shows no Exchange above the corpus file scan; only the (small)
  query/candidate side shuffles.  Verified by tests/test_bucketstore.py,
  which counts Exchange nodes in the executed plan.

Pruning statistics (CellStats) are persisted as JSON next to the data, so
a fresh session reconstructs driver-side state without touching the
corpus.  The table survives session restarts: load() re-issues the
``CREATE TABLE ... USING PARQUET CLUSTERED BY ... LOCATION`` DDL when the
(in-memory) catalog lost it.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from . import engine

INDEX_COLS = "image_id STRING, x DOUBLE, y DOUBLE, key BIGINT, part_key BIGINT"


def _stats_to_json(stats: engine.CellStats) -> str:
    return json.dumps(
        {
            "keys": stats.keys.tolist(),
            "counts": stats.counts.tolist(),
            "min_x": stats.min_x.tolist(),
            "min_y": stats.min_y.tolist(),
            "max_x": stats.max_x.tolist(),
            "max_y": stats.max_y.tolist(),
            "salt_n": stats.salt_n.tolist(),
            "level": stats.level,
            "refinements": [
                [f, t, hot.tolist()] for f, t, hot in stats.refinements
            ],
        }
    )


def _stats_from_json(text: str) -> engine.CellStats:
    d = json.loads(text)
    return engine.CellStats(
        keys=np.array(d["keys"], np.int64),
        counts=np.array(d["counts"], np.int64),
        min_x=np.array(d["min_x"], np.float64),
        min_y=np.array(d["min_y"], np.float64),
        max_x=np.array(d["max_x"], np.float64),
        max_y=np.array(d["max_y"], np.float64),
        salt_n=np.array(d["salt_n"], np.int64),
        level=int(d["level"]),
        refinements=[
            (int(f), int(t), np.array(hot, np.int64))
            for f, t, hot in d["refinements"]
        ],
    )


def save_geo_index(
    spark: SparkSession,
    images: DataFrame,
    name: str,
    path: str | Path,
    level: int | None = None,
    max_cell_rows: int = 8192,
    n_buckets: int = 32,
    n_images_hint: int | None = None,
) -> "BucketedGeoIndex":
    """Build the salted projection + stats and persist both: parquet files
    bucketed by part_key (with morton-friendly in-bucket sort on key) under
    ``path``, stats JSON beside them, table ``name`` in the catalog."""
    path = Path(path)
    built = engine.GeoIndex._unpersisted(
        spark, images, level, max_cell_rows, n_images_hint
    )
    stats = built.stats
    salted = built.img_salted.select("image_id", "x", "y", "key", "part_key")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        salted.write.mode("overwrite")
        .bucketBy(n_buckets, "part_key")
        .sortBy("part_key", "key")
        .option("path", str(path / "data"))
        .saveAsTable(name)
    )
    meta = {"n_buckets": n_buckets, "name": name}
    (path / "stats.json").write_text(_stats_to_json(stats))
    (path / "meta.json").write_text(json.dumps(meta))
    return BucketedGeoIndex(spark, name, path)


class BucketedGeoIndex(engine.GeoIndex):
    """Query-side handle over a saved bucketed index.  Reconstructs the
    catalog entry after a session restart (in-memory catalogs forget), then
    serves engine.GeoIndex's join surface and lifecycle — without persist()
    and without a per-query corpus shuffle.  unpersist() releases the
    join intermediates; the table itself is never dropped."""

    def __init__(self, spark: SparkSession, name: str, path: str | Path):
        self.spark = spark
        self.path = Path(path)
        meta = json.loads((self.path / "meta.json").read_text())
        self.name = name or meta["name"]
        self.n_buckets = int(meta["n_buckets"])
        if not spark.catalog.tableExists(self.name):
            spark.sql(
                f"CREATE TABLE {self.name} ({INDEX_COLS}) USING PARQUET"
                f" CLUSTERED BY (part_key) SORTED BY (part_key, key)"
                f" INTO {self.n_buckets} BUCKETS"
                f" LOCATION '{self.path / 'data'}'"
            )
        self.img_salted = spark.table(self.name)
        self.stats = _stats_from_json((self.path / "stats.json").read_text())
        self.level = self.stats.level
        self.part_keys = engine._candidate_part_keys(spark, self.stats)
        # per-index intermediate-cache registry (see engine.GeoIndex)
        self._caches: list[DataFrame] = []

    @classmethod
    def load(cls, spark: SparkSession, path: str | Path) -> "BucketedGeoIndex":
        meta = json.loads((Path(path) / "meta.json").read_text())
        return cls(spark, meta["name"], path)
