"""sparkkd — a PySpark-native spatial-join + tiling engine.

A brand-new engine (NOT a port) that re-expresses the query semantics of the
reference k-d tree library (jeffi/kdtree, C++14 header-only; see
/root/reference) as idiomatic Spark:

* exact median-split k-d tree construction (reference
  ``src/_kdtree_median.hpp:281-308``) and bounded best-first kNN search
  (``src/_kdtree_median.hpp:332-359``) become *partition-local* NumPy indexes
  built inside vectorized Arrow UDFs (``applyInPandas`` over a spatial cell
  shuffle key);
* the reference's coarse SO(3) volume partition (``src/_so3space.hpp:594-658``)
  becomes an explicit geo *tiling index* (fixed-resolution grid cells used as
  the shuffle key, with hot-cell salting for skew);
* branch-and-bound pruning (``shouldTraverse``,
  ``src/_kdtree_median.hpp:136-138``) appears twice: inside the per-cell
  kernel (leaf bbox distance) and across cells (candidate-cell pruning by
  bbox distance against the running kth-distance bound).

Modules
-------
codec      pure-stdlib image encode/decode (raw / BMP / PNG-zlib) + PSNR
synth      deterministic synthetic image+caption corpus & geo fixtures
cells      vectorized tiling index (grid cells, bboxes, rings, SQL exprs)
kernel     NumPy k-d tree: median build, bounded batch kNN, radius search
engine     Spark pipelines: GeoIndex, knn_join, radius_join, pip_join,
           raster-vector join, salting, lineage — and the second phase
           (split planner, probe, cogroup, kNN re-rank) shared by all six
           metric joins
snapshots  parquet snapshot/manifest layer with resume + delta compaction
datapipe   training-data ops: dedup (exact/minhash/simhash), ANN, text stats
so3engine  distributed SO(3)/SE(3) kNN + radius joins (antipodal R^4
           reduction, weighted compound metric) — the reference's rotation
           spaces; phase 1 and candidate generators only, the second phase
           is engine's
bucketstore bucket-stored geo index: build once, persist bucketBy(part_key),
           query many with no per-batch corpus shuffle
functions  scalar/space function library (F1-F11 incl. rotateCoeffs,
           projectToAxis), single-machine SO(3) kNN
streaming  Structured Streaming ingest -> snapshot forest; windowed aggs
"""

__version__ = "0.2.0"

# Allocator tuning for NumPy/Arrow-heavy kernels — must run in EVERY
# process that executes them, including Spark Python workers (which
# import this package when unpickling UDF closures): glibc malloc knobs
# for NumPy temporaries, mimalloc for the Arrow batch pool.  See envtune
# for the measured page-fault-churn pathology both address.
from .envtune import tune_arrow_pool as _tune_arrow_pool
from .envtune import tune_malloc as _tune_malloc

_tune_malloc()
_tune_arrow_pool()
