"""rust_diskann_spark — a PySpark-native vector analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference DiskANN library (jianshu93/rust-diskann, see SURVEY.md): ingest a
vector collection, build a Vamana proximity graph, persist it, and answer
top-k nearest-neighbor queries under pluggable distance metrics — plus the
training-data-pipeline operators a 100 TB corpus needs (dedup, similarity
search, text analysis, multimodal plumbing).

Architecture (Spark-first, not a port):

- Relational operators (distances, exact kNN, top-k merge, dedup, eval
  metrics) are declarative DataFrame/SQL plans — Catalyst optimizes them,
  DuckDB oracles them.
- The two genuinely sequential kernels — Vamana graph construction and
  best-first beam search — run as seeded numpy inside ``applyInPandas``
  per *shard* (reference README.md:157 documents shard-and-merge as exactly
  equivalent to one big index when per-shard k' >= k). Shards are the unit
  of executor parallelism; nothing else about the reference's execution
  machinery (mmap, rayon, binary heaps) is carried over.
"""

from rust_diskann_spark import _zipguard
from rust_diskann_spark.params import IndexParams
from rust_diskann_spark.plans.index import DiskANNIndex, build_index, open_index

# once per process: drivers, and every Spark worker that unpickles a
# function referencing an engine module (see _zipguard)
_zipguard.install()

__all__ = ["IndexParams", "DiskANNIndex", "build_index", "open_index"]
__version__ = "0.1.0"
