"""Every function the engine ships to a Python worker must install the
zipimporter guard (_zipguard) when the worker unpickles it.

cloudpickle ships closures by value; one that references no engine module
unpickles without importing ``rust_diskann_spark``, and the worker keeps
paying pyspark's per-task zipimport directory re-reads. This test captures
the functions the engine hands to ``mapInPandas``, ``applyInPandas``,
``applyInPandasWithState`` and pandas UDFs while it builds and serves a
scan-mode index and plans the dedup, dense-id and streaming-state
operators, then loads each one in a fresh interpreter.
"""

import os
import subprocess
import sys

import pytest
from pyspark import cloudpickle
from pyspark.sql import GroupedData
from pyspark.sql import functions as F
from pyspark.sql.pandas.group_ops import PandasCogroupedOps
from pyspark.sql.udf import UserDefinedFunction

from rust_diskann_spark import IndexParams, build_index, open_index
from rust_diskann_spark.operators import dedup as DD
from rust_diskann_spark.sources.vectors import with_dense_ids
from rust_diskann_spark.streaming.operators import user_running_stats

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHECK = """
import pickle, sys, zipimport
pickle.loads(sys.stdin.buffer.read())
assert "rust_diskann_spark._zipguard" in sys.modules, "guard not imported"
method = zipimport.zipimporter.invalidate_caches
assert sys.version_info >= (3, 13) or (
    method.__module__ == "rust_diskann_spark._zipguard"
), "guard not installed"
"""


@pytest.fixture()
def shipped(spark, monkeypatch):
    """id -> (label, function) for every function the engine ships from
    here on (``mapInPandas`` also wraps its function in a pandas UDF, so
    the same function can be seen twice)."""
    out = {}

    def capture(cls, name):
        original = getattr(cls, name)

        def patched(self, func, *args, **kwargs):
            out.setdefault(id(func), (f"{cls.__name__}.{name}", func))
            return original(self, func, *args, **kwargs)

        monkeypatch.setattr(cls, name, patched)

    capture(type(spark.range(1)), "mapInPandas")
    capture(GroupedData, "applyInPandas")
    capture(GroupedData, "applyInPandasWithState")
    capture(PandasCogroupedOps, "applyInPandas")
    udf_call = UserDefinedFunction.__call__

    def udf_patched(self, *cols):
        out.setdefault(id(self.func), ("pandas_udf", self.func))
        return udf_call(self, *cols)

    monkeypatch.setattr(UserDefinedFunction, "__call__", udf_patched)
    return out


def _corpus(spark, n=300, dim=8, seed=5):
    return spark.range(n).select(
        F.col("id"),
        F.array(
            *[F.round(F.randn(seed=seed + i) * 10, 3) for i in range(dim)]
        ).cast("array<float>").alias("vec"),
    )


def test_every_shipped_function_installs_the_guard(
    spark, shipped, tmp_path, monkeypatch
):
    monkeypatch.setenv("RDS_SCAN_CACHE_DIR", str(tmp_path / "cache"))
    corpus = _corpus(spark)
    build_index(
        corpus, str(tmp_path / "idx"),
        IndexParams(max_degree=8, build_beam_width=16, num_shards=2,
                    seed=11, shard_by="kmeans"),
    )
    idx = open_index(spark, str(tmp_path / "idx"))
    queries = corpus.filter(F.col("id") % 50 == 0).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    assert idx.search_with_dists(
        queries, k=3, beam_width=16, mode="scan", shard_probes="auto"
    ).count() == 6 * 3
    idx.close()
    serving = set(shipped)

    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d e"), (2, "v w x y z")],
        "doc_id LONG, text STRING",
    )
    emb = corpus.select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
    )
    DD.minhash_candidate_pairs(docs)  # signatures fn, split_blocks, gen_pairs
    DD.simhash_signatures(docs)  # simhash fn
    DD.embedding_near_duplicates(emb, n_blocks=2)  # block_sims
    DD.embedding_near_duplicates_lsh(emb)  # bucket_ids
    with_dense_ids(corpus, "id", num_partitions=2)  # add_ids
    user_running_stats(  # update
        spark.createDataFrame(
            [(1, 10, 0.5)], "user_id LONG, ts LONG, value DOUBLE"
        )
    )
    others = {
        f.__name__ for key, (_, f) in shipped.items() if key not in serving
    }
    assert {"fn", "split_blocks", "gen_pairs", "block_sims",
            "bucket_ids", "add_ids", "update"} <= others
    assert len(serving) >= 2  # at least the routing job and the search

    failures = []
    for label, func in shipped.values():
        proc = subprocess.run(
            [sys.executable, "-c", _CHECK],
            input=cloudpickle.dumps(func),
            cwd=REPO,
            env={**os.environ, "PYTHONPATH": REPO},
            capture_output=True,
            timeout=120,
        )
        if proc.returncode != 0:
            err = proc.stderr.decode(errors="replace").strip().splitlines()
            failures.append(
                f"{label} {getattr(func, '__qualname__', func)}: "
                f"{err[-1] if err else proc.returncode}"
            )
    assert not failures, "\n".join(failures)
