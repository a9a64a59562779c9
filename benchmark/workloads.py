"""The benchmark's workloads, run in one process against a fresh local
Spark session. ``benchmark/run.py`` starts this module in its own process
group and relays the result; run that, not this.

Workloads (closed loop, one client in the driver process, on
``local[<nproc>]``):

- ``ann_interactive``: build a k-means-sharded index, warm the file-backed
  index through the mmap shard cache, then serve 64-query batches with
  ``shard_probes="auto"`` at beam 32 until the window ends.
- ``dedup_docs``: run the dedup chain (exact -> minhash -> components ->
  simhash -> embedding exact -> embedding LSH) over a document table with
  planted duplicates, repeatedly until the window ends.

Only the public surface is driven: ``build_index``, ``open_index``,
``DiskANNIndex.warm`` / ``search_with_dists`` and ``close``, the
``operators/dedup.py`` operators, and (traced runs only) the
``core/vamana.py`` kernels for the single-core reference numbers. All
timing happens here, around those calls. Ground truth is numpy brute
force (scoring.py), never the engine's exact operators.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import scoring  # noqa: E402
import sparkobs  # noqa: E402

pc = time.perf_counter

# ---------------------------------------------------------------------------
# metric registry: (name, unit). BENCHMARK.json lists the same names
# (benchmark/tests/test_registry.py holds them together).
# ---------------------------------------------------------------------------

END_TO_END = [
    ("setup_s", "s"),
    ("build_vec_per_s", "vec/s"),
    ("qps", "q/s"),
    ("batch_p50_ms", "ms"),
    ("batch_p90_ms", "ms"),
    ("recall_at_10", "ratio"),
    ("index_bytes_per_vector", "B"),
    ("docs_per_s", "docs/s"),
    ("dup_pair_recall", "ratio"),
    ("worker_peak_rss_mb", "MiB"),
]

PER_LAYER = [
    ("plans.search_call_ms", "ms"),
    ("plans.open_warm_s", "s"),
    ("spark.jobs_per_batch", "count"),
    ("spark.stages_per_batch", "count"),
    ("spark.tasks_per_batch", "count"),
    ("spark.build_jobs", "count"),
    ("spark.build_stages", "count"),
    ("spark.dedup_jobs", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.task_deser_ms", "ms"),
    ("spark.scheduler_delay_ms_p50", "ms"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.input_records", "count"),
    ("spark.core_busy_share", "ratio"),
    ("spark.driver_gap_s", "s"),
    ("search.decode_s", "s"),
    ("search.kernel_s", "s"),
    ("search.emit_s", "s"),
    ("search.udf_wall_s", "s"),
    ("search.udf_core_share", "ratio"),
    ("search.outside_udf_s", "s"),
    ("search.shard_tasks_per_batch", "count"),
    ("search.queries_per_shard_task", "count"),
    ("search.routing_recall_loss", "ratio"),
    ("kernel.beam_qps_1core", "q/s"),
    ("kernel.build_vec_per_s_1core", "vec/s"),
    ("kernel.native_loaded", "bool"),
    ("kernel.min_shard_rows", "count"),
    ("kernel.serve_efficiency", "ratio"),
    ("kernel.build_efficiency", "ratio"),
    ("shard_cache.bytes", "B"),
    ("shard_cache.files", "count"),
    ("shard_cache.decodes_in_loop", "count"),
    ("build.max_task_s", "s"),
    ("build.corpus_passes", "ratio"),
    ("build.shuffle_write_bytes", "B"),
    ("index_store.bytes", "B"),
    ("dedup.exact_s", "s"),
    ("dedup.minhash_s", "s"),
    ("dedup.components_s", "s"),
    ("dedup.simhash_s", "s"),
    ("dedup.embedding_exact_s", "s"),
    ("dedup.embedding_lsh_s", "s"),
    ("dedup.minhash_candidates", "count"),
    ("dedup.minhash_verified", "count"),
    ("dedup.minhash_yield", "ratio"),
    ("dedup.embedding_block_tasks", "count"),
    ("peak_rss_mb", "MiB"),
    ("spark.jvm_peak_rss_mb", "MiB"),
    ("trace.throughput_vs_untraced", "ratio"),
]

# value reported for an end-to-end metric a workload does not exercise
# (the run record lists those names under "not_exercised")
NOT_EXERCISED = 1.0

# ---------------------------------------------------------------------------
# workload sizes (fixed before any measurement; see BENCHMARK.json)
# ---------------------------------------------------------------------------

ANN_GROUPS = 2  # super-clusters == k-means shards
ANN_ROWS_PER_GROUP = 4300  # >= NATIVE_MIN_ROWS (4096): native kernel serves
ANN_QUERIES = 2048
ANN_BATCH = 64
ANN_RECALL_BATCHES = 16  # fixed query set behind recall_at_10
ANN_WARMUP_BATCHES = 8  # served before the window: first batches run cold
ANN_K = 10
ANN_BEAM = 32
ANN_MAX_DEGREE = 12
ANN_BUILD_BEAM = 24
ANN_KERNEL_SAMPLE = 512  # queries for the single-core kernel reference

DEDUP_BASE_DOCS = 3000
# near copies of 15% of the base docs: ~430 planted pairs keep the
# seed-to-seed spread of dup_pair_recall near 0.04
DEDUP_NEAR_RATE = 0.15
DEDUP_EMBEDDINGS = 3000
MINHASH_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 3
EMB_THRESHOLD = 0.95

SETUP_REPS = 3  # repeated set-up step; setup_s takes its median


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    cores: int
    groups: sparkobs.JobGroups
    setup_once: dict = field(default_factory=dict)
    setup_reps: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    record: dict = field(default_factory=dict)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    tables: list = field(default_factory=list)

    def timed_setup(self, name: str, t0: float) -> None:
        self.setup_once[name] = self.setup_once.get(name, 0.0) + pc() - t0

    def fail(self, msgs: list[str]) -> None:
        self.failed += 1
        self.problems.extend(msgs[:3])

    def setup_s(self) -> float:
        rep = float(np.median(self.setup_reps)) if self.setup_reps else 0.0
        return sum(self.setup_once.values()) + rep


def window_open(t0: float, seconds: float, durations: list[float]) -> bool:
    """Whether the closed loop starts another operation: always a first
    one, then only if one more of median length still ends inside the
    window. A run so measures about ``seconds`` however long one
    operation takes (a dedup chain takes most of a window)."""
    if not durations:
        return True
    return pc() - t0 + float(np.median(durations)) <= seconds


def _prewarm(ctx: Ctx) -> None:
    """One trivial Python job per core, so worker start-up is set-up."""
    def touch(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        for b in it:
            yield b

    ctx.groups.set("setup-prewarm")
    ctx.spark.range(ctx.cores * 4, numPartitions=ctx.cores).mapInPandas(
        touch, "id BIGINT").collect()
    ctx.groups.clear()


def _write_parquet(path: str, table: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(table), path)


def _vec_column(mat: np.ndarray):
    import pyarrow as pa

    flat = pa.array(mat.reshape(-1), type=pa.float32())
    return pa.FixedSizeListArray.from_arrays(flat, mat.shape[1]).cast(
        pa.list_(pa.float32()))


# ---------------------------------------------------------------------------
# ann_interactive
# ---------------------------------------------------------------------------


def ann_interactive(ctx: Ctx) -> None:
    import rust_diskann_spark as rds
    from rust_diskann_spark.core import native, vamana

    spark = ctx.spark
    n = ANN_GROUPS * ANN_ROWS_PER_GROUP
    t = pc()
    corpus, queries = gen.ann_corpus(ctx.seed, n, ANN_QUERIES, groups=ANN_GROUPS)
    corpus_path = os.path.join(ctx.work, "corpus.parquet")
    _write_parquet(corpus_path, {
        "id": np.arange(n, dtype=np.int64), "vec": _vec_column(corpus)})
    ctx.timed_setup("generate", t)
    t = pc()
    recall_n = ANN_RECALL_BATCHES * ANN_BATCH
    truth_idx = scoring.brute_force_knn(corpus, queries[:recall_n], ANN_K)
    truth = {q: truth_idx[q].tolist() for q in range(recall_n)}
    qmap = {q: queries[q] for q in range(len(queries))}
    ctx.timed_setup("ground_truth", t)
    t = pc()
    _prewarm(ctx)
    n_batches = len(queries) // ANN_BATCH
    batch_dfs = [
        spark.createDataFrame(pd.DataFrame({
            "query_id": np.arange(b * ANN_BATCH, (b + 1) * ANN_BATCH, dtype=np.int64),
            "qvec": list(queries[b * ANN_BATCH:(b + 1) * ANN_BATCH]),
        }), "query_id BIGINT, qvec ARRAY<FLOAT>")
        for b in range(n_batches)
    ]
    ctx.timed_setup("prewarm_and_batches", t)

    # --- measured: build (one corpus read, k-means sharding, per-shard
    # Vamana, persist) ---
    index_path = os.path.join(ctx.work, "index")
    ctx.groups.set("build")
    t0 = pc()
    rds.build_index(
        spark.read.parquet(corpus_path), index_path,
        max_degree=ANN_MAX_DEGREE, build_beam_width=ANN_BUILD_BEAM,
        num_shards=ANN_GROUPS, shard_by="kmeans", seed=ctx.seed,
    )
    build_s = pc() - t0
    ctx.groups.clear()
    build_span = (t0, t0 + build_s)

    # --- set-up, repeated: open + warm through the mmap shard cache ---
    idx = None
    cache_root = os.environ["RDS_SCAN_CACHE_DIR"]
    for r in range(SETUP_REPS):
        if idx is not None:
            idx.close()
        ctx.groups.set(f"setup-warm-{r}")
        t = pc()
        idx = rds.open_index(spark, index_path)
        idx.warm(mode="scan")
        ctx.setup_reps.append(pc() - t)
        ctx.groups.clear()
    cache_after_warm = sparkobs.tree_stats(cache_root)

    cache_entries = {p: os.stat(p).st_ctime_ns for p in _shard_dirs(cache_root)}

    # --- measured: closed-loop serving, one client ---
    found_all: dict[int, list[int]] = {}
    batches: list[dict] = []
    b = 0

    serial = itertools.count()

    def serve(bi: int, probes, tag: str) -> dict:
        group = f"{tag}-{next(serial)}"
        ctx.groups.set(group)
        rec = {"group": group, "batch": bi}
        t_a = pc()
        try:
            df = idx.search_with_dists(
                batch_dfs[bi], k=ANN_K, beam_width=ANN_BEAM,
                shard_probes=probes, mode="scan")
            t_b = pc()
            pdf = df.toPandas()
            t_c = pc()
        except Exception as exc:  # counted against the batch, run goes on
            ctx.groups.clear()
            ctx.attempted += 1
            ctx.fail([f"batch {bi}: {type(exc).__name__}: {exc}"[:300]])
            rec.update(ok=False, t_a=t_a, t_b=pc(), t_c=pc())
            return rec
        ctx.groups.clear()
        qids = list(range(bi * ANN_BATCH, (bi + 1) * ANN_BATCH))
        found, problems = scoring.check_ann_batch(
            qids, pdf[["query_id", "rank", "id", "dist"]].itertuples(index=False),
            ANN_K, corpus, qmap)
        ctx.attempted += 1
        if problems:
            ctx.fail(problems)
        rec.update(ok=not problems, t_a=t_a, t_b=t_b, t_c=t_c, found=found)
        return rec

    # set-up: the first batches after warm run 1.5-2x slower while the
    # serving path's JVM and Python code warms up
    t = pc()
    for bi in range(ANN_WARMUP_BATCHES):
        serve(n_batches - 1 - bi, "auto", "warmup")
    ctx.timed_setup("serve_warmup", t)

    loop_t0 = pc()
    while window_open(loop_t0, ctx.seconds, [r["t_c"] - r["t_a"] for r in batches]):
        rec = serve(b % n_batches, "auto", "serve")
        batches.append(rec)
        if rec["ok"] and b < n_batches:
            found_all.update(rec["found"])
        b += 1
        if ctx.failed > 20:
            break
    loop_s = pc() - loop_t0
    # cache entries (re)created after warm: decodes the loop paid for
    decodes = sum(1 for p in _shard_dirs(cache_root)
                  if cache_entries.get(p) != os.stat(p).st_ctime_ns)
    served = [r for r in batches if r["ok"]]
    # recall covers a fixed query set: batches the window did not reach
    # are served after it, untimed
    extra = []
    for bi in range(ANN_RECALL_BATCHES):
        if bi >= b:
            rec = serve(bi, "auto", "recall")
            extra.append(rec)
            if rec["ok"]:
                found_all.update(rec["found"])
    cache_after_loop = sparkobs.tree_stats(cache_root)

    lat_ms = [(r["t_c"] - r["t_a"]) * 1000.0 for r in served]
    queries_done = len(served) * ANN_BATCH
    recall = scoring.recall_at_k(found_all, truth, ANN_K)
    index_bytes = sparkobs.tree_stats(index_path)[0]
    shard_rows = _shard_rows(index_path)
    lib_loaded = native.get_lib() is not None
    native_serving = lib_loaded and min(shard_rows) >= vamana.NATIVE_MIN_ROWS

    ctx.groups.drain()
    per_batch = [ctx.groups.counts(r["group"]) for r in served]
    jobs_pb = float(np.median([c[0] for c in per_batch])) if per_batch else 0.0
    stages_pb = float(np.median([c[1] for c in per_batch])) if per_batch else 0.0
    tasks_pb = float(np.median([c[2] for c in per_batch])) if per_batch else 0.0
    build_counts = ctx.groups.counts("build")

    tail = scoring.tail_percentile(lat_ms)
    ctx.e2e.update({
        "build_vec_per_s": n / build_s,
        "qps": queries_done / loop_s if loop_s > 0 else 0.0,
        "batch_p50_ms": scoring.percentile(lat_ms, 50) if lat_ms else 0.0,
        "batch_p90_ms": scoring.percentile(lat_ms, 90) if lat_ms else 0.0,
        "recall_at_10": recall,
        "index_bytes_per_vector": index_bytes / n,
    })
    ctx.record.update({
        "corpus_rows": n, "dim": gen.DIM, "queries": len(queries),
        "batch_queries": ANN_BATCH, "beam": ANN_BEAM, "k": ANN_K,
        "shard_probes": "auto", "mode": "scan",
        "build_s": build_s, "loop_s": loop_s,
        "batches_served": len(served), "batches_after_window": len(extra),
        "latency_samples": len(lat_ms),
        "latencies_ms": [round(x, 1) for x in lat_ms],
        "p90_samples_beyond": scoring.samples_beyond(
            lat_ms, ctx.e2e["batch_p90_ms"]) if lat_ms else 0,
        "tail_rule": None if tail is None else {"percentile": tail[0], "ms": tail[1]},
        "path": {
            "spark.jobs_per_batch": jobs_pb, "spark.stages_per_batch": stages_pb,
            "spark.tasks_per_batch": tasks_pb,
            "kernel.native_loaded": int(native_serving),
            "native_library": int(lib_loaded), "shard_rows": shard_rows,
            "num_shards": idx.meta.num_shards,
        },
        "not_exercised": ["docs_per_s", "dup_pair_recall"],
    })

    if ctx.trace:
        open_warm_s = float(np.median(ctx.setup_reps))
        # routing loss: scan-all recall minus auto recall, same query set
        found_all_probes: dict[int, list[int]] = {}
        for bi in range(ANN_RECALL_BATCHES):
            rec = serve(bi, None, "scanall")
            if rec["ok"]:
                found_all_probes.update(rec["found"])
        recall_scan_all = scoring.recall_at_k(found_all_probes, truth, ANN_K)
        kern = _kernel_reference(index_path, queries, shard_rows, ctx)
        ctx.layer.update({
            "plans.search_call_ms": 1000.0 * float(np.median(
                [r["t_b"] - r["t_a"] for r in served])) if served else 0.0,
            "plans.open_warm_s": open_warm_s,
            "spark.jobs_per_batch": jobs_pb,
            "spark.stages_per_batch": stages_pb,
            "spark.tasks_per_batch": tasks_pb,
            "spark.build_jobs": build_counts[0],
            "spark.build_stages": build_counts[1],
            "search.routing_recall_loss": recall_scan_all - recall,
            "kernel.beam_qps_1core": kern["beam_qps_1core"],
            "kernel.build_vec_per_s_1core": kern["build_vec_per_s_1core"],
            "kernel.native_loaded": int(native_serving),
            "kernel.min_shard_rows": min(shard_rows),
            "kernel.build_efficiency": ctx.e2e["build_vec_per_s"]
            / (ctx.cores * kern["build_vec_per_s_1core"]),
            "shard_cache.bytes": cache_after_loop[0],
            "shard_cache.files": cache_after_loop[1],
            "shard_cache.decodes_in_loop": decodes,
            "index_store.bytes": index_bytes,
        })
        ctx.record["trace"] = {
            "recall_scan_all": recall_scan_all,
            "cache_after_warm": cache_after_warm,
            "kernel": kern,
        }
        ctx.record["_spans"] = {
            "build": build_span, "loop": (loop_t0, loop_t0 + loop_s),
            "batches": [(r["group"], r["t_a"], r["t_b"], r["t_c"]) for r in served],
        }
    idx.close()


def _shard_rows(index_path: str) -> list[int]:
    import pyarrow.dataset as ds

    tbl = ds.dataset(os.path.join(index_path, "vectors.parquet"),
                     format="parquet", partitioning="hive").to_table(columns=["shard"])
    counts = pd.Series(tbl.column("shard").to_numpy()).value_counts()
    return [int(counts[s]) for s in sorted(counts.index)]


def _shard_dirs(root: str) -> list[str]:
    out = []
    if os.path.isdir(root):
        for tok in os.listdir(root):
            d = os.path.join(root, tok)
            if os.path.isdir(d):
                out.extend(os.path.join(d, s) for s in os.listdir(d)
                           if s.startswith("shard_") and ".tmp" not in s)
    return out


def _kernel_reference(index_path: str, queries: np.ndarray,
                      shard_rows: list[int], ctx: Ctx) -> dict:
    """Single-core kernel rates on this run's own index and queries, in
    the driver: beam search of a query sample against every shard, and a
    Vamana build of one build unit (shard 0's rows)."""
    from rust_diskann_spark.core import vamana
    from rust_diskann_spark.operators import shard_cache
    from rust_diskann_spark.params import IndexParams

    qs = queries[:ANN_KERNEL_SAMPLE]
    searched = 0
    t_search = 0.0
    for sid in range(len(shard_rows)):
        gids, mat, graph, med, sqn, ent, quant = shard_cache.decode_shard_from_parquet(
            index_path, sid, "l2")
        t = pc()
        vamana.beam_search_batch(mat, graph, "l2", med, qs, ANN_K, ANN_BEAM,
                                 sqnorms=sqn, entries=ent, quant=quant)
        t_search += pc() - t
        searched += len(qs)
    _, mat, *_ = shard_cache.decode_shard_from_parquet(index_path, 0, "l2")
    unit = len(mat)
    t = pc()
    vamana.build_vamana(np.ascontiguousarray(mat), IndexParams(
        max_degree=ANN_MAX_DEGREE, build_beam_width=ANN_BUILD_BEAM, seed=ctx.seed), ctx.seed)
    t_build = pc() - t
    return {
        "beam_qps_1core": searched / t_search,
        "build_vec_per_s_1core": unit / t_build,
        "build_sample_rows": unit,
    }


# ---------------------------------------------------------------------------
# dedup_docs
# ---------------------------------------------------------------------------


DEDUP_OPS = ("exact", "minhash", "components", "simhash", "embedding_exact",
             "embedding_lsh")


def dedup_docs(ctx: Ctx) -> None:
    from rust_diskann_spark.operators import dedup

    spark = ctx.spark
    t = pc()
    docs = gen.dedup_docs(ctx.seed, DEDUP_BASE_DOCS, near_rate=DEDUP_NEAR_RATE)
    e_ids, e_vecs, e_planted = gen.dedup_embeddings(ctx.seed, DEDUP_EMBEDDINGS)
    docs_path = os.path.join(ctx.work, "docs.parquet")
    emb_path = os.path.join(ctx.work, "emb.parquet")
    _write_parquet(docs_path, {"doc_id": docs.ids, "text": docs.texts})
    _write_parquet(emb_path, {"vec_id": e_ids, "embedding": _vec_column(e_vecs)})
    ctx.timed_setup("generate", t)
    t = pc()
    _prewarm(ctx)
    ctx.timed_setup("prewarm", t)

    docs_df = emb_df = None
    for r in range(SETUP_REPS):
        if docs_df is not None:
            docs_df.unpersist(blocking=True)
            emb_df.unpersist(blocking=True)
        ctx.groups.set(f"setup-load-{r}")
        t = pc()
        docs_df = spark.read.parquet(docs_path).repartition(ctx.cores).persist()
        emb_df = spark.read.parquet(emb_path).repartition(ctx.cores).persist()
        docs_df.count()
        emb_df.count()
        ctx.setup_reps.append(pc() - t)
        ctx.groups.clear()

    exact_set = set(docs.exact_pairs)
    near_set = set(docs.near_pairs)
    planted_emb = set(e_planted)
    n_docs = len(docs.texts)

    def chain(tag: str) -> dict:
        """One pass of the six operators; every result is collected and
        checked. Returns per-operator walls and what the checks saw."""
        out = {"ops": {}, "group": tag}
        t_chain = pc()

        def op(name, fn, check):
            ctx.groups.set(f"{tag}.{name}")
            t = pc()
            try:
                res = fn()
            except Exception as exc:  # counted against the operator
                out["ops"][name] = (t, pc())
                ctx.attempted += 1
                ctx.fail([f"{tag} {name}: {type(exc).__name__}: {exc}"[:300]])
                return None
            finally:
                ctx.groups.clear()
            out["ops"][name] = (t, pc())
            ctx.attempted += 1
            problems = check(res)
            if problems:
                ctx.fail([f"{tag} {name}: {p}" for p in problems])
            return res

        def check_exact(pdf):
            dup = pdf[pdf["is_duplicate"]]
            got = dict(zip(dup["doc_id"].astype(int), dup["canonical_id"].astype(int)))
            return [] if got == docs.canonical else [
                f"exact duplicates {len(got)} != planted {len(docs.canonical)}"
                f" (mismatched {len(set(got.items()) ^ set(docs.canonical.items()))})"]

        ex = op("exact", lambda: dedup.exact_duplicates(docs_df).toPandas(), check_exact)

        def check_pairs(pdf, a, b, score, lo, hi, must):
            probs = []
            pairs = set(zip(pdf[a].astype(int), pdf[b].astype(int)))
            if any(x >= y for x, y in pairs):
                probs.append("pair not ordered a < b")
            s = pdf[score].to_numpy(dtype=np.float64)
            if len(s) and (s.min() < lo or s.max() > hi):
                probs.append(f"{score} outside [{lo}, {hi}]")
            missing = must - pairs
            if missing:
                probs.append(f"{len(missing)} planted pairs missing")
            return probs

        mh = op("minhash", lambda: dedup.minhash_near_duplicates(
            docs_df, threshold=MINHASH_THRESHOLD).toPandas(),
            lambda p: check_pairs(p, "doc_a", "doc_b", "jaccard",
                                  MINHASH_THRESHOLD, 1.0, exact_set))
        if mh is not None:
            mh_pairs = set(zip(mh["doc_a"].astype(int), mh["doc_b"].astype(int)))
            out["near_found"] = len(near_set & mh_pairs)
            out["minhash_verified"] = len(mh)

            def check_comp(pdf):
                rep = dict(zip(pdf["doc_id"].astype(int), pdf["cluster_rep"].astype(int)))
                probs = []
                if any(rep.get(a) is None or rep.get(a) != rep.get(b) for a, b in mh_pairs):
                    probs.append("a pair's ends carry different cluster reps")
                if any(r > d for d, r in rep.items()):
                    probs.append("cluster_rep above doc_id")
                return probs

            pairs_df = spark.createDataFrame(
                mh[["doc_a", "doc_b"]].astype("int64"), "doc_a BIGINT, doc_b BIGINT")
            op("components", lambda: dedup.dedup_components(pairs_df).toPandas(),
               check_comp)
        op("simhash", lambda: dedup.simhash_near_duplicates(
            docs_df, max_hamming=SIMHASH_MAX_HAMMING).toPandas(),
            lambda p: check_pairs(p, "doc_a", "doc_b", "hamming", 0,
                                  SIMHASH_MAX_HAMMING, exact_set))
        ee = op("embedding_exact", lambda: dedup.embedding_near_duplicates(
            emb_df, threshold=EMB_THRESHOLD).toPandas(),
            lambda p: check_pairs(p, "id_a", "id_b", "cosine_sim",
                                  EMB_THRESHOLD - 1e-9, 1.0 + 1e-9, planted_emb))
        ee_pairs = set() if ee is None else set(
            zip(ee["id_a"].astype(int), ee["id_b"].astype(int)))

        def check_lsh(pdf):
            probs = check_pairs(pdf, "id_a", "id_b", "cosine_sim",
                                EMB_THRESHOLD - 1e-9, 1.0 + 1e-9, set())
            extra = set(zip(pdf["id_a"].astype(int), pdf["id_b"].astype(int))) - ee_pairs
            if ee is not None and extra:
                probs.append(f"{len(extra)} LSH pairs absent from the exact pairs")
            return probs

        op("embedding_lsh", lambda: dedup.embedding_near_duplicates_lsh(
            emb_df, threshold=EMB_THRESHOLD).toPandas(), check_lsh)
        out["wall"] = pc() - t_chain
        return out

    # set-up: one untimed chain, so code generation and first-use costs
    # are paid before the window (a one-shot job pays them once, too)
    t = pc()
    chain("setup-chain")
    ctx.timed_setup("warm_chain", t)

    chains = []
    loop_t0 = pc()
    while window_open(loop_t0, ctx.seconds, [c["wall"] for c in chains]):
        chains.append(chain(f"chain-{len(chains)}"))
        if ctx.failed > 20:
            break
    loop_s = pc() - loop_t0

    walls = [c["wall"] for c in chains]
    near_found = chains[0].get("near_found", 0) if chains else 0
    ctx.e2e.update({
        "docs_per_s": float(np.median([n_docs / w for w in walls])),
        "batch_p50_ms": 1000.0 * scoring.percentile(walls, 50),
        "batch_p90_ms": 1000.0 * scoring.percentile(walls, 90),
        "dup_pair_recall": near_found / len(near_set) if near_set else 0.0,
    })
    ctx.groups.drain()
    jobs_per_chain = float(np.median([
        sum(ctx.groups.counts(f"{c['group']}.{k}")[0] for k in c["ops"]) for c in chains]))
    ctx.record.update({
        "docs": n_docs, "embeddings": len(e_ids),
        "planted_exact": len(exact_set), "planted_near": len(near_set),
        "planted_embedding": len(planted_emb), "loop_s": loop_s,
        "chains": len(chains), "latency_samples": len(walls),
        "latencies_ms": [round(1000.0 * x, 1) for x in walls],
        "p90_samples_beyond": scoring.samples_beyond(walls, scoring.percentile(walls, 90)),
        "path": {"spark.dedup_jobs": jobs_per_chain},
        "not_exercised": ["build_vec_per_s", "qps", "recall_at_10",
                          "index_bytes_per_vector"],
    })
    if ctx.trace:
        ops = {k: float(np.median([c["ops"][k][1] - c["ops"][k][0]
                                   for c in chains if k in c["ops"]] or [0.0]))
               for k in DEDUP_OPS}
        ctx.groups.set("trace-candidates")
        cand = len(dedup.minhash_candidate_pairs(docs_df).toPandas())
        ctx.groups.clear()
        verified = chains[0].get("minhash_verified", 0)
        ctx.groups.drain()
        ctx.layer.update({
            "spark.dedup_jobs": jobs_per_chain,
            "dedup.exact_s": ops["exact"],
            "dedup.minhash_s": ops["minhash"],
            "dedup.components_s": ops["components"],
            "dedup.simhash_s": ops["simhash"],
            "dedup.embedding_exact_s": ops["embedding_exact"],
            "dedup.embedding_lsh_s": ops["embedding_lsh"],
            "dedup.minhash_candidates": cand,
            "dedup.minhash_verified": verified,
            "dedup.minhash_yield": verified / cand if cand else 0.0,
            "dedup.embedding_block_tasks": ctx.groups.counts(
                f"{chains[0]['group']}.embedding_exact")[2],
        })
        ctx.record["_spans"] = {
            "loop": (loop_t0, loop_t0 + loop_s),
            "chains": [(c["group"], c["wall"], c["ops"]) for c in chains],
        }
    docs_df.unpersist()
    emb_df.unpersist()


WORKLOADS = {"ann_interactive": ann_interactive, "dedup_docs": dedup_docs}


# ---------------------------------------------------------------------------
# traced-run layer table (event log + search profile + driver spans)
# ---------------------------------------------------------------------------


def layer_table(ctx: Ctx, tasks: list, profile: list[dict]) -> None:
    """Fill the event-log and profile metrics and print the layer table:
    per phase, each layer's self time (union of its parallel children
    subtracted), its share of the phase, and its core-seconds."""
    spans = ctx.record.pop("_spans", {})
    lines = []
    if "batches" in spans:
        lines += _ann_layers(ctx, tasks, profile, spans)
    if "chains" in spans:
        lines += _dedup_layers(ctx, tasks, spans)
    ctx.tables = lines


def _ann_layers(ctx, tasks, profile, spans) -> list[str]:
    loop_lo, loop_hi = spans["loop"]
    batches = spans["batches"]
    serve_tasks = [t for t in tasks if t.group and t.group.startswith("serve-")]
    recs = [r for r in profile if r.get("path") == "shard_task"]
    by_group: dict[str, list] = {}
    for t in serve_tasks:
        by_group.setdefault(t.group, []).append(t)
    sums = dict(call=0.0, spark=0.0, search=0.0, cache=0.0, kernel=0.0, gap=0.0)
    udf_core = kern_core = dec_core = emit_core = 0.0
    n_udf = 0
    for group, t_a, t_b, t_c in batches:
        sums["call"] += t_b - t_a
        win = [r for r in recs if t_a <= r["t0"] <= t_c]
        n_udf += len(win)
        udf = [(r["t0"], r["t0"] + r["wall"]) for r in win]
        dec = [(r["t0"], r["t0"] + r["decode"]) for r in win]
        ker = [(r["t0"] + r["decode"], r["t0"] + r["decode"] + r["kernel"]) for r in win]
        u_udf = scoring.union_length(scoring.clip(udf, t_b, t_c))
        u_dec = scoring.union_length(scoring.clip(dec, t_b, t_c))
        u_ker = scoring.union_length(scoring.clip(ker, t_b, t_c))
        sums["spark"] += (t_c - t_b) - u_udf
        sums["search"] += u_udf - u_dec - u_ker
        sums["cache"] += u_dec
        sums["kernel"] += u_ker
        udf_core += sum(r["wall"] for r in win)
        kern_core += sum(r["kernel"] for r in win)
        dec_core += sum(r["decode"] for r in win)
        emit_core += sum(r["emit"] for r in win)
        task_iv = [(t.start, t.end) for t in by_group.get(group, [])]
        sums["gap"] += scoring.self_time((t_b, t_c), task_iv)
    nb = max(len(batches), 1)
    loop_s = loop_hi - loop_lo
    run_core = sum(t.run_s for t in serve_tasks)
    n_tasks_udf = max(n_udf, 1)
    ctx.layer.update({
        "spark.executor_run_s": run_core / nb,
        "spark.task_deser_ms": 1000.0 * float(np.median([t.deser_s for t in serve_tasks]))
        if serve_tasks else 0.0,
        "spark.scheduler_delay_ms_p50": 1000.0 * float(np.median(
            [t.sched_delay_s for t in serve_tasks])) if serve_tasks else 0.0,
        "spark.gc_s": sum(t.gc_s for t in serve_tasks) / nb,
        "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in serve_tasks) / nb,
        "spark.input_records": sum(t.input_records for t in serve_tasks) / nb,
        "spark.core_busy_share": run_core / (ctx.cores * loop_s) if loop_s else 0.0,
        "spark.driver_gap_s": sums["gap"] / nb,
        "search.decode_s": dec_core / nb,
        "search.kernel_s": kern_core / nb,
        "search.emit_s": emit_core / nb,
        "search.udf_wall_s": udf_core / nb,
        "search.udf_core_share": udf_core / (ctx.cores * loop_s) if loop_s else 0.0,
        "search.outside_udf_s": (run_core - udf_core) / nb,
        "search.shard_tasks_per_batch": n_udf / nb,
        "search.queries_per_shard_task": sum(r["n_q"] for r in recs
                                             if loop_lo <= r["t0"] <= loop_hi) / n_tasks_udf,
    })
    # kernel searches per served query: auto routing probes a measured,
    # not assumed, number of shards per query
    kern = ctx.record["trace"]["kernel"]
    kern["shards_per_query"] = sum(
        r["n_q"] for r in recs if loop_lo <= r["t0"] <= loop_hi) / (nb * ANN_BATCH)
    ctx.layer["kernel.serve_efficiency"] = (
        ctx.e2e["qps"] * kern["shards_per_query"] / (ctx.cores * kern["beam_qps_1core"]))
    b_lo, b_hi = spans["build"]
    build_tasks = [t for t in tasks if t.group == "build"]
    b_union = scoring.union_length(scoring.clip([(t.start, t.end) for t in build_tasks], b_lo, b_hi))
    n = ctx.record["corpus_rows"]
    ctx.layer.update({
        "build.max_task_s": max((t.end - t.start for t in build_tasks), default=0.0),
        "build.corpus_passes": sum(t.input_records for t in build_tasks) / n,
        "build.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in build_tasks),
    })
    rows = [
        ("serve loop (per batch)", loop_s / nb, [
            ("plans.index", sums["call"] / nb, None),
            ("spark", sums["spark"] / nb, run_core / nb),
            ("operators.search", sums["search"] / nb, (udf_core - kern_core - dec_core) / nb),
            ("operators.shard_cache", sums["cache"] / nb, dec_core / nb),
            ("core.kernel", sums["kernel"] / nb, kern_core / nb),
            ("benchmark client", (loop_s - sum(c - a for _, a, _, c in batches)) / nb, None),
        ]),
        ("build", b_hi - b_lo, [
            ("plans.index (driver)", (b_hi - b_lo) - b_union, None),
            ("operators.build + sources.index_store (tasks)", b_union,
             sum(t.run_s for t in build_tasks)),
        ]),
    ]
    return _format_rows(rows)


def _dedup_layers(ctx, tasks, spans) -> list[str]:
    chains = spans["chains"]
    nch = max(len(chains), 1)
    wall = sum(w for _, w, _ in chains)
    by_group: dict[str, list] = {}
    for t in tasks:
        if t.group:
            by_group.setdefault(t.group, []).append(t)
    ctasks = [t for g, _, ops in chains for k in ops for t in by_group.get(f"{g}.{k}", [])]
    run_core = sum(t.run_s for t in ctasks)
    op_rows, gap_total, union_total = [], 0.0, 0.0
    for k in DEDUP_OPS:
        gap = union = core = 0.0
        for g, _, ops in chains:
            if k not in ops:
                continue
            lo, hi = ops[k]
            iv = [(t.start, t.end) for t in by_group.get(f"{g}.{k}", [])]
            u = scoring.union_length(scoring.clip(iv, lo, hi))
            union += u
            gap += (hi - lo) - u
            core += sum(t.run_s for t in by_group.get(f"{g}.{k}", []))
        gap_total += gap
        union_total += union
        op_rows.append((f"operators.dedup {k}: spark driver/scheduling", gap / nch, None))
        op_rows.append((f"operators.dedup {k}: executor tasks", union / nch, core / nch))
    ctx.layer.update({
        "spark.executor_run_s": run_core / nch,
        "spark.task_deser_ms": 1000.0 * float(np.median([t.deser_s for t in ctasks]))
        if ctasks else 0.0,
        "spark.scheduler_delay_ms_p50": 1000.0 * float(np.median(
            [t.sched_delay_s for t in ctasks])) if ctasks else 0.0,
        "spark.gc_s": sum(t.gc_s for t in ctasks) / nch,
        "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in ctasks) / nch,
        "spark.input_records": sum(t.input_records for t in ctasks) / nch,
        "spark.core_busy_share": run_core / (ctx.cores * wall) if wall else 0.0,
        "spark.driver_gap_s": gap_total / nch,
    })
    op_rows.append(("benchmark client (checks)", (wall - gap_total - union_total) / nch, None))
    return _format_rows([("dedup chain (per chain)", wall / nch, op_rows)])


def _format_rows(rows) -> list[str]:
    out = []
    for phase, total, layers in rows:
        out.append(f"  {phase}: {total:.4f} s")
        out.append(f"    {'layer':<58} {'self s':>9} {'share':>7} {'core-s':>9}")
        for name, self_s, core in layers:
            share = self_s / total if total else 0.0
            core_s = "" if core is None else f"{core:9.4f}"
            out.append(f"    {name:<58} {self_s:9.4f} {share:7.1%} {core_s:>9}")
    return out


# ---------------------------------------------------------------------------
# session + entry
# ---------------------------------------------------------------------------


def start_session(work: str, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("rust_diskann_spark-benchmark")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Dderby.system.home={os.path.join(work, 'derby')}")
    )
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    with sparkobs.RssSampler() as rss:
        t = pc()
        spark = start_session(args.work, cores, bool(args.trace))
        wall_to_perf = pc() - time.time()
        ctx = Ctx(spark=spark, seed=args.seed, seconds=float(args.seconds),
                  trace=bool(args.trace), work=args.work, cores=cores,
                  groups=sparkobs.JobGroups(spark.sparkContext))
        ctx.timed_setup("session", t)
        try:
            WORKLOADS[args.workload](ctx)
        finally:
            spark.stop()
    load_after = os.getloadavg()
    ctx.e2e["setup_s"] = ctx.setup_s()
    # the JVM's peak RSS moves by up to a third run to run with heap
    # sizing; the Python workers, where index residency lives, repeat
    # within a few percent, so only theirs is an end-to-end metric
    ctx.e2e["worker_peak_rss_mb"] = rss.peak_python / float(1 << 20)
    ctx.layer["peak_rss_mb"] = rss.peak / float(1 << 20)
    ctx.layer["spark.jvm_peak_rss_mb"] = rss.peak_jvm / float(1 << 20)
    for name, _unit in END_TO_END:
        ctx.e2e.setdefault(name, NOT_EXERCISED)
    if ctx.trace:
        tasks = sparkobs.read_event_log(os.path.join(args.work, "eventlog"), wall_to_perf)
        profile = sparkobs.read_profile(os.environ.get("RDS_PROFILE_DIR", ""))
        layer_table(ctx, tasks, profile)
        ctx.layer["trace.throughput_vs_untraced"] = _vs_untraced(args, ctx)
    ctx.record.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores,
        "loadavg_before": list(load_before), "loadavg_after": list(load_after),
        "setup_parts_s": ctx.setup_once, "setup_reps_s": ctx.setup_reps,
        "peak_rss_mb": rss.peak / float(1 << 20),
        "peak_rss_jvm_mb": rss.peak_jvm / float(1 << 20),
        "problems": ctx.problems[:20],
    })
    units = dict(END_TO_END + PER_LAYER)
    names = [n for n, _ in (PER_LAYER if ctx.trace else END_TO_END)]
    src = ctx.layer if ctx.trace else ctx.e2e
    metrics = {n: {"value": float(src.get(n, 0.0)), "unit": units[n]} for n in names}
    return {
        "record": ctx.record,
        "tables": ctx.tables,
        "e2e": ctx.e2e,
        "result": {
            "correct": ctx.failed == 0 and ctx.attempted > 0,
            "attempted": int(ctx.attempted),
            "failed": int(ctx.failed),
            "metrics": metrics,
        },
    }


def _vs_untraced(args, ctx) -> float:
    """Traced throughput over the last untraced run's, same workload and
    seed, in this checkout; 0 when there is none on record."""
    key = "qps" if args.workload == "ann_interactive" else "docs_per_s"
    path = os.path.join(args.state, f"untraced-{args.workload}-{args.seed}.json")
    try:
        with open(path) as fh:
            base = json.load(fh)[key]
    except (OSError, ValueError, KeyError):
        return 0.0
    return ctx.e2e[key] / base if base else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    out = run(args)
    if not args.trace:
        with open(os.path.join(args.state, f"untraced-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(out["e2e"], fh)
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
