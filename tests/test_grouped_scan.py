"""Piece-group serving (r9 verdict #2a, r11 shape): co-probed cap-split
pieces are served ONE TASK per group (operators/search.py
grouped_scan_search), with per-piece kernel calls and the singleton
per-shard probe map — so grouped results are BIT-IDENTICAL to
ungrouped scan serving and the grouping only amortizes task dispatch.

The r10 union-sub-graph variant (one shared beam over a block-diagonal
merge of the group's pieces) was CUT in r11 after its first gated
at-scale measurement: recall@10 0.2312 vs 0.9922 singleton on the
5M/408 index at beam 512, cause isolated to the shared beam over
disconnected sibling blocks (scale_runs_r11, OPTIMIZATION_r11.md).

Contract:

- grouped results (singleton AND multi-piece groups, probed or
  scan-all) are bit-identical to ungrouped scan serving;
- the routing-derived grouping separates well-separated clusters and
  respects the max_pieces chunk cap;
- grouped serving populates the same per-shard mmap entries as the
  singleton path (no union entries), reused across batches, dropped by
  close() with the token tree;
- each piece's profile record covers only that piece's work."""

import glob
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_diskann_spark import IndexParams, build_index, open_index
from rust_diskann_spark.operators import search as search_ops
from rust_diskann_spark.operators import shard_cache


def _clustered_corpus(spark, n=600, dim=8, clusters=3, spread=0.05, seed=7):
    """Well-separated gaussian clusters — the regime where kmeans shards
    are cluster pieces and probe routing works."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((clusters, dim)) * 10
    rows = []
    for i in range(n):
        c = i % clusters
        v = centers[c] + rng.standard_normal(dim) * spread * 10
        rows.append((i, [round(float(x), 3) for x in v]))
    return spark.createDataFrame(rows, "id BIGINT, vec ARRAY<FLOAT>")


def _queries(corpus, every=50):
    return corpus.filter(F.col("id") % every == 0).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )


def _rows(df):
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["id"]), round(r["dist"], 9))
        for r in df.collect()
    )


@pytest.fixture()
def kmeans_idx(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("RDS_SCAN_CACHE_DIR", str(tmp_path / "cache"))
    corpus = _clustered_corpus(spark)
    path = str(tmp_path / "idx")
    params = IndexParams(
        max_degree=16, build_beam_width=32, num_shards=6,
        shard_by="kmeans", seed=11,
    )
    build_index(corpus, path, params)
    idx = open_index(spark, path)
    yield idx, corpus
    idx.close()


def test_group_shards_by_routing_separates_clusters():
    rng = np.random.default_rng(0)
    routing = {}
    # 3 clusters x 2 pieces; each piece contributes a few routing points
    for c in range(3):
        center = np.zeros(4, dtype=np.float32)
        center[0] = c * 100.0
        for j in range(2):
            routing[c * 2 + j] = (
                center + rng.standard_normal((3, 4)).astype(np.float32)
            )
    groups = search_ops.group_shards_by_routing(routing, "l2", np.float32)
    assert sorted(map(sorted, groups.values())) == [[0, 1], [2, 3], [4, 5]]
    # chunk cap: max_pieces=1 degenerates to singletons
    singles = search_ops.group_shards_by_routing(
        routing, "l2", np.float32, max_pieces=1
    )
    assert sorted(map(list, singles.values())) == [[s] for s in range(6)]


def test_grouped_singleton_groups_bitwise_match_cached_scan(
    spark, kmeans_idx
):
    idx, corpus = kmeans_idx
    q = _queries(corpus)
    base = idx.search_with_dists(q, k=5, beam_width=32, mode="scan")
    n_shards = idx.meta.num_shards
    grouped = search_ops.grouped_scan_search(
        q, {i: [i] for i in range(n_shards)}, idx.path,
        idx._get_cache_token(), shard_cache.cache_root(), idx.params,
        k=5, beam_width=32,
    )
    assert _rows(grouped) == _rows(base)


def test_grouped_multi_piece_groups_bitwise_match_cached_scan(
    spark, kmeans_idx
):
    """The r11 core guarantee: multi-piece groups change only the task
    unit, never the results — scan-all AND auto-probed."""
    idx, corpus = kmeans_idx
    q = _queries(corpus)
    for probes in (None, "auto"):
        base = idx.search_with_dists(
            q, k=5, beam_width=32, mode="scan", shard_probes=probes,
        )
        grouped = idx.search_with_dists(
            q, k=5, beam_width=32, mode="scan", shard_probes=probes,
            group_pieces=True,
        )
        assert _rows(grouped) == _rows(base), f"probes={probes}"


def test_grouped_populates_per_shard_entries_only(spark, kmeans_idx):
    idx, corpus = kmeans_idx
    q = _queries(corpus)
    idx.search_with_dists(
        q, k=5, beam_width=32, mode="scan", shard_probes="auto",
        group_pieces=True,
    ).count()
    token_dir = os.path.join(
        shard_cache.cache_root(), idx._get_cache_token()
    )
    entries = sorted(
        d for d in os.listdir(token_dir) if d.startswith("shard_")
    )
    assert entries, "no per-shard cache entries were materialized"
    # r11: the union ('shard_g*') entries are gone with the union path
    assert not [d for d in entries if d.startswith("shard_g")]
    # grouping is non-trivial on clustered data: fewer groups than shards
    assert len(idx._get_groups()) < idx.meta.num_shards
    # second batch reuses the entries (no new dirs)
    idx.search_with_dists(
        q, k=5, beam_width=32, mode="scan", shard_probes="auto",
        group_pieces=True,
    ).count()
    assert sorted(
        d for d in os.listdir(token_dir) if d.startswith("shard_")
    ) == entries
    # close() drops the whole token tree
    idx.close()
    assert not os.path.exists(token_dir)


def test_grouped_profile_windows_are_per_piece(
    spark, kmeans_idx, tmp_path, monkeypatch
):
    """A group task writes one ``shard_task`` record per piece, and each
    record's [t0, t0 + wall] window covers only that piece: windows
    written by one worker process never overlap (a task-start t0 shared
    by every piece made piece i's ``decode`` absorb pieces 0..i-1)."""
    idx, corpus = kmeans_idx
    groups = idx._get_groups()
    assert max(len(s) for s in groups.values()) >= 2  # multi-piece task
    prof = tmp_path / "prof"
    prof.mkdir()
    monkeypatch.setattr(search_ops, "_PROFILE_DIR", str(prof))
    idx.search_with_dists(
        _queries(corpus), k=5, beam_width=32, mode="scan",
        group_pieces=True,
    ).count()
    n_recs = 0
    for p in glob.glob(os.path.join(str(prof), "*.jsonl")):
        with open(p) as fh:
            recs = [json.loads(line) for line in fh]
        assert {r["source"] for r in recs} == {"group"}
        n_recs += len(recs)
        wins = sorted((r["t0"], r["t0"] + r["wall"]) for r in recs)
        for (_, end), (start, _) in zip(wins, wins[1:]):
            assert start >= end - 1e-6  # wall is rounded to 1 us
    # scan-all: one record per piece of every group
    assert n_recs == sum(len(s) for s in groups.values())


def test_group_pieces_guards(spark, kmeans_idx):
    idx, corpus = kmeans_idx
    q = _queries(corpus)
    with pytest.raises(ValueError, match="group_pieces"):
        idx.search_with_dists(
            q, k=5, beam_width=32, mode="broadcast", group_pieces=True
        )
    with pytest.raises(ValueError, match="group_pieces"):
        idx.search_with_dists(
            q, k=5, beam_width=32, mode="cogroup", group_pieces=True
        )


def test_warm_grouped_materializes_member_pieces(spark, kmeans_idx):
    idx, corpus = kmeans_idx
    idx.warm("grouped")
    token_dir = os.path.join(
        shard_cache.cache_root(), idx._get_cache_token()
    )
    entries = {
        d for d in os.listdir(token_dir) if d.startswith("shard_")
    }
    members = {
        s for sids in idx._get_groups().values() for s in sids
    }
    assert {f"shard_{s}" for s in members} <= entries
    # a subsequent grouped search reuses them (no new entries)
    q = _queries(corpus)
    idx.search_with_dists(
        q, k=5, beam_width=32, mode="scan", shard_probes="auto",
        group_pieces=True,
    ).count()
    assert {
        d for d in os.listdir(token_dir) if d.startswith("shard_")
    } == entries


def test_warm_rejects_unknown_mode(spark, kmeans_idx):
    idx, _ = kmeans_idx
    with pytest.raises(ValueError, match="grouped"):
        idx.warm("groupd")
