"""The workload generators are deterministic and plant exactly the
duplicates they list."""

import numpy as np

import gen


def test_dedup_docs_is_deterministic_per_seed():
    a, b = gen.dedup_docs(5, 300), gen.dedup_docs(5, 300)
    assert a.texts == b.texts
    assert (a.ids == b.ids).all()
    assert a.exact_pairs == b.exact_pairs
    assert a.near_pairs == b.near_pairs
    assert gen.dedup_docs(6, 300).texts != a.texts


def test_dedup_docs_plants_exactly_the_listed_pairs():
    d = gen.dedup_docs(11, 400, exact_rate=0.1, near_rate=0.1)
    text = dict(zip(d.ids.tolist(), d.texts))
    assert sorted(set(d.ids.tolist())) == list(range(len(d.texts)))
    # every listed exact pair shares its text, and no other pair does
    by_text = {}
    for i, t in text.items():
        by_text.setdefault(t, []).append(i)
    groups = [sorted(g) for g in by_text.values() if len(g) > 1]
    assert sorted((g[0], g[1]) for g in groups) == d.exact_pairs
    assert all(len(g) == 2 for g in groups)
    assert d.canonical == {b: a for a, b in d.exact_pairs}
    assert len(d.exact_pairs) == 40
    # near copies: same length, different text, most words kept
    assert 0 < len(d.near_pairs) <= 40
    for a, b in d.near_pairs:
        wa, wb = text[a].split(" "), text[b].split(" ")
        assert len(wa) == len(wb) and wa != wb
        assert sum(x != y for x, y in zip(wa, wb)) <= len(wa) // 3
    assert all(a < b for a, b in d.exact_pairs + d.near_pairs)


def test_dedup_embeddings_plant_the_only_near_pairs():
    ids, vecs, pairs = gen.dedup_embeddings(2, 500)
    ids2, vecs2, pairs2 = gen.dedup_embeddings(2, 500)
    assert (ids == ids2).all() and (vecs == vecs2).all() and pairs == pairs2
    v = vecs.astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ v.T
    np.fill_diagonal(sims, 0.0)
    r, c = np.nonzero(np.triu(sims >= 0.95))
    found = sorted((min(ids[i], ids[j]), max(ids[i], ids[j])) for i, j in zip(r, c))
    assert found == pairs
    assert len(pairs) == 10


def test_ann_corpus_is_deterministic_and_balanced():
    x, q = gen.ann_corpus(4, 1000, 100, groups=2)
    x2, q2 = gen.ann_corpus(4, 1000, 100, groups=2)
    assert x.shape == (1000, gen.DIM) and q.shape == (100, gen.DIM)
    assert x.dtype == np.float32
    assert (x == x2).all() and (q == q2).all()
    assert not (gen.ann_corpus(5, 1000, 100)[0] == x).all()
