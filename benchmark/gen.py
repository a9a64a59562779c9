"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, and the engine sees only what these return.

- :func:`ann_corpus` — a 128-d Gaussian mixture on a 24-d latent
  subspace plus isotropic noise, grouped into balanced, well-separated
  super-clusters so k-means sharding yields build units of similar size.
  Queries are drawn from the same mixture and held out of the corpus.
- :func:`dedup_docs` — synthetic word documents with planted exact
  copies and planted near copies at a fixed word-edit rate.
- :func:`dedup_embeddings` — random 64-d vectors with planted
  near-duplicate pairs (cosine well above the dedup threshold, while
  unrelated random pairs sit far below it).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DIM = 128
LATENT = 24


def ann_corpus(
    seed: int, n: int, n_queries: int, groups: int = 4, sub: int = 4
) -> tuple[np.ndarray, np.ndarray]:
    """(corpus f32[n, 128], queries f32[n_queries, 128]).

    Rows are assigned to super-clusters round-robin, so each group holds
    n // groups rows (±1) and a k-means shard count equal to ``groups``
    finds balanced cells. Within a group, ``sub`` sub-clusters overlap
    enough that graph search at a low beam misses some true neighbours.
    """
    rng = np.random.default_rng([seed, 0xA11])
    basis = rng.standard_normal((LATENT, DIM)) / np.sqrt(LATENT)
    group_c = rng.standard_normal((groups, LATENT)) * 8.0
    sub_c = group_c[:, None, :] + rng.standard_normal((groups, sub, LATENT)) * 2.0
    total = n + n_queries
    g = np.arange(total) % groups
    s = rng.integers(0, sub, total)
    z = sub_c[g, s] + rng.standard_normal((total, LATENT))
    x = z @ basis + 0.05 * rng.standard_normal((total, DIM))
    x = x.astype(np.float32)
    order = rng.permutation(total)
    x = x[order]
    return x[:n], x[n:]


@dataclass(frozen=True)
class Docs:
    """A document table with its planted duplicate structure.

    ``exact_pairs`` and ``near_pairs`` are sorted lists of (a, b) doc-id
    pairs with a < b; ``canonical`` maps every planted exact copy to the
    smallest doc id holding the same text.
    """

    ids: np.ndarray
    texts: list[str]
    exact_pairs: list[tuple[int, int]]
    near_pairs: list[tuple[int, int]]
    canonical: dict[int, int]


def _word(rng: np.random.Generator) -> str:
    n = int(rng.integers(3, 9))
    return "".join(chr(97 + int(c)) for c in rng.integers(0, 26, n))


def dedup_docs(
    seed: int,
    n_base: int,
    exact_rate: float = 0.05,
    near_rate: float = 0.05,
    edit_rate: float = 0.05,
    words: tuple[int, int] = (50, 70),
    vocab: int = 20000,
) -> Docs:
    """``n_base`` unique documents, plus one exact copy of a seeded
    ``exact_rate`` share of them and one near copy (each word replaced
    with probability ``edit_rate``) of a disjoint ``near_rate`` share.

    Doc ids are a seeded permutation of 0..N-1, so copies are not
    adjacent to their originals.
    """
    rng = np.random.default_rng([seed, 0xD0C])
    lex = sorted({_word(rng) for _ in range(vocab)})
    lex_arr = np.array(lex, dtype=object)
    base: list[str] = []
    seen: set[str] = set()
    while len(base) < n_base:
        n_words = int(rng.integers(words[0], words[1] + 1))
        text = " ".join(lex_arr[rng.integers(0, len(lex), n_words)])
        if text not in seen:
            seen.add(text)
            base.append(text)
    n_exact = int(round(exact_rate * n_base))
    n_near = int(round(near_rate * n_base))
    picks = rng.permutation(n_base)[: n_exact + n_near]
    exact_src, near_src = picks[:n_exact], picks[n_exact:]
    texts = list(base)
    exact_of: list[tuple[int, int]] = []  # (source row, copy row)
    for src in exact_src:
        exact_of.append((int(src), len(texts)))
        texts.append(base[src])
    near_of: list[tuple[int, int]] = []
    for src in near_src:
        toks = base[src].split(" ")
        hit = rng.random(len(toks)) < edit_rate
        repl = lex_arr[rng.integers(0, len(lex), len(toks))]
        edited = " ".join(r if h else t for t, r, h in zip(toks, repl, hit))
        if edited in seen:
            continue  # an edit that changed nothing is not a near copy
        seen.add(edited)
        near_of.append((int(src), len(texts)))
        texts.append(edited)
    ids = rng.permutation(len(texts)).astype(np.int64)

    def pair(r1: int, r2: int) -> tuple[int, int]:
        a, b = int(ids[r1]), int(ids[r2])
        return (a, b) if a < b else (b, a)

    exact_pairs = sorted(pair(s, c) for s, c in exact_of)
    near_pairs = sorted(pair(s, c) for s, c in near_of)
    canonical = {b: a for a, b in exact_pairs}
    return Docs(ids, texts, exact_pairs, near_pairs, canonical)


def dedup_embeddings(
    seed: int, n: int, dim: int = 64, dup_rate: float = 0.02, noise: float = 0.05
) -> tuple[np.ndarray, np.ndarray, list[tuple[int, int]]]:
    """(ids int64[N], vectors f32[N, dim], planted pairs (a < b)).

    ``n`` random Gaussian vectors plus one perturbed copy of a seeded
    ``dup_rate`` share of them; a copy's cosine to its source is about
    1 / sqrt(1 + noise**2) > 0.99.
    """
    rng = np.random.default_rng([seed, 0xE3B])
    base = rng.standard_normal((n, dim))
    src = rng.permutation(n)[: int(round(dup_rate * n))]
    copies = base[src] + noise * rng.standard_normal((len(src), dim))
    vecs = np.concatenate([base, copies]).astype(np.float32)
    ids = rng.permutation(len(vecs)).astype(np.int64)
    pairs = []
    for k, s in enumerate(src):
        a, b = int(ids[s]), int(ids[n + k])
        pairs.append((a, b) if a < b else (b, a))
    return ids, vecs, sorted(pairs)
