"""Pure scoring helpers: percentiles, output checks and span arithmetic.

Nothing here touches Spark, so every rule the benchmark reports by is
unit-tested on hand-built cases (benchmark/tests/).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import numpy as np

# percentile ladder for the tail rule, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    if len(values) == 0:
        raise ValueError("percentile of an empty sample")
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def samples_beyond(values: Sequence[float], threshold: float) -> int:
    """Number of samples strictly greater than ``threshold``."""
    return int(sum(1 for v in values if v > threshold))


def tail_percentile(
    values: Sequence[float], min_beyond: int = 10
) -> tuple[float, float] | None:
    """The highest ladder percentile with at least ``min_beyond`` samples
    strictly beyond it, as ``(percentile, value)``; None when even the
    median has fewer samples beyond it."""
    if len(values) == 0:
        return None
    for q in TAIL_LADDER:
        v = percentile(values, q)
        if samples_beyond(values, v) >= min_beyond:
            return q, v
    return None


def recall_at_k(found: dict[int, Sequence[int]], truth: dict[int, Sequence[int]], k: int) -> float:
    """Mean over ``truth``'s queries of |found ∩ truth[:k]| / k. A query
    missing from ``found`` scores 0."""
    if not truth:
        raise ValueError("recall over an empty query set")
    total = 0.0
    for qid, t in truth.items():
        got = set(int(x) for x in list(found.get(qid, []))[:k])
        total += len(got & set(int(x) for x in list(t)[:k])) / k
    return total / len(truth)


def check_ann_batch(
    query_ids: Sequence[int],
    rows: Iterable[tuple[int, int, int, float]],
    k: int,
    corpus: np.ndarray,
    queries: dict[int, np.ndarray],
    rtol: float = 1e-4,
    atol: float = 1e-4,
) -> tuple[dict[int, list[int]], list[str]]:
    """Check one ANN result batch of (query_id, rank, id, dist) rows.

    Per query: exactly ranks 1..k, distances ascending by rank, every id
    a corpus row, and every dist equal to the numpy l2 distance between
    the query and that row within ``atol + rtol * dist``. Returns the
    ranked ids per query and one message per violation.
    """
    by_q: dict[int, list[tuple[int, int, float]]] = {}
    problems: list[str] = []
    want = set(int(q) for q in query_ids)
    for qid, rank, rid, dist in rows:
        qid = int(qid)
        if qid not in want:
            problems.append(f"query {qid}: not in the batch")
            continue
        by_q.setdefault(qid, []).append((int(rank), int(rid), float(dist)))
    found: dict[int, list[int]] = {}
    n = corpus.shape[0]
    for qid in sorted(want):
        got = sorted(by_q.get(qid, []))
        ranks = [r for r, _, _ in got]
        if ranks != list(range(1, k + 1)):
            problems.append(f"query {qid}: ranks {ranks[:12]} != 1..{k}")
        dists = [d for _, _, d in got]
        if any(b < a for a, b in zip(dists, dists[1:])):
            problems.append(f"query {qid}: distances not ascending")
        ids = [i for _, i, _ in got]
        found[qid] = ids
        for _, rid, d in got:
            if not 0 <= rid < n:
                problems.append(f"query {qid}: id {rid} not in the corpus")
                continue
            ref = float(np.linalg.norm(
                corpus[rid].astype(np.float64) - queries[qid].astype(np.float64)
            ))
            if not abs(d - ref) <= atol + rtol * ref:
                problems.append(
                    f"query {qid}: id {rid} dist {d:.6g} != numpy {ref:.6g}"
                )
    return found, problems


def brute_force_knn(
    corpus: np.ndarray, queries: np.ndarray, k: int, chunk: int = 512
) -> np.ndarray:
    """Exact l2 top-k row indices (ties by index), float64 arithmetic."""
    x = corpus.astype(np.float64)
    xn = np.einsum("ij,ij->i", x, x)
    out = np.empty((len(queries), k), dtype=np.int64)
    for lo in range(0, len(queries), chunk):
        q = queries[lo:lo + chunk].astype(np.float64)
        d = xn[None, :] - 2.0 * q @ x.T + np.einsum("ij,ij->i", q, q)[:, None]
        part = np.argpartition(d, k, axis=1)[:, :k]
        pd_ = np.take_along_axis(d, part, axis=1)
        order = np.lexsort((part, pd_), axis=1)
        out[lo:lo + chunk] = np.take_along_axis(part, order, axis=1)
    return out


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((float(a), float(b)) for a, b in intervals if b > a):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(
    intervals: Iterable[tuple[float, float]], lo: float, hi: float
) -> list[tuple[float, float]]:
    """Intervals cut to [lo, hi); empty pieces dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def self_time(
    span: tuple[float, float], children: Iterable[tuple[float, float]]
) -> float:
    """A span's duration minus the part of it its children cover. Parallel
    children count once where they overlap (union, not sum)."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))
