"""The benchmark's pure scoring rules on hand-built cases."""

import numpy as np
import pytest

import scoring


def test_tail_percentile_picks_highest_with_ten_beyond():
    vals = list(range(1, 101))  # 100 samples
    q, v = scoring.tail_percentile(vals)
    assert q == 90.0
    assert scoring.samples_beyond(vals, v) == 10
    q, v = scoring.tail_percentile(list(range(1, 1001)))
    assert q == 99.0
    q, _ = scoring.tail_percentile(list(range(10001)))
    assert q == 99.9


def test_tail_percentile_falls_back_then_gives_up():
    assert scoring.tail_percentile(list(range(20)))[0] == 50.0
    assert scoring.tail_percentile(list(range(15))) is None
    assert scoring.tail_percentile([]) is None


def test_percentile_is_linear_interpolation():
    assert scoring.percentile([1, 2, 3, 4], 50) == 2.5
    assert scoring.percentile([10.0], 90) == 10.0
    with pytest.raises(ValueError):
        scoring.percentile([], 50)


CORPUS = np.array([[0, 0], [1, 0], [0, 2], [3, 3]], dtype=np.float32)
QUERIES = {7: np.array([0, 0], dtype=np.float32), 8: np.array([3, 2], dtype=np.float32)}


def _rows(qid, ids):
    q = QUERIES[qid]
    return [(qid, r + 1, i, float(np.linalg.norm(CORPUS[i] - q)))
            for r, i in enumerate(ids)]


def test_check_ann_batch_accepts_a_correct_batch():
    rows = _rows(7, [0, 1]) + _rows(8, [3, 2])
    found, problems = scoring.check_ann_batch([7, 8], rows, 2, CORPUS, QUERIES)
    assert problems == []
    assert found == {7: [0, 1], 8: [3, 2]}


@pytest.mark.parametrize("mutate, needle", [
    (lambda r: r[:-1], "ranks"),  # a query short of k results
    (lambda r: [(7, 1, 0, 0.0), (7, 2, 1, 1.0), (8, 1, 3, 1.0), (8, 2, 9, 2.0)],
     "not in the corpus"),
    (lambda r: [(7, 1, 0, 0.0), (7, 2, 1, 1.5), (8, 1, 3, 1.0), (8, 2, 2, 3.0)],
     "numpy"),  # a distance that does not match its id
    (lambda r: [(7, 1, 1, 1.0), (7, 2, 0, 0.0)] + r[2:], "ascending"),
    (lambda r: r + [(9, 1, 0, 0.0)], "not in the batch"),
])
def test_check_ann_batch_flags_violations(mutate, needle):
    rows = mutate(_rows(7, [0, 1]) + _rows(8, [3, 2]))
    _, problems = scoring.check_ann_batch([7, 8], rows, 2, CORPUS, QUERIES)
    assert any(needle in p for p in problems), problems


def test_recall_at_k():
    truth = {1: [0, 1, 2], 2: [3, 4, 5]}
    assert scoring.recall_at_k({1: [0, 1, 2], 2: [3, 4, 5]}, truth, 3) == 1.0
    assert scoring.recall_at_k({1: [2, 1, 9], 2: []}, truth, 3) == pytest.approx(1 / 3)
    with pytest.raises(ValueError):
        scoring.recall_at_k({}, {}, 3)


def test_brute_force_knn_matches_a_full_sort():
    rng = np.random.default_rng(3)
    x = rng.standard_normal((300, 8)).astype(np.float32)
    q = rng.standard_normal((20, 8)).astype(np.float32)
    got = scoring.brute_force_knn(x, q, 5, chunk=7)
    d = ((q[:, None, :].astype(np.float64) - x[None].astype(np.float64)) ** 2).sum(-1)
    assert (got == np.argsort(d, axis=1, kind="stable")[:, :5]).all()


def test_union_length_counts_overlap_once():
    assert scoring.union_length([]) == 0.0
    assert scoring.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert scoring.union_length([(0, 4), (1, 2)]) == pytest.approx(4.0)
    assert scoring.union_length([(2, 1)]) == 0.0  # empty interval


def test_self_time_subtracts_union_of_parallel_children():
    # two parallel tasks overlap on [2, 3]; one child runs past the span
    span = (0.0, 10.0)
    children = [(1.0, 3.0), (2.0, 5.0), (9.0, 12.0)]
    assert scoring.self_time(span, children) == pytest.approx(10 - (4 + 1))
    assert scoring.self_time(span, []) == pytest.approx(10.0)
    assert scoring.self_time((0, 1), [(2, 3)]) == pytest.approx(1.0)
