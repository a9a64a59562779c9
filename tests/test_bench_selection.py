"""Attempt selection of the bench orchestrator (bench.attempt_key)."""

from bench import attempt_key


def _pick(results):
    # the orchestrator keeps the first attempt with the largest key
    return max(results, key=attempt_key)


def _attempt(name, valid, n_valid_queries, value, n_queries=3):
    return {
        "name": name,
        "calibration_valid": valid,
        "queries_valid": {
            f"q{i}": i < n_valid_queries for i in range(n_queries)
        },
        "value": value,
    }


def test_valid_attempt_beats_faster_invalid_one():
    fast_invalid = _attempt("a", False, 3, 10.0)
    slow_valid = _attempt("b", True, 1, 50.0)
    assert _pick([fast_invalid, slow_valid])["name"] == "b"


def test_all_invalid_picks_most_queries_valid():
    results = [
        _attempt("a", False, 1, 5.0),
        _attempt("b", False, 3, 40.0),
        _attempt("c", False, 2, 1.0),
    ]
    assert _pick(results)["name"] == "b"


def test_tie_break_on_headline_then_attempt_order():
    faster = _attempt("b", True, 3, 20.0)
    assert _pick([_attempt("a", True, 3, 30.0), faster])["name"] == "b"
    # a real 0.0 total is the best value, not a missing one
    zero = _attempt("z", True, 3, 0.0)
    missing = _attempt("m", True, 3, None)
    assert _pick([missing, zero])["name"] == "z"
    assert _pick([_attempt("a", True, 3, 0.5), missing])["name"] == "a"
    # identical keys: the earlier attempt is kept
    assert _pick([_attempt("a", True, 3, 7.0),
                  _attempt("b", True, 3, 7.0)])["name"] == "a"
