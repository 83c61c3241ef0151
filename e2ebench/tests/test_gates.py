"""Each correctness gate passes the right output and fails a
deliberately corrupted one."""

import copy

import numpy as np

from gates import (
    cosine_problems,
    ivf_append_problems,
    ivf_expected,
    ivf_search_problems,
    nearest_cells,
    pair_problems,
    recall,
    score_problems,
    topk_problems,
    verdict_problems,
)


def _verdicts():
    row = {
        "n_rows": 400, "n_dup_keys": 1, "n_extra_rows": 1, "n_orphans": 0,
        "n_outliers": 20, "outlier_rate": 0.05, "psi_max": 0.01,
        "n_dist_drifted": 0, "n_constraint_viol": 3, "n_constraint_failed": 0,
        "uniqueness_pass": False, "ri_pass": True, "drift_pass": True,
        "dist_pass": True, "constraint_pass": True, "partition_pass": False,
    }
    got = {"a": dict(row), "b": dict(row, n_dup_keys=0, n_extra_rows=0,
                                     uniqueness_pass=True, partition_pass=True)}
    exact = {p: {k: got[p][k] for k in ("n_rows", "n_dup_keys", "n_extra_rows", "n_orphans")}
             for p in got}
    return got, copy.deepcopy(got), exact


def test_verdicts_pass_when_equal():
    got, expected, exact = _verdicts()
    assert verdict_problems(got, expected, exact, n_total=800) == []


def test_verdicts_fail_on_flipped_verdict():
    got, expected, exact = _verdicts()
    got["b"]["partition_pass"] = False
    assert verdict_problems(got, expected, exact, n_total=800)


def test_verdicts_fail_on_wrong_orphan_count():
    got, expected, exact = _verdicts()
    got["a"]["n_orphans"] = 2
    got["a"]["ri_pass"] = False
    assert verdict_problems(got, expected, exact, n_total=800)


def test_outlier_count_within_rank_error_passes():
    got, expected, exact = _verdicts()
    got["a"]["n_outliers"] += 1
    assert verdict_problems(got, expected, exact, n_total=800) == []
    got["a"]["n_outliers"] += 5
    assert verdict_problems(got, expected, exact, n_total=800)


def test_drift_flip_allowed_only_at_the_rate_limit():
    got, expected, exact = _verdicts()
    # 60/400 sits on the 0.15 limit: one rank either way flips it
    for v in (got, expected):
        v["b"]["n_outliers"] = 60
    got["b"]["drift_pass"] = False
    got["b"]["partition_pass"] = False
    assert verdict_problems(got, expected, exact, n_total=800) == []
    got, expected, exact = _verdicts()
    got["b"]["drift_pass"] = False
    got["b"]["partition_pass"] = False
    assert verdict_problems(got, expected, exact, n_total=800)


def test_pairs_fail_on_dropped_pair():
    pairs = {(1, 2): 0.8, (3, 9): 0.6}
    assert pair_problems(dict(pairs), pairs) == []
    assert pair_problems({(1, 2): 0.8}, pairs)
    assert pair_problems({(1, 2): 0.8, (3, 9): 0.7}, pairs)


def test_scores_fail_on_perturbed_score():
    expected = {i: float(i) + 0.5 for i in range(10)}
    assert score_problems(dict(expected), expected, 1e-9, "knn") == []
    bad = dict(expected)
    bad[4] *= 1 + 1e-6
    assert score_problems(bad, expected, 1e-9, "knn")


def test_cosine_fails_on_wrong_similarity():
    rng = np.random.default_rng(0)
    U = {i: v / np.linalg.norm(v) for i, v in enumerate(rng.standard_normal((4, 3)))}
    hits = [(0, 1, float(U[0] @ U[1])), (2, 3, float(U[2] @ U[3]))]
    assert cosine_problems(hits, U, U, "ivf") == []
    assert cosine_problems([(0, 1, hits[0][2] + 1e-6)], U, U, "ivf")


def test_topk_and_recall():
    exp = {1: [2, 3], 2: [1, 3]}
    assert topk_problems({1: [2, 3], 2: [1, 3]}, exp, "exact") == []
    assert topk_problems({1: [2, 4], 2: [1, 3]}, exp, "exact")
    assert recall({1: [2, 4], 2: [1, 3]}, exp) == 0.75


def _ivf():
    rng = np.random.default_rng(3)
    unit = lambda X: X / np.linalg.norm(X, axis=1, keepdims=True)  # noqa: E731
    C = unit(rng.standard_normal((4, 6)))
    U = dict(enumerate(unit(rng.standard_normal((60, 6)))))
    UQ = {100 + i: u for i, u in enumerate(unit(rng.standard_normal((5, 6))))}
    filed = nearest_cells(U, C, 2)
    cells: dict = {}
    for i, cs in filed.items():
        for c in cs:
            cells.setdefault(c, []).append(i)
    return U, UQ, C, cells, filed


def test_ivf_append_passes_and_fails_on_lost_vectors():
    U, _UQ, C, _cells, filed = _ivf()
    new = {i: filed[i] for i in range(50, 60)}
    assert ivf_append_problems(10, list(U), set(U), new, new) == []
    # a no-op append: nothing reported, the new ids never stored
    assert ivf_append_problems(0, list(range(50)), set(U), {}, new)
    # a doubled append stores ids twice
    assert ivf_append_problems(10, list(U) + list(range(50, 60)), set(U), new, new)
    # a new vector filed in the wrong cells
    wrong = {**new, 55: {0, 1, 2, 3} - new[55]}
    assert ivf_append_problems(10, list(U), set(U), wrong, new)


def test_ivf_search_passes_and_fails_on_short_or_empty_results():
    U, UQ, C, cells, _filed = _ivf()
    want = ivf_expected(UQ, U, C, cells, 3, 2)
    assert all(len(v) == 3 for v in want.values())
    assert ivf_search_problems(want, want, 3, 60) == []
    dropped = {q: v[:2] for q, v in want.items()}
    assert ivf_search_problems(dropped, want, 3, 60)
    assert ivf_search_problems({}, want, 3, 60)
    other = {**want, 100: want[100][:2] + [59 if 59 not in want[100] else 58]}
    assert ivf_search_problems(other, want, 3, 60)
    assert ivf_search_problems({**want, 101: want[101][:2] + [60]}, want, 3, 60)
