"""Correctness gates: pure functions over collected outputs.

Each returns a list of problems; an empty list means the call's output
is correct. They take plain Python/numpy values so the benchmark's
tests can feed them corrupted outputs without a Spark session.
"""

from __future__ import annotations

import math

import numpy as np

#: ``percentile_approx`` accuracy the engine passes for its global
#: threshold — its rank error bounds how far outlier counts may move
THRESHOLD_ACCURACY = 10_000
#: the engine's default ``max_outlier_rate`` (1.5 x contamination 0.1)
MAX_OUTLIER_RATE = 0.15

_EXACT_FIELDS = ("n_rows", "n_dup_keys", "n_extra_rows", "n_orphans")
_EXPECTED_FIELDS = ("n_constraint_viol", "n_constraint_failed", "n_dist_drifted",
                    "dist_pass", "constraint_pass")


def verdict_problems(got: dict, expected: dict, exact: dict, n_total: int,
                     max_outlier_rate: float = MAX_OUTLIER_RATE) -> list[str]:
    """Compare one verdict table ({partition: row}) with the expected
    one. Row, duplicate and orphan counts must equal the exact counts
    from the generated rows; outlier counts may differ from the
    expected ones only by the threshold sketch's rank error, and a
    drift verdict may flip only where that error straddles the rate
    limit."""
    problems = []
    if set(got) != set(expected):
        return [f"partitions {sorted(set(got) ^ set(expected))} differ"]
    tol = max(1, math.ceil(n_total / THRESHOLD_ACCURACY))
    for part in sorted(got):
        g, e, x = got[part], expected[part], exact[part]
        for f in _EXACT_FIELDS:
            if g[f] != x[f]:
                problems.append(f"{part}.{f}={g[f]} exact {x[f]}")
        for f in _EXPECTED_FIELDS:
            if g[f] != e[f]:
                problems.append(f"{part}.{f}={g[f]} expected {e[f]}")
        if not math.isclose(g["psi_max"], e["psi_max"], rel_tol=1e-9, abs_tol=1e-12):
            problems.append(f"{part}.psi_max={g['psi_max']} expected {e['psi_max']}")
        if abs(g["n_outliers"] - e["n_outliers"]) > tol:
            problems.append(f"{part}.n_outliers={g['n_outliers']} expected "
                            f"{e['n_outliers']}±{tol}")
        n = max(1, x["n_rows"])
        straddles = (e["n_outliers"] - tol) / n <= max_outlier_rate < (e["n_outliers"] + tol) / n
        if g["drift_pass"] != e["drift_pass"] and not straddles:
            problems.append(f"{part}.drift_pass={g['drift_pass']} expected {e['drift_pass']}")
        if g["uniqueness_pass"] != (x["n_dup_keys"] == 0):
            problems.append(f"{part}.uniqueness_pass={g['uniqueness_pass']}")
        if g["ri_pass"] != (x["n_orphans"] == 0):
            problems.append(f"{part}.ri_pass={g['ri_pass']}")
        want = (g["uniqueness_pass"] and g["ri_pass"] and g["drift_pass"]
                and g["dist_pass"] and g["constraint_pass"])
        if g["partition_pass"] != want:
            problems.append(f"{part}.partition_pass={g['partition_pass']}")
    return problems


def pair_problems(got: dict, expected: dict, what: str = "pairs") -> list[str]:
    """Two {(doc_a, doc_b): jaccard} pair sets must hold the same pairs,
    with the same rounded Jaccard similarity."""
    missing, extra = expected.keys() - got.keys(), got.keys() - expected.keys()
    off = [p for p in expected.keys() & got.keys()
           if not math.isclose(got[p], expected[p], abs_tol=1e-6)]
    if not (missing or extra or off):
        return []
    return [f"{what}: {len(missing)} missing (e.g. {sorted(missing)[:2]}), "
            f"{len(extra)} unexpected (e.g. {sorted(extra)[:2]}), "
            f"{len(off)} with another Jaccard"]


def score_problems(got: dict, expected: dict, rtol: float, what: str) -> list[str]:
    """{id: score} against the oracle's {id: score} within ``rtol``
    (the tolerance of the package's parity tests)."""
    if set(got) != set(expected):
        return [f"{what}: ids differ ({len(set(got) ^ set(expected))})"]
    keys = sorted(expected)
    a = np.array([got[k] for k in keys], dtype=np.float64)
    e = np.array([expected[k] for k in keys], dtype=np.float64)
    bad = ~np.isclose(a, e, rtol=rtol, atol=1e-9)
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        return [f"{what}: {int(bad.sum())} scores off, e.g. id {keys[i]} "
                f"{a[i]!r} vs {e[i]!r}"]
    return []


def cosine_problems(hits, U_query: dict, U_base: dict, what: str) -> list[str]:
    """Every (query, neighbour, cos) hit must carry the exact cosine of
    the two unit vectors."""
    bad = 0
    for q, n, c in hits:
        if q not in U_query or n not in U_base:
            bad += 1
            continue
        if not math.isclose(c, float(U_query[q] @ U_base[n]), rel_tol=1e-9, abs_tol=1e-9):
            bad += 1
    return [f"{what}: {bad} of {len(hits)} hits without their exact cosine"] if bad else []


def topk_problems(got: dict, expected: dict, what: str) -> list[str]:
    """Exact top-k: each query's neighbour list equals numpy's."""
    if got == expected:
        return []
    diff = [q for q in expected if got.get(q) != expected[q]]
    diff += [q for q in got if q not in expected]
    return [f"{what}: {len(diff)} queries differ from numpy, e.g. {diff[:3]}"]


def nearest_cells(U: dict, C: np.ndarray, n: int) -> dict:
    """{id: set of the ``n`` cells whose centroids are most similar to
    the unit vector} — the IVF cell assignment (ties: lower cell)."""
    ids = list(U)
    S = np.stack([U[i] for i in ids]) @ C.T
    order = np.argsort(-S, axis=1, kind="stable")[:, :n]
    return {i: {int(c) for c in row} for i, row in zip(ids, order)}


def ivf_expected(UQ: dict, U: dict, C: np.ndarray, cells: dict, k: int,
                 n_probe: int) -> dict:
    """What an IVF search over a stored index must return: for each
    query, the exact cosine top ``k`` among the vectors filed in its
    ``n_probe`` nearest cells (ties: lower id). ``cells`` is
    {cell: [ids]}."""
    out = {}
    for q, probes in nearest_cells(UQ, C, n_probe).items():
        cand = sorted({i for c in probes for i in cells.get(c, ())} - {q})
        cos = np.stack([U[i] for i in cand]) @ UQ[q]
        order = sorted(range(len(cand)), key=lambda j: (-cos[j], cand[j]))[:k]
        out[q] = [cand[j] for j in order]
    return out


def ivf_append_problems(n_new: int, stored_ids, want_ids: set,
                        cells: dict, expected_cells: dict) -> list[str]:
    """An IVF append must report every new vector, leave each id stored
    exactly once (``want_ids``: the old and the new ids), and file each
    new vector in the cells nearest to it. ``cells`` and
    ``expected_cells`` are {new id: set of cells}."""
    problems = []
    if n_new != len(expected_cells):
        problems.append(f"append reported {n_new} new vectors, expected {len(expected_cells)}")
    stored = list(stored_ids)
    if len(stored) != len(want_ids) or set(stored) != want_ids:
        problems.append(f"{len(stored)} vectors stored ({len(set(stored))} distinct), "
                        f"expected {len(want_ids)}")
    wrong = [i for i in expected_cells if cells.get(i) != expected_cells[i]]
    if wrong:
        problems.append(f"{len(wrong)} new vectors filed in other cells, e.g. id {wrong[0]}")
    return problems


def ivf_search_problems(got: dict, expected: dict, k: int, n_base: int) -> list[str]:
    """{query: [neighbour ids]}: every query gets exactly ``k`` distinct
    neighbours with ids in ``0..n_base-1``, and they are the ones
    ``expected`` (exact cosine top-k within the probed cells) names."""
    problems = []
    missing = [q for q in expected if not got.get(q)]
    if missing:
        problems.append(f"{len(missing)} of {len(expected)} queries without hits")
    if set(got) - set(expected):
        problems.append(f"hits for {len(set(got) - set(expected))} unknown queries")
    short = [q for q, nb in got.items() if len(nb) != k or len(set(nb)) != k]
    if short:
        problems.append(f"{len(short)} queries without exactly {k} distinct hits, "
                        f"e.g. {short[0]}: {len(got[short[0]])}")
    out = [n for nb in got.values() for n in nb if not 0 <= n < n_base]
    if out:
        problems.append(f"{len(out)} hits with ids outside 0..{n_base - 1}")
    diff = [q for q in expected if q in got and sorted(got[q]) != sorted(expected[q])]
    if diff:
        problems.append(f"{len(diff)} queries with other neighbours than the probed "
                        f"cells hold, e.g. {diff[0]}")
    return problems


def recall(got: dict, expected: dict) -> float:
    """Share of the exact neighbours the approximate lists contain."""
    hit = sum(len(set(got.get(q, ())) & set(nb)) for q, nb in expected.items())
    return hit / max(1, sum(len(nb) for nb in expected.values()))
