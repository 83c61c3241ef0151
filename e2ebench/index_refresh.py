"""Workload ``index_refresh``: incremental upkeep of the two persisted
ANN indexes, beside the exact kernels they approximate.

Setup builds the MinHash near-dup index over 99% of a seeded document
set and the IVF index over 99% of a seeded vector set, and keeps a
pristine copy of both. Each iteration restores the pristine indexes
(untimed), then times four index calls: ``minhash_index_refresh`` with
the full snapshot (a 1% delta), ``minhash_index_probe`` with a batch of
near-duplicates, ``ivf_index_append`` of the 1% delta and
``ivf_index_search`` for the top 10. Refresh and append are the write
calls, probe and search the read calls.

Traced runs add two exact calls over a grouped Gaussian-mixture table:
KNN scoring through ``score_df`` (the grouped input resolves
``strategy="auto"`` to the distributed tiled plan of
``operators.block_knn``) and the exact ``cosine_topk_join``. They give
the per-layer numbers of ``detectors`` and ``block_knn``; untraced runs
leave them out, as every untraced run must fit the evaluation budget.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

import pyarrow.parquet as pq

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
)
from harness import dir_bytes, dir_listing, fresh_dir, listing_delta, write_parquet_files

N_DOCS = 1_000
N_PROBE = 50
DOC_TOKENS = (30, 60)
VOCAB = 2_000
N_VEC = 5_000
N_QUERIES = 100
DIM = 32
N_CENTERS = 24
K = 10
N_PROBE = 3
INDEXED_SHARE = 0.99
N_GROUPS = 4
GROUP_ROWS = 1_000
GROUP_DIM = 8


def make_docs(rng: np.random.Generator, n: int, base: list[str] | None = None,
              dup_every: int = 8) -> list[str]:
    """Random-token documents; every ``dup_every``-th one (and, when
    ``base`` is given, every one) is an edited copy of an earlier or
    base document, so near-duplicate pairs exist."""
    out: list[str] = []
    for i in range(n):
        src = base if base is not None else (out if i % dup_every == dup_every - 1 else None)
        if src:
            toks = src[int(rng.integers(len(src)))].split()
            for j in rng.choice(len(toks), size=max(1, len(toks) // 20), replace=False):
                toks[j] = f"w{int(rng.integers(VOCAB))}"
        else:
            toks = [f"w{t}" for t in rng.integers(VOCAB, size=int(rng.integers(*DOC_TOKENS)))]
        out.append(" ".join(toks))
    return out


def make_vectors(rng: np.random.Generator, n: int, centers: np.ndarray) -> np.ndarray:
    c = centers[rng.integers(len(centers), size=n)]
    return c + 0.8 * rng.standard_normal((n, centers.shape[1]))


def unit(X: np.ndarray) -> np.ndarray:
    return X / np.linalg.norm(X, axis=1, keepdims=True)


def exact_topk(Q: np.ndarray, B: np.ndarray, base_ids: np.ndarray, q_ids, k: int) -> dict:
    S = unit(Q) @ unit(B).T
    idx = np.argsort(-S, axis=1, kind="stable")[:, :k]
    return {int(q): [int(base_ids[j]) for j in row] for q, row in zip(q_ids, idx)}


def make_groups(rng: np.random.Generator) -> pd.DataFrame:
    """A grouped Gaussian mixture with a few far points per group."""
    parts = []
    for g in range(N_GROUPS):
        centers = 3.0 * rng.standard_normal((6, GROUP_DIM))
        X = centers[rng.integers(6, size=GROUP_ROWS)] + rng.standard_normal(
            (GROUP_ROWS, GROUP_DIM))
        far = rng.choice(GROUP_ROWS, size=GROUP_ROWS // 50, replace=False)
        X[far] += rng.uniform(-12, 12, size=(len(far), GROUP_DIM))
        parts.append(pd.DataFrame({
            "grp": f"g{g}",
            "row_id": np.arange(g * GROUP_ROWS, (g + 1) * GROUP_ROWS, dtype=np.int64),
            "features": list(X),
        }))
    return pd.concat(parts, ignore_index=True)


def oracle_pairs(documents: pd.DataFrame) -> dict:
    """From-scratch ``minhash_dedup_pairs`` as the package's DuckDB
    oracle computes it."""
    import duckdb

    import pytod_spark.queries  # noqa: F401 (loads queries_text without an import cycle)
    from pytod_spark.queries_text import SQL_MINHASH_PAIRS

    con = duckdb.connect()
    try:
        # two of the cores; Spark builds the indexes on the others
        con.execute("SET threads TO 2")
        con.register("documents", documents)
        rows = con.execute(SQL_MINHASH_PAIRS).fetchall()
    finally:
        con.close()
    return {(int(a), int(b)): float(j) for a, b, j in rows}


def _pairs(df) -> dict:
    return {(int(a), int(b)): float(j)
            for a, b, j in df.select("doc_a", "doc_b", "jaccard").toPandas().itertuples(
                index=False, name=None)}


class IndexRefresh:
    name = "index_refresh"

    def __init__(self, bench, seed: int):
        self.bench = bench
        self.seed = seed

    def setup(self) -> None:
        from pytod_spark.operators.neardup_index import minhash_index_build
        from pytod_spark.operators.similarity import ivf_index_build

        b, spark = self.bench, self.bench.spark
        rng = np.random.default_rng(self.seed)
        w = b.work

        docs = make_docs(rng, N_DOCS)
        probe = make_docs(rng, N_PROBE, base=docs)
        n_idx = int(N_DOCS * INDEXED_SHARE)
        full = pd.DataFrame({"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": docs})
        probe_pdf = pd.DataFrame(
            {"doc_id": np.arange(N_DOCS, N_DOCS + N_PROBE, dtype=np.int64), "text": probe}
        )
        centers = rng.standard_normal((N_CENTERS, DIM))
        X = make_vectors(rng, N_VEC, centers)
        Q = make_vectors(rng, N_QUERIES, centers)
        v_idx = int(N_VEC * INDEXED_SHARE)

        # inputs as parquet files, as the package would read them
        def frame(pdf, name, parts):
            return spark.read.parquet(
                write_parquet_files(pdf, os.path.join(w, "inputs", name), parts))

        par = 2 * b.nproc
        self.full = frame(full, "docs_full", par)
        self.probe = frame(probe_pdf, "docs_probe", par)
        docs_base = self.full.where(f"doc_id < {n_idx}")
        vec = lambda ids, M: pd.DataFrame(  # noqa: E731
            {"row_id": ids.astype(np.int64), "features": [list(v) for v in M]}
        )
        vectors = frame(vec(np.arange(N_VEC), X), "vectors", par)
        self.vec_delta = vectors.where(f"row_id >= {v_idx}")
        self.v_idx = v_idx
        self.queries = frame(vec(np.arange(N_VEC, N_VEC + N_QUERIES), Q), "queries", par)
        # rows one iteration's index calls read: the full snapshot, the
        # probe batch, the appended delta and the queries
        self.input_rows = N_DOCS + N_PROBE + (N_VEC - v_idx) + N_QUERIES
        self.input_bytes = dir_bytes([os.path.join(w, "inputs")])
        if b.trace:
            groups = make_groups(rng)
            self._setup_exact(groups, write_parquet_files(
                groups, os.path.join(w, "exact_inputs"), par))

        # expected results. The package's DuckDB oracle of the
        # from-scratch MinHash pairs, run once over the snapshot plus
        # the probe batch, gives both pair sets: LSH candidates depend
        # only on the two documents of a pair. It runs on a second
        # thread while Spark builds the indexes, which wait on job
        # latency more than on cores; this shortens set-up only.
        def expected_pairs():
            with b.span("setup.expected_pairs"):
                return oracle_pairs(pd.concat([full, probe_pdf], ignore_index=True))

        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(expected_pairs)
            self.U = {i: u for i, u in enumerate(unit(X))}
            self.UQ = {N_VEC + i: u for i, u in enumerate(unit(Q))}
            self.expected_topk = exact_topk(
                Q, X, np.arange(N_VEC), range(N_VEC, N_VEC + N_QUERIES), K)

            # the indexes over 99%, and their pristine copies
            self.mh_ref = os.path.join(w, "minhash_index")
            self.ivf_ref = os.path.join(w, "ivf_index")
            with b.span("setup.minhash_index_build"):
                minhash_index_build(docs_base, self.mh_ref)
            with b.span("setup.ivf_index_build"):
                ivf_index_build(vectors.where(f"row_id < {v_idx}"), self.ivf_ref)
            both = oracle.result()
        self.expected_pairs = {p: j for p, j in both.items() if p[1] < N_DOCS}
        self.expected_probe = {p: j for p, j in both.items()
                               if (p[0] >= N_DOCS) != (p[1] >= N_DOCS)}
        self.pristine = os.path.join(w, "pristine")
        fresh_dir(self.pristine)
        for ref in (self.mh_ref, self.ivf_ref):
            shutil.copytree(ref, os.path.join(self.pristine, os.path.basename(ref)))

    def _setup_exact(self, groups: pd.DataFrame, path: str) -> None:
        from pytod_spark.oracle.detectors import knn_scores

        self.groups = self.bench.spark.read.parquet(path)
        self.expected_knn = {}
        for _g, grp in groups.groupby("grp"):
            self.expected_knn.update(zip(
                grp["row_id"].tolist(), knn_scores(np.stack(grp["features"].to_numpy()), 5).tolist()))
        G = np.stack(groups["features"].to_numpy())
        gids = groups["row_id"].to_numpy()
        S = unit(G) @ unit(G).T
        np.fill_diagonal(S, -np.inf)  # self excluded, as the package does
        self.UG = dict(zip(gids.tolist(), unit(G)))
        self.expected_cos = {int(gids[i]): sorted(int(gids[j]) for j in row)
                             for i, row in enumerate(np.argsort(-S, axis=1)[:, :K])}

    def _restore(self) -> None:
        for ref in (self.mh_ref, self.ivf_ref):
            shutil.rmtree(ref)
            shutil.copytree(os.path.join(self.pristine, os.path.basename(ref)), ref)
        self.bench.spark.catalog.clearCache()
        # write the copies back now, not during the timed calls
        os.sync()

    def iteration(self, rec: dict) -> None:
        from pytod_spark.operators.neardup_index import (
            minhash_index_check,
            minhash_index_pairs,
            minhash_index_probe,
            minhash_index_refresh,
        )
        from pytod_spark.operators.similarity import (
            ivf_index_append,
            ivf_index_check,
            ivf_index_search,
        )

        b, spark = self.bench, self.bench.spark
        self._restore()
        write_s = 0.0

        def write_span(name, ref, fn):
            nonlocal write_s
            before = dir_listing([ref])
            with b.span(name) as sp:
                out = fn()
            rec[f"{name}.bytes_written"], rec[f"{name}.files_written"] = listing_delta(
                before, dir_listing([ref]))
            write_s += sp["wall_s"]
            return out

        write_span("neardup_index.refresh", self.mh_ref,
                   lambda: minhash_index_refresh(self.full, self.mh_ref))
        problems = pair_problems(_pairs(minhash_index_pairs(spark, self.mh_ref)),
                                 self.expected_pairs, "refreshed pairs")
        if not minhash_index_check(spark, self.mh_ref)["ok"]:
            problems.append("minhash_index_check failed")
        b.gate("neardup_index.refresh", problems)

        with b.span("neardup_index.probe") as sp:
            got = _pairs(minhash_index_probe(self.probe, self.mh_ref))
        read_s = sp["wall_s"]
        b.gate("neardup_index.probe", pair_problems(got, self.expected_probe, "probe pairs"))

        appended = write_span("similarity.ivf_index_append", self.ivf_ref,
                              lambda: ivf_index_append(self.vec_delta, self.ivf_ref))
        C, cells, stored_ids, n_assign = self._ivf_state()
        new_ids = range(self.v_idx, N_VEC)
        filed = {i: set() for i in new_ids}
        for c, ids in cells.items():
            for i in ids:
                if i in filed:
                    filed[i].add(c)
        problems = ivf_append_problems(
            appended["n_new_vectors"], stored_ids, set(range(N_VEC)), filed,
            nearest_cells({i: self.U[i] for i in new_ids}, C, n_assign))
        if not ivf_index_check(spark, self.ivf_ref)["ok"]:
            problems.append("ivf_index_check failed")
        b.gate("similarity.ivf_index_append", problems)

        with b.span("similarity.ivf_index_search") as sp:
            hits = ivf_index_search(self.queries, self.ivf_ref, K, n_probe=N_PROBE).select(
                "row_id", "nbr_id", "cos").toPandas()
        read_s += sp["wall_s"]
        triples = list(hits.itertuples(index=False, name=None))
        got_topk: dict = {}
        for q, n, _c in triples:
            got_topk.setdefault(int(q), []).append(int(n))
        b.gate("similarity.ivf_index_search",
               ivf_search_problems(got_topk, ivf_expected(self.UQ, self.U, C, cells, K, N_PROBE),
                                   K, N_VEC)
               + cosine_problems(triples, self.UQ, self.U, "ivf_index_search"))
        rec["ivf_recall"] = recall(got_topk, self.expected_topk)

        rec["write_s"], rec["read_s"] = [write_s], [read_s]
        rec["iter_s"] = write_s + read_s
        if b.trace:
            self._exact_calls()

    def _exact_calls(self) -> None:
        from pytod_spark.detectors import KNN
        from pytod_spark.operators.similarity import cosine_topk_join

        b = self.bench
        with b.span("detectors.knn"):
            got = KNN(n_neighbors=5).score_df(self.groups, group_cols=["grp"]).select(
                "row_id", "score").toPandas()
        # the tolerance of the package's KNN parity test
        b.gate("detectors.knn", score_problems(
            dict(zip(got["row_id"].tolist(), got["score"].tolist())),
            self.expected_knn, 1e-9, "knn"))

        with b.span("similarity.cosine_topk_join"):
            hits = cosine_topk_join(self.groups, K).select("row_id", "nbr_id", "cos").toPandas()
        triples = list(hits.itertuples(index=False, name=None))
        got_cos: dict = {}
        for q, n, _c in triples:
            got_cos.setdefault(int(q), []).append(int(n))
        b.gate("similarity.cosine_topk_join",
               cosine_problems(triples, self.UG, self.UG, "cosine_topk_join")
               + topk_problems({q: sorted(v) for q, v in got_cos.items()},
                               self.expected_cos, "cosine_topk_join"))

    def _ivf_state(self):
        """(centroids, {cell: [ids]}, stored ids, n_assign) read from
        the IVF index's files, outside Spark."""
        sub = lambda name: os.path.join(self.ivf_ref, name)  # noqa: E731
        c = pq.read_table(sub("centroids")).to_pydict()
        C = np.zeros((len(c["cell"]), len(c["v"][0])))
        for cell, v in zip(c["cell"], c["v"]):
            C[cell] = v
        cells: dict = {}
        t = pq.read_table(sub("cells")).to_pydict()
        for cell, i in zip(t["cell"], t["doc_id"]):
            cells.setdefault(int(cell), []).append(int(i))
        stored = [int(i) for i in pq.read_table(sub("vectors"), columns=["doc_id"])["doc_id"].to_pylist()]
        n_assign = int(pq.read_table(sub("meta"))["n_assign"][0].as_py())
        return C, cells, stored, n_assign

    def stored_bytes(self) -> int:
        return dir_bytes([self.mh_ref, self.ivf_ref])
