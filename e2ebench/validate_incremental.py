"""Workload ``validate_incremental``: the nightly re-validation job.

Input: a seeded ``datagen`` corpus partitioned by ``shard``, a string
column derived from ``lang`` and the path hash (20 values). Two
snapshots differ in one shard: a tenth of its files were re-committed
under commits the parent table does not know, so that shard's
referential-integrity counts change and nothing else does. Each
iteration switches to the other snapshot and calls ``run_incremental``
(the write call), then calls it ``READS`` more times with no change
(the read calls).
"""

from __future__ import annotations

import os
import zlib

import pandas as pd
import pyarrow.parquet as pq

from catalogue import VI_PHASES, VI_SPANS
from gates import verdict_problems
from harness import dir_bytes, dir_listing, listing_delta, median, write_parquet_files

N_ROWS = 20_000
REF_EVERY = 4
N_PATH_BUCKETS = 4  # shards = 5 langs x 4 path buckets
READS = 3  # no-change calls per iteration
EDIT_EVERY = 10  # one file in ten of the changed shard is re-committed

SPAN_CHANGE, SPAN_NOOP = VI_SPANS


def _bucket(s: str, mod: int, div: int = 1) -> int:
    return (zlib.crc32(s.encode()) // div) % mod


def exact_counts(pdf: pd.DataFrame, parent: set) -> dict:
    """Per-shard row, duplicate-key and orphan counts computed from the
    generated rows alone."""
    out = {}
    for shard, g in pdf.groupby("shard"):
        per_key = g.groupby(["repo", "path", "commit"]).size()
        dup = per_key[per_key > 1]
        orphan = ~pd.Series(list(zip(g["repo"], g["commit"]))).isin(parent)
        out[shard] = {
            "n_rows": len(g),
            "n_dup_keys": int(len(dup)),
            "n_extra_rows": int((dup - 1).sum()),
            "n_orphans": int(orphan.sum()),
        }
    return out


class ValidateIncremental:
    name = "validate_incremental"

    def __init__(self, bench, seed: int):
        self.bench = bench
        self.seed = seed
        self.input_rows = N_ROWS

    # ------------------------------------------------------------ setup

    def setup(self) -> None:
        from pytod_spark.datagen import generate_repo_table, repo_commits_dim
        from pytod_spark.validation import RowConstraint, ValidationSuite
        from pytod_spark.validation.profile import build_snapshot_profile

        b, spark, seed = self.bench, self.bench.spark, self.seed
        w = b.work
        n_files = 2 * b.nproc

        def shard_of(pdf):
            return pdf["lang"] + "_" + pdf["path"].map(
                lambda p: str(_bucket(p, N_PATH_BUCKETS))
            )

        with b.span("setup.datagen"):
            a = generate_repo_table(spark, N_ROWS, seed=seed).toPandas()
        a["shard"] = shard_of(a)
        shards = sorted(a["shard"].unique())
        self.changed = shards[seed % len(shards)]
        edit = (a["shard"] == self.changed) & a["path"].map(
            lambda p: _bucket(p, EDIT_EVERY, N_PATH_BUCKETS) == 0
        )
        bsnap = a.copy()
        bsnap.loc[edit, "commit"] = bsnap.loc[edit, "commit"] + "-rc"
        self.edited_rows = int(edit.sum())
        parent = repo_commits_dim(spark, N_ROWS, seed=seed).toPandas()
        parent_keys = set(zip(parent["repo"], parent["commit"]))

        self.snap_dirs = []
        for tag, pdf in (("a", a), ("b", bsnap)):
            d = os.path.join(w, f"snapshot_{tag}")
            write_parquet_files(pdf, d, n_files)
            self.snap_dirs.append(d)
        write_parquet_files(parent, os.path.join(w, "parent"), 1)
        self.input_bytes = dir_bytes([self.snap_dirs[0]])

        self.snaps = [spark.read.parquet(d) for d in self.snap_dirs]
        self.parent = spark.read.parquet(os.path.join(w, "parent"))
        prof_dir = os.path.join(w, "reference_profile")
        # the PSI/KS reference: a prebuilt profile of an earlier
        # snapshot, here every REF_EVERY-th file of snapshot A
        with b.span("setup.reference_profile"):
            build_snapshot_profile(
                self.snaps[0].where(f"pmod(xxhash64(path), {REF_EVERY}) = 0"), "shard"
            ).write.parquet(prof_dir)
        self.profile = spark.read.parquet(prof_dir)

        self.suite = ValidationSuite(
            partition_col="shard",
            constraints=[
                RowConstraint("has_content", "content_length > 0"),
                RowConstraint("line_width", "max_line_len < 200", 0.05),
                RowConstraint("path_depth", "length(path) < 48"),
            ],
        )
        self.exact = [exact_counts(a, parent_keys), exact_counts(bsnap, parent_keys)]

        # the from-scratch run: builds the persisted state and gives
        # the expected verdicts. The edit changes only commits, so
        # every feature-derived verdict field is the same in both
        # snapshots; the counts that do change come from ``exact``.
        self.run_dir = os.path.join(w, "run")
        with b.span("setup.from_scratch_run"):
            m = self.suite.run(spark, self.snaps[0], self.run_dir, resume=False,
                               **self._kwargs())
        self.expected = self._verdicts()
        self.n_parts = m["partitions_total"]
        b.gate("validate_incremental.from_scratch", verdict_problems(
            self.expected, self.expected, self.exact[0], n_total=N_ROWS,
        ))
        self.cur = 0

    def _kwargs(self):
        return {"parent": self.parent, "reference_profile": self.profile}

    def _verdicts(self) -> dict:
        t = pq.read_table(os.path.join(self.run_dir, "verdicts")).to_pylist()
        return {r["shard"]: r for r in t}

    # -------------------------------------------------------- iteration

    def iteration(self, rec: dict) -> None:
        """One write call (switch snapshot) and ``READS`` read calls
        (no change), each checked. Fills ``rec`` with call times and
        the per-layer fields of this iteration."""
        b, spark = self.bench, self.bench.spark
        self.cur = 1 - self.cur
        snap = self.snaps[self.cur]

        before = dir_listing([self.run_dir])
        with b.span(SPAN_CHANGE) as sp:
            m = self.suite.run_incremental(spark, snap, self.run_dir, **self._kwargs())
        written, files = listing_delta(before, dir_listing([self.run_dir]))
        problems = verdict_problems(
            self._verdicts(), self.expected, self.exact[self.cur], n_total=N_ROWS,
        )
        if m["incremental_stale"] != [self.changed]:
            problems.append(f"recomputed {m['incremental_stale']}, expected [{self.changed!r}]")
        b.gate(SPAN_CHANGE, problems)
        rec["write_s"] = [sp["wall_s"]]
        pt = m["phase_times"]
        for p in VI_PHASES[SPAN_CHANGE]:
            rec[f"{SPAN_CHANGE}.{p}_s"] = pt.get(p, 0.0)
        rec[f"{SPAN_CHANGE}.useful_row_ratio"] = self.edited_rows / max(1, m["stage_a_rows"])
        rec[f"{SPAN_CHANGE}.bytes_written"] = written
        rec[f"{SPAN_CHANGE}.files_written"] = files

        rec["read_s"] = []
        for _ in range(READS):
            with b.span(SPAN_NOOP) as sp:
                m = self.suite.run_incremental(spark, snap, self.run_dir, **self._kwargs())
            problems = verdict_problems(
                self._verdicts(), self.expected, self.exact[self.cur], n_total=N_ROWS,
            )
            if m["incremental_stale"] or m["partitions_resumed_skip"] != self.n_parts:
                problems.append(
                    f"no-change run recomputed {m['incremental_stale']} "
                    f"(skipped {m['partitions_resumed_skip']}/{self.n_parts})"
                )
            b.gate(SPAN_NOOP, problems)
            rec["read_s"].append(sp["wall_s"])
        # the phases of the last no-change call
        pt = m["phase_times"]
        for p in VI_PHASES[SPAN_NOOP]:
            rec[f"{SPAN_NOOP}.{p}_s"] = pt.get(p, 0.0)
        # one iteration handles the input once: one write and one read
        rec["iter_s"] = rec["write_s"][0] + median(rec["read_s"])

    def stored_bytes(self) -> int:
        return dir_bytes([self.run_dir])
