"""End-to-end benchmark entry point.

    python3 e2ebench/run.py --workload validate_incremental --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. One closed-loop client (this process)
sets up the workload from ``--seed`` (the set-up's from-scratch run or
index builds also warm the JVM on the timed code paths), then runs
checked iterations until ``--seconds`` have passed, at least one. With
``--trace 0`` it prints the end-to-end metrics; with ``--trace 1``
Spark's event log is on and it prints the per-layer metrics. The last
line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import catalogue  # noqa: E402
from harness import REPO_ROOT, Bench, RssSampler  # noqa: E402


def _workload(name, bench, seed):
    if name == "validate_incremental":
        from validate_incremental import ValidateIncremental as W
    elif name == "index_refresh":
        from index_refresh import IndexRefresh as W
    else:
        raise SystemExit(f"unknown workload {name!r}")
    return W(bench, seed)


def _iterate(wl, bench) -> dict:
    rec: dict = {}
    j0 = bench.jit_s()
    wl.iteration(rec)
    rec["jit_s"] = bench.jit_s() - j0
    return rec


def run(args) -> dict:
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    bench = Bench(work, trace=bool(args.trace))
    rss = RssSampler()
    rss.start()
    try:
        try:
            t0 = time.time()
            with bench.span("setup.session"):
                bench.start_session()
            wl = _workload(args.workload, bench, args.seed)
            wl.setup()
            setup_s = time.time() - t0

            samples = []
            t_loop = time.time()
            while not samples or time.time() - t_loop < args.seconds:
                samples.append(_iterate(wl, bench))
            stored = wl.stored_bytes()
        finally:
            rss.stop()
            bench.close()

        out = {
            "setup_s": setup_s,
            "samples": samples,
            "rows": wl.input_rows,
            "stored_bytes": stored,
            "input_bytes": wl.input_bytes,
            "peak_rss_bytes": rss.peak,
            "spans": bench.spans,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "failures": bench.failures,
        }
        if args.trace:
            from eventlog import find_log, read_log

            out["eventlog"] = read_log(find_log(bench.eventlog_dir))
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=catalogue.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dump", help="also write the raw run record (JSON) here")
    args = ap.parse_args(argv)

    # the package must come from this checkout; fail before any work
    # (and without a result line) when it is not there
    if not os.path.isdir(os.path.join(REPO_ROOT, "pytod_spark")):
        print(f"pytod_spark not found under {REPO_ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO_ROOT)
    # a SIGTERM unwinds through run()'s cleanup, which stops the JVM
    # and the Python workers, instead of orphaning them
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    raw = run(args)
    if args.dump:
        with open(args.dump, "w") as fh:
            json.dump(raw, fh)
    metrics = (catalogue.per_layer_metrics(args.workload, raw) if args.trace
               else catalogue.end_to_end_metrics(args.workload, raw))
    for line in catalogue.report_lines(args.workload, raw, metrics):
        print(line)
    for f in raw["failures"]:
        print("FAILED", f)
    result = {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if raw["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
