"""Per-iteration JIT trace of one long run.

    python3 e2ebench/jit_trace.py --workload validate_incremental --seed 1 \
        --seconds 90 --out e2ebench/results/jit_trace_validate_incremental.json

Runs ``run.py`` with a long timed loop and records, per timed iteration,
the JVM's JIT compile seconds and the call times, to show where in the
run the timed iterations of a normal run sit.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import median  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=90)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    os.makedirs(".bench_work", exist_ok=True)
    dump = os.path.join(".bench_work", f"jit-trace-{os.getpid()}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--dump", dump]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=900)
    with open(dump) as fh:
        raw = json.load(fh)
    os.remove(dump)
    trace = [{"iteration": i + 1, "jit_s": s["jit_s"],
              "write_s": s["write_s"], "read_s": s["read_s"]}
             for i, s in enumerate(raw["samples"])]
    with open(args.out, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "setup_s": raw["setup_s"],
                   "iterations": trace}, fh, indent=1)
    for t in trace:
        print(f"{t['iteration']:3d}  jit {t['jit_s']:6.2f} s  write {median(t['write_s']):6.2f} s  "
              f"read {median(t['read_s']):6.2f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
