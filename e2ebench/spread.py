"""Run-to-run spread of the end-to-end metrics over many seeds.

    python3 e2ebench/spread.py --seeds 1-10 --out e2ebench/results/spread.json
    python3 e2ebench/spread.py --seeds 1-2 --trace --out e2ebench/results/trace.json

Runs ``run.py`` once per (workload, seed), one run at a time, from the
current directory (a checkout root). For every metric it reports the
median, the quartiles as ``statistics.quantiles(n=4)`` gives them and
(q3 - q1) / median next to the metric's bound in BENCHMARK.json. With
``--trace`` it makes traced runs as well, and reports the tracing
overhead: the traced iteration time minus the untraced one, per seed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from catalogue import WORKLOADS  # noqa: E402
from harness import median, quartiles  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int, trace: int, dump: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--dump", dump]
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    run_wall_s = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n{proc.stdout}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    with open(dump) as fh:
        raw = json.load(fh)
    os.remove(dump)
    result["run_wall_s"] = run_wall_s
    result["iter_s"] = [s["iter_s"] for s in raw["samples"]]
    result["jit_s"] = [s["jit_s"] for s in raw["samples"]]
    result["setup_steps_s"] = {sp["name"][len("setup."):]: sp["wall_s"]
                               for sp in raw["spans"] if sp["name"].startswith("setup.")}
    return result


def summarize(runs: list[dict], bounds: dict) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = quartiles(vals)
        out[name] = {
            "values": vals, "median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else 0.0,
            "bound": bounds.get(name),
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOADS))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", action="store_true", help="also make traced runs")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    dump = os.path.join(".bench_work", f"spread-{os.getpid()}.json")
    os.makedirs(".bench_work", exist_ok=True)

    report = {"run_seconds": seconds, "workloads": {}}
    for wl in args.workloads:
        runs, traced = [], []
        for seed in _seeds(args.seeds):
            runs.append(one_run(wl, seed, seconds, 0, dump))
            runs[-1]["seed"] = seed
            print(f"   {wl} seed {seed}: " + ", ".join(
                f"{k} {m['value']:.5g}" for k, m in runs[-1]["metrics"].items()), flush=True)
            if args.trace:
                traced.append(one_run(wl, seed, seconds, 1, dump))
                traced[-1]["seed"] = seed
        entry = {
            "seeds": [r["seed"] for r in runs],
            "all_correct": all(r["correct"] for r in runs + traced),
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "jit_s_per_timed_iteration": [r["jit_s"] for r in runs],
            "setup_steps_s": [r["setup_steps_s"] for r in runs],
            "run_wall_s": [r["run_wall_s"] for r in runs],
            "metrics": summarize(runs, bounds),
        }
        if traced:
            entry["per_layer"] = summarize(traced, {})
            overhead = [median(t["iter_s"]) - median(u["iter_s"]) for t, u in zip(traced, runs)]
            entry["trace_overhead_s"] = {"per_seed": overhead, "median": median(overhead),
                                         "untraced_iter_s": median([median(u["iter_s"]) for u in runs])}
        report["workloads"][wl] = entry
        print(f"== {wl}: correct={entry['all_correct']} "
              f"attempted={entry['attempted']} failed={entry['failed']} "
              f"run wall mean {sum(entry['run_wall_s']) / len(runs):.1f} s "
              f"max {max(entry['run_wall_s']):.1f} s")
        for name, m in entry["metrics"].items():
            b = m["bound"]
            flag = "" if b is None or name == "setup_s" else (
                "  OK" if m["spread"] < b / 3 else ("  WIDE" if m["spread"] <= b else "  OVER"))
            print(f"  {name:30s} median {m['median']:12.5g}  q1 {m['q1']:12.5g}  "
                  f"q3 {m['q3']:12.5g}  spread {m['spread']:.3f}  bound {b}{flag}")
        if traced:
            print(f"  tracing overhead per iteration: {entry['trace_overhead_s']['median']:.3f} s")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
