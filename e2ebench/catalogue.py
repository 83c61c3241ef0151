"""The benchmark's metric catalogue and the reduction of a raw run
record to metrics.

Every run prints every metric of its mode, whatever the workload, so
the same name means the same thing everywhere. A span or phase a
workload does not run reads 0 in its traced run.
"""

from __future__ import annotations

from harness import median

WORKLOADS = ("validate_incremental", "index_refresh")

#: (name, unit, better) of the end-to-end metrics
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
    ("write_s.p50", "s", "lower"),
    ("read_s.p50", "s", "lower"),
    ("stored_bytes_per_input_byte", "ratio", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)

_UNITS = {
    "wall_s": "s", "jobs": "count", "cpu_s": "s", "gc_s": "s", "python_s": "s",
    "arrow_bytes": "bytes", "shuffle_bytes": "bytes", "input_bytes": "bytes",
    "driver_s": "s", "bytes_written": "bytes", "files_written": "count",
}

VI_SPANS = ("engine.run_incremental.change", "engine.run_incremental.noop")
VI_FIELDS = ("jobs", "cpu_s", "gc_s", "python_s", "shuffle_bytes", "input_bytes", "driver_s")
VI_PHASES = {
    VI_SPANS[0]: ("features", "checks_parallel", "check_stats", "check_uniqueness",
                  "check_ri", "check_constraints", "check_drift", "check_dist_drift",
                  "check_fingerprint", "stage_b", "fingerprint_scan"),
    VI_SPANS[1]: ("stage_b", "fingerprint_scan"),
}
IR_SPANS = ("neardup_index.refresh", "neardup_index.probe",
            "similarity.ivf_index_append", "similarity.ivf_index_search",
            "detectors.knn", "similarity.cosine_topk_join")
IR_FIELDS = ("wall_s", "jobs", "cpu_s", "python_s", "arrow_bytes", "shuffle_bytes",
             "input_bytes", "driver_s")
WRITE_SPANS = (VI_SPANS[0], "neardup_index.refresh", "similarity.ivf_index_append")


def per_layer_catalogue():
    """(name, unit, better) of every per-layer metric."""
    out = []
    for spans, fields in ((VI_SPANS, VI_FIELDS), (IR_SPANS, IR_FIELDS)):
        out += [(f"{s}.{f}", _UNITS[f], "lower") for s in spans for f in fields]
    for span, phases in VI_PHASES.items():
        out += [(f"{span}.{p}_s", "s", "lower") for p in phases]
    out.append((f"{VI_SPANS[0]}.useful_row_ratio", "ratio", "higher"))
    out += [(f"{s}.{f}", _UNITS[f], "lower") for s in WRITE_SPANS
            for f in ("bytes_written", "files_written")]
    out += [
        ("session.jit_s", "s", "lower"),
        ("ivf_recall", "ratio", "higher"),
    ]
    return out


def _med(samples, key):
    """Median of ``key`` over the samples; 0 where no sample has it."""
    vals = [s[key] for s in samples if key in s]
    return median(vals) if vals else 0.0


def calls(samples, key) -> list[float]:
    """Every call time of kind ``key`` ("write_s" or "read_s") over the
    iterations; an iteration may hold more than one."""
    return [t for s in samples for t in s[key]]


def end_to_end_metrics(workload: str, raw: dict) -> dict:
    s = raw["samples"]
    values = {
        "setup_s": raw["setup_s"],
        "rows_per_s": raw["rows"] / _med(s, "iter_s"),
        "write_s.p50": median(calls(s, "write_s")),
        "read_s.p50": median(calls(s, "read_s")),
        "stored_bytes_per_input_byte": raw["stored_bytes"] / raw["input_bytes"],
        "peak_rss_mb": raw["peak_rss_bytes"] / 2**20,
    }
    return {name: (values[name], unit) for name, unit, _better in END_TO_END}


def per_layer_metrics(workload: str, raw: dict) -> dict:
    from eventlog import span_fields

    log = raw["eventlog"]
    by_span: dict[str, list[dict]] = {}
    for sp in raw["spans"]:
        by_span.setdefault(sp["name"], []).append(
            span_fields(log, sp["start_ms"], sp["end_ms"])
        )
    s = raw["samples"]
    out = {}
    for name, unit, _better in per_layer_catalogue():
        span, _, field = name.rpartition(".")
        if span in by_span and field in by_span[span][0]:
            v = median([f[field] for f in by_span[span]])
        elif name == "session.jit_s":
            v = _med(s, "jit_s")
        else:
            v = _med(s, name)
        out[name] = (v, unit)
    return out


def report_lines(workload: str, raw: dict, metrics: dict) -> list[str]:
    """Human-readable lines printed before the result line: every
    metric with its unit and the number of samples behind it."""
    n = len(raw["samples"])
    lines = [
        f"# {workload}: setup {raw['setup_s']:.2f} s, {n} timed iterations (JIT s/iter: "
        + ", ".join(f"{x['jit_s']:.2f}" for x in raw["samples"]) + ")",
        f"# iter_s.p50 {_med(raw['samples'], 'iter_s'):.4f} s (n={n})",
        "# setup steps: " + ", ".join(f"{sp['name'][6:]} {sp['wall_s']:.2f} s"
                                      for sp in raw["spans"] if sp["name"].startswith("setup.")),
    ]
    counts = {"write_s.p50": len(calls(raw["samples"], "write_s")),
              "read_s.p50": len(calls(raw["samples"], "read_s")),
              "rows_per_s": n}
    for name, (v, unit) in metrics.items():
        # per-layer medians are over the iterations; set-up, storage
        # and memory are measured once
        k = counts.get(name, n if "." in name or name == "ivf_recall" else 1)
        lines.append(f"{name} {v:.6g} {unit} (n={k})")
    return lines
