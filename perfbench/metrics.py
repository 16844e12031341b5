"""Metric names and units the benchmark prints. BENCHMARK.json lists the
same names; perfbench/test_perfbench.py keeps the two in step."""

from __future__ import annotations

# --trace 0: end-to-end metrics, measured with tracing off
END_TO_END = {
    "turns_per_s": "turns/s",
    "setup_s": "s",
    "worker_peak_rss_mb": "MB",
    "sink_bytes_per_triple": "bytes",
}

BASE = [
    ("wall_s", "s"),
    ("rows_out", "rows"),
    ("task_s", "s"),
    ("jobs", "count"),
    ("failed_tasks", "count"),
]
_PYTHON = [
    ("python_run_s", "s"),
    ("python_start_s", "s"),
    ("arrow_bytes_to_python", "bytes"),
    ("arrow_bytes_from_python", "bytes"),
    ("jvm_cpu_s", "s"),
    ("worker_peak_rss_mb", "MB"),
]

# layer -> extra metrics beyond BASE. Layer names are the modules whose
# public call the span wraps (triples.hot = triples.hot_conversations).
LAYER_EXTRAS = {
    "session": [],
    "canonicalize": [],
    "tokenization": [("input_bytes", "bytes")],
    "mentions": _PYTHON,
    "tagger": _PYTHON,
    "link": [("shuffle_write_bytes", "bytes")],
    "triples": [("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")],
    "triples.hot": [("shuffle_write_bytes", "bytes")],
    "sink": [
        ("bytes_written", "bytes"),
        ("files", "count"),
        ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"),
        ("task_skew", "ratio"),
    ],
    "checkpoint": [
        ("input_rows_read", "rows"),
        ("scan_amplification", "ratio"),
        ("progress_rows", "rows"),
        ("noop_s", "s"),
        ("dup_triples", "rows"),
    ],
}

# the traced run's own totals
TRACE = {
    "trace.total_s": "s",
    "trace.untraced_s": "s",
    "trace.overhead_s": "s",
}


def per_layer() -> dict[str, str]:
    """--trace 1: every per-layer metric name -> unit."""
    out = {}
    for layer, extras in LAYER_EXTRAS.items():
        for metric, unit in BASE + extras:
            out[f"{layer}.{metric}"] = unit
    out.update(TRACE)
    return out
