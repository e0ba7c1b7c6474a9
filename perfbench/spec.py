"""What the benchmark measures: workloads, metrics and their bounds.

``BENCHMARK.json`` at the repository root is generated from this module
(``python3 perfbench/run.py --write-spec``), and ``run.py`` emits exactly
these metric names, so the two cannot drift apart. The per-layer ->
end-to-end map that explains which layer metric should move which
end-to-end metric lives in ``perfbench/README.md``.
"""

from __future__ import annotations

import json
import os

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 20

WORKLOADS = [
    {
        "name": "build",
        "why": "cold IndexBuilds of a seeded 20k-page crawl (+3% recrawls), each in a fresh session; stresses extract/"
        "tokenize, postings stats, range shuffle, segment encode, table commits; serving bypassed",
    },
    {
        "name": "serve_volume",
        "why": "warm ServingSession over the cached index built by this code; 2000-claim batches (60% head, 30% mid, "
        "10% head+OOV), k=5; the WAND kernel and gather dominate; build bypassed",
    },
]

# (name, unit, better, bound). Every workload reports every metric; each
# is a property of the workload's measured operation (one build or one
# claim batch), so none is ever 0. Bounds are wide because run-to-run
# spread on a shared 4-vCPU host reached 0.18 in a noisy period.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("latency_ms_p50", "ms", "lower", 0.25),
    ("items_per_s", "items/s", "higher", 0.25),
    ("index_bytes_per_text_byte", "ratio", "lower", 0.05),
]

# (name, unit, better). Layers a workload bypasses report 0.
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("plans.build.reader_open_s", "s", "lower"),
    ("plans.query.warm_s", "s", "lower"),
    ("functions.tokenize.build_s", "s", "lower"),
    ("functions.tokenize.build_python_s", "s", "lower"),
    ("functions.tokenize.postings_rows", "count", "lower"),
    ("operators.postings.term_stats_s", "s", "lower"),
    ("operators.postings.corpus_stats_s", "s", "lower"),
    ("plans.build.boundaries_s", "s", "lower"),
    ("operators.segments.encode_commit_s", "s", "lower"),
    ("operators.segments.shuffle_bytes", "B", "lower"),
    ("operators.segments.slices", "count", "lower"),
    ("operators.segments.index_bytes", "B", "lower"),
    ("sources.tableio.commits", "count", "lower"),
    ("sources.tableio.commit_s", "s", "lower"),
    ("sources.tableio.files_written", "count", "lower"),
    ("operators.wand.kernel_python_ms", "ms", "lower"),
    ("operators.wand.kernel_input_bytes", "B", "lower"),
    ("operators.wand.gather_bytes", "B", "lower"),
    ("operators.wand.jobs", "count", "lower"),
    ("operators.wand.stages", "count", "lower"),
    ("operators.wand.tasks", "count", "lower"),
    ("operators.wand.python_init_ms", "ms", "lower"),
    ("plans.query.topk_call_ms", "ms", "lower"),
    ("plans.query.exec_ms", "ms", "lower"),
    ("plans.query.cache_scan_rows", "count", "lower"),
    ("plans.query.scan_useful_ratio", "ratio", "higher"),
    ("functions.tokenize.claim_passes", "count", "lower"),
    ("functions.tokenize.claim_python_ms", "ms", "lower"),
    ("mem.peak_rss_mb", "MB", "lower"),
    ("host.steal_jiffies", "jiffies", "lower"),
    ("host.busy_cpu_s", "s", "lower"),
    ("host.loadavg_1m", "load", "lower"),
    ("traced.setup_s", "s", "lower"),
    ("traced.latency_ms_p50", "ms", "lower"),
    ("traced.items_per_s", "items/s", "higher"),
    ("traced.ops", "count", "higher"),
]


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER
        ],
    }


def write(root: str) -> str:
    path = os.path.join(root, "BENCHMARK.json")
    with open(path, "w") as f:
        json.dump(benchmark_json(), f, indent=2)
        f.write("\n")
    return path
