"""The benchmark's definition: workloads and metrics, in one place.

``python3 extractbench/spec.py`` writes ``BENCHMARK.json`` at the repo
root from the tables below; ``run.py`` and ``workloads.py`` read the
same tables, so the file and the program cannot drift apart.
"""

from __future__ import annotations

import json
import os

COMMAND = ["python3", "extractbench/run.py"]
PATHS = ["extractbench"]
RUN_SECONDS = 16

WORKLOADS = [
    ("bulk_extract",
     "one-chunk run over a seeded corpus with the skew tail, resumed and looked up: the fused stage's per-doc work and one commit"),
    ("chunked_resume",
     "4-chunk run crashed at chunk 2, resumed and looked up: per-chunk jobs, commits, lineage and the resume path dominate"),
]

# (name, unit, better, bound). The bound is the share of the parent's
# median by which a metric may worsen before a change is rejected.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("docs_per_s", "1/s", "higher", 0.25),
]

# (name, unit, better) — reported by the traced run (--trace 1).
PER_LAYER = [
    ("core.parse_us", "us", "lower"),
    ("core.normalize_us", "us", "lower"),
    ("core.extract_us", "us", "lower"),
    ("core.giant_parse_us", "us", "lower"),
    ("core.tokens_per_doc", "count", "lower"),
    ("core.items_per_doc", "count", "lower"),
    ("core.fields_per_doc", "count", "higher"),
    ("stages.fused_us_per_doc", "us", "lower"),
    ("stages.overhead_us_per_doc", "us", "lower"),
    ("pipeline.jobs", "count", "lower"),
    ("pipeline.spark_stages", "count", "lower"),
    ("pipeline.tasks", "count", "lower"),
    ("pipeline.failed_tasks", "count", "lower"),
    ("pipeline.chunk_wall_p50_ms", "ms", "lower"),
    ("pipeline.chunk_wall_max_ms", "ms", "lower"),
    ("pipeline.doc_proc_p50_ms", "ms", "lower"),
    ("pipeline.doc_proc_p99_ms", "ms", "lower"),
    ("pipeline.core_busy_ratio", "ratio", "higher"),
    ("pipeline.resume_s", "s", "lower"),
    ("checkpoint.bytes_per_doc", "B", "lower"),
    ("checkpoint.files_per_chunk", "count", "lower"),
    ("checkpoint.chunks_skipped", "count", "higher"),
    ("checkpoint.done_chunks_ms", "ms", "lower"),
    ("checkpoint.lineage_read_ms", "ms", "lower"),
    ("lookup.jobs_per_call", "count", "lower"),
    ("lookup.tasks_per_call", "count", "lower"),
    ("lookup.hit_ratio", "ratio", "higher"),
    ("lookup.point_p50_ms", "ms", "lower"),
    ("lookup.bulk_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("pages.gen_s", "s", "lower"),
    ("pages.html_bytes_per_doc", "B", "lower"),
    ("pages.giant_docs", "count", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def manifest() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest(), fh, indent=2)
        fh.write("\n")
