"""Metric names and units, and what each per-layer metric should move.

``BENCHMARK.json`` lists the same names; ``test_perfbench.py`` checks the
two agree. ``LAYER_TARGETS`` maps each per-layer metric (by prefix) to
the end-to-end metric it should move and the workload it should move it
on, so that a performance change can state its prediction by name.
"""

from __future__ import annotations

import json
import os

END_TO_END = {
    "pages_per_s": "1/s",
    "cpu_s_per_kpage": "s",
    "round_s.p50": "s",
    "setup_s": "s",
    "peak_pss_mb": "MB",
}

PHASE_TASK_METRICS = {"input_mb": "MB", "shuffle_mb": "MB", "spill_mb": "MB",
                      "task_cpu_s": "s", "task_run_s": "s", "gc_s": "s",
                      "tasks": "count"}

PER_LAYER: dict[str, str] = {
    "crawl.annotate_s": "s",
    "annotate.frontier_rows": "count",
    "annotate.scheduled": "count",
    "annotate.deferred": "count",
    "annotate.deduped": "count",
    "annotate.blocked": "count",
    "annotate.scheduled_share": "1",
    "crawl.fetch_extract_s": "s",
    "fetch_extract.input_mb_per_kpage": "MB",
    "fetch.missing": "count",
    "fetch.hit_share": "1",
    "extract.links": "count",
    "extract.records": "count",
    "extract.errors": "count",
    "kernels.index_pages_per_s": "1/s",
    "kernels.article_pages_per_s": "1/s",
    "kernels.toi_pages_per_s": "1/s",
    "urls.canonicalize_per_s": "1/s",
    "urls.domain_per_s": "1/s",
    "udfs.extract_pages_per_s": "1/s",
    "udfs.crossing_share": "1",
    "crawl.results_s": "s",
    "crawl.counters_s": "s",
    "crawl.compact_s": "s",
    "seen.bloom_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.written_mb": "MB",
    "crawl.driver_gap_s": "s",
    "pages.ingest_s": "s",
    "session.start_s": "s",
    "warmup_s": "s",
    **{f"{p}.{m}": u for p in ("annotate", "fetch_extract", "results",
                                "counters", "compact", "bloom")
       for m, u in PHASE_TASK_METRICS.items()},
    "proc.jvm_pss_mb": "MB",
    "proc.python_pss_mb": "MB",
    "proc.steal_pct": "%",
    "trace.pages_per_s": "1/s",
}

HIGHER_IS_BETTER = {
    "pages_per_s", "annotate.scheduled_share", "fetch.hit_share",
    "kernels.index_pages_per_s", "kernels.article_pages_per_s",
    "kernels.toi_pages_per_s", "urls.canonicalize_per_s",
    "urls.domain_per_s", "udfs.extract_pages_per_s", "trace.pages_per_s",
    "annotate.scheduled", "extract.links", "extract.records",
}

# per-layer metric prefix -> (end-to-end metric it should move, workload)
LAYER_TARGETS: dict[str, tuple[str, str]] = {
    "crawl.annotate_s": ("round_s.p50", "crawl-polite; ~none on crawl-bulk"),
    "annotate.": ("round_s.p50", "crawl-polite; ~none on crawl-bulk"),
    "crawl.fetch_extract_s": ("pages_per_s, round_s.p50",
                              "crawl-polite (scan per round), "
                              "crawl-bulk (per page)"),
    "fetch_extract.": ("pages_per_s, round_s.p50", "crawl-polite, crawl-bulk"),
    "fetch.": ("pages_per_s", "crawl-bulk"),
    "extract.": ("pages_per_s", "crawl-bulk"),
    "kernels.": ("cpu_s_per_kpage, pages_per_s",
                 "crawl-bulk; little on crawl-polite"),
    "urls.": ("cpu_s_per_kpage, pages_per_s",
              "crawl-bulk; little on crawl-polite"),
    "udfs.": ("cpu_s_per_kpage", "crawl-bulk"),
    "crawl.results_s": ("round_s.p50", "crawl-polite"),
    "crawl.counters_s": ("round_s.p50", "crawl-polite"),
    "crawl.compact_s": ("round_s.p50", "crawl-polite"),
    "seen.bloom_s": ("round_s.p50", "crawl-polite"),
    "checkpoint.": ("round_s.p50", "crawl-polite"),
    "crawl.driver_gap_s": ("round_s.p50", "crawl-bulk, crawl-polite"),
    "pages.ingest_s": ("setup_s", "crawl-bulk, crawl-polite"),
    "session.start_s": ("setup_s", "crawl-bulk, crawl-polite"),
    "warmup_s": ("setup_s", "crawl-bulk, crawl-polite"),
    "results.": ("round_s.p50", "crawl-polite"),
    "counters.": ("round_s.p50", "crawl-polite"),
    "compact.": ("round_s.p50", "crawl-polite"),
    "bloom.": ("round_s.p50", "crawl-polite"),
    "proc.": ("peak_pss_mb", "crawl-bulk, crawl-polite"),
    "trace.": ("(tracing overhead, no end-to-end target)", "both"),
}


def target_of(name: str) -> tuple[str, str]:
    """The longest LAYER_TARGETS prefix matching ``name``."""
    best = max((p for p in LAYER_TARGETS if name.startswith(p)), key=len)
    return LAYER_TARGETS[best]


def load_benchmark_json(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], trace: bool) -> str:
    """The final output line; refuses names or units outside the tables."""
    table = PER_LAYER if trace else END_TO_END
    if set(values) != set(table):
        raise ValueError(f"metric names differ from the table: "
                         f"{sorted(set(values) ^ set(table))}")
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": table[k]}
                    for k in table}})
