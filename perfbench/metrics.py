"""Metric catalog: the single list ``BENCHMARK.json`` is written from
(``python3 perfbench/metrics.py > BENCHMARK.json``) and the runner fills.

End-to-end metrics apply to every workload.  Per-layer metrics name the
workloads whose traced run computes them; on the others the runner
reports 0, meaning the layer did no work in that workload.
"""

from __future__ import annotations

import json

INGEST, QUERY = "ingest_incremental", "query_suite"
BOTH = (INGEST, QUERY)

WORKLOADS = [
    {"name": INGEST,
     "why": "live-table lifecycle: watermark scan, freshness join, partition-"
            "rewriting merge, text-index apply and purge, after a cold ingest "
            "(chunk/embed, index bootstrap) in set-up"},
    {"name": QUERY,
     "why": "the 22 bench.py headline entries plus the chunk pipeline: dedup, "
            "similarity, SQL analytics and driver plan building, no sink I/O"},
]

END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("op_s.p50", "s", "lower", 0.25),
]

#: bench.py's headline entries, in its order, then its chunk pipeline
HEADLINE = [
    "q01_pricing_summary", "q05_regional_revenue", "q10_chunk_fixed",
    "q11_window_numbering", "q13_log_retention", "q15_exact_dedup",
    "q16_ngram_jaccard", "q17_simhash", "q18_minhash_lsh", "q19_knn_top1",
    "q20_ann_lsh", "q21_quality_scores", "q24_tumbling_window",
    "q31_media_features", "q35_sessionize", "q36_polygon_area",
    "q38_cost_rollup", "q43_windowed_counts", "q46_embedding_neardup",
    "q47_ivf_ann", "q50_doc_analysis_pages", "q52_multimodal_chunks",
]
PIPELINE = "pipeline_chunk_embed"
ENTRIES = HEADLINE + [PIPELINE]

PER_LAYER = [
    # name, unit, better, workloads it applies to
    ("ingest_job.scan_freshness_s", "s", "lower", (INGEST,)),
    ("ingest_job.chunk_embed_s", "s", "lower", (INGEST,)),
    ("ingest_job.ops_log_s", "s", "lower", (INGEST,)),
    ("ingest_job.search_index_s", "s", "lower", (INGEST,)),
    ("ingest_job.merge_s", "s", "lower", (INGEST,)),
    ("ingest_job.self_s", "s", "lower", (INGEST,)),
    ("base.ingest_s", "s", "lower", (INGEST,)),
    ("base.chunk_embed_s", "s", "lower", (INGEST,)),
    ("chunking.kernel_task_s", "s", "lower", (INGEST,)),
    ("chunking.kernel_task_s.nonascii", "s", "lower", (INGEST,)),
    ("chunking.chunks_out", "count", "higher", (INGEST,)),
    ("python.boot_s", "s", "lower", BOTH),
    ("python.init_s", "s", "lower", BOTH),
    ("python.total_s", "s", "lower", BOTH),
    ("python.data_sent_mb", "MB", "lower", BOTH),
    ("python.data_received_mb", "MB", "lower", BOTH),
    ("python.boot_ratio", "ratio", "lower", BOTH),
    ("freshness.candidates", "count", "lower", (INGEST,)),
    ("freshness.reprocess_ratio", "ratio", "lower", (INGEST,)),
    ("upsert.merge_upsert_s", "s", "lower", (INGEST,)),
    ("upsert.delete_keys_s", "s", "lower", (INGEST,)),
    ("upsert.bytes_written_mb", "MB", "lower", (INGEST,)),
    ("upsert.files_written", "count", "lower", (INGEST,)),
    ("upsert.rewrite_ratio", "ratio", "lower", (INGEST,)),
    ("upsert.stale_parents", "count", "lower", (INGEST,)),
    ("purge_job.s", "s", "lower", (INGEST,)),
    ("purge_job.docs_deleted", "count", "higher", (INGEST,)),
    ("search.text_index_build_s", "s", "lower", (INGEST,)),
    ("search.text_index_apply_s", "s", "lower", (INGEST,)),
    ("search.bytes_written_mb", "MB", "lower", (INGEST,)),
    ("ops_log.rows_written", "count", "lower", (INGEST,)),
    *[(f"{e}.{m}", u, "lower", (QUERY,))
      for e in ENTRIES
      for m, u in (("build_s", "s"), ("exec_s", "s"), ("py4j_calls", "count"))],
    ("driver.build_s", "s", "lower", BOTH),
    ("driver.py4j_calls", "count", "lower", BOTH),
    ("spark.jobs", "count", "lower", BOTH),
    ("spark.stages", "count", "lower", BOTH),
    ("spark.tasks", "count", "lower", BOTH),
    ("spark.executor_run_s", "s", "lower", BOTH),
    ("spark.executor_cpu_s", "s", "lower", BOTH),
    ("spark.gc_s", "s", "lower", BOTH),
    ("spark.scheduler_delay_s", "s", "lower", BOTH),
    ("spark.shuffle_write_mb", "MB", "lower", BOTH),
    ("spark.shuffle_read_mb", "MB", "lower", BOTH),
    ("spark.spill_mb", "MB", "lower", BOTH),
    ("spark.input_mb", "MB", "lower", BOTH),
    ("spark.output_mb", "MB", "lower", BOTH),
    ("spark.task_failures", "count", "lower", BOTH),
    # workload outcomes kept out of the end-to-end list: the first
    # three and the recalls do not apply to every workload, peak RSS
    # (JVM heap growth) spreads too widely between runs to carry a bound
    ("docs_per_s", "1/s", "higher", (INGEST,)),
    ("write_amp", "ratio", "lower", (INGEST,)),
    ("space_amp", "ratio", "lower", (INGEST,)),
    ("ann_recall.lsh", "ratio", "higher", (QUERY,)),
    ("ann_recall.ivf", "ratio", "higher", (QUERY,)),
    ("ann_recall.pq_refine", "ratio", "higher", (QUERY,)),
    ("ann_recall.ivfpq", "ratio", "higher", (QUERY,)),
    ("peak_rss_mb", "MB", "lower", BOTH),
    ("failed_ops_ratio", "ratio", "lower", BOTH),
    ("trace.overhead_s", "s", "lower", BOTH),
]

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}


def applies(name: str, workload: str) -> bool:
    for n, _u, _b, wls in PER_LAYER:
        if n == name:
            return workload in wls
    raise KeyError(name)


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 8,
        "workloads": WORKLOADS,
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd}
            for n, u, b, bd in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER
        ],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
