"""Where each per-layer metric of the traced run should show: the
end-to-end metric it is expected to move and the workloads it should move
it on. Names, units and directions are declared once, in
``BENCHMARK.json``; its schema has no room for these expectations, so they
live here and the reader prints them.
"""
import json
import os

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")

ALL = ("margin_tables", "corpus_curation")
MARGIN_OPS = ("add_totals", "add_subtotals", "add_agg", "as_percentages",
              "add_percentages", "sort_totals")

# name: (end-to-end metrics it should move, workloads)
TARGETS = {
    "session.start_s": ("setup_s", ALL),
    "sources.pivot_s": ("request_p50_s", ("margin_tables",)),
    "sources.pivot_jobs": ("request_p50_s", ("margin_tables",)),
    "operators.margin_build_s": ("request_p50_s,request_tail_s", ("margin_tables",)),
    **{f"operators.{op}.build_s": ("request_p50_s,request_tail_s", ("margin_tables",))
       for op in MARGIN_OPS},
    "plan.scans": ("request_p50_s,request_tail_s", ("margin_tables",)),
    "plan.exchanges": ("request_p50_s,request_tail_s", ("margin_tables",)),
    "plan.nodes": ("request_p50_s,request_tail_s", ("margin_tables",)),
    "frame.collect_s": ("request_p50_s", ("margin_tables",)),
    "spark.jobs": ("request_p50_s", ("margin_tables",)),
    "spark.stages": ("request_p50_s", ("margin_tables",)),
    "spark.tasks": ("request_p50_s", ("margin_tables",)),
    "output.render_s": ("request_p50_s", ("margin_tables",)),
    "output.render_jobs": ("request_p50_s", ("margin_tables",)),
    "spark.driver_gap_s": ("request_p50_s", ("margin_tables",)),
    "spark.executor_run_s": ("input_rows_per_s", ("corpus_curation",)),
    "spark.executor_cpu_s": ("input_rows_per_s", ("corpus_curation",)),
    "spark.gc_s": ("input_rows_per_s", ("corpus_curation",)),
    "spark.shuffle_write_mb": ("input_rows_per_s", ("corpus_curation",)),
    "spark.spill_mb": ("input_rows_per_s", ("corpus_curation",)),
    "dedup.exact_s": ("input_rows_per_s", ("corpus_curation",)),
    "dedup.minhash_s": ("input_rows_per_s", ("corpus_curation",)),
    "dedup.minhash_pairs_out": ("input_rows_per_s", ("corpus_curation",)),
    "dedup.planted_recall": ("input_rows_per_s", ("corpus_curation",)),
    "text.quality_s": ("input_rows_per_s", ("corpus_curation",)),
    "similarity.knn_s": ("input_rows_per_s", ("corpus_curation",)),
    "similarity.embedding_dups_s": ("input_rows_per_s", ("corpus_curation",)),
    "streaming.drain_s": ("request_p50_s,input_rows_per_s", ("corpus_curation",)),
    "streaming.batches": ("request_p50_s,input_rows_per_s", ("corpus_curation",)),
    "streaming.batch_p50_ms": ("request_p50_s,input_rows_per_s", ("corpus_curation",)),
    "streaming.commit_ms": ("request_p50_s,input_rows_per_s", ("corpus_curation",)),
    "streaming.state_rows": ("request_p50_s,input_rows_per_s", ("corpus_curation",)),
    "cache.pinned_frames": ("jvm_peak_rss_mb", ALL),
    "cache.release_s": ("jvm_peak_rss_mb", ALL),
}


def declared(section: str) -> dict:
    """``{name: (unit, better)}`` of one metric list of BENCHMARK.json
    (``"end_to_end"`` or ``"per_layer"``), in declared order."""
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    return {m["name"]: (m["unit"], m["better"]) for m in bench[section]}


# span name → per-layer time metric (a request's value is the summed
# duration of its spans with that name)
SPAN_METRICS = {
    "sources.pivot": "sources.pivot_s",
    "frame.collect": "frame.collect_s",
    "output.render": "output.render_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.minhash": "dedup.minhash_s",
    "text.quality": "text.quality_s",
    "similarity.knn": "similarity.knn_s",
    "similarity.embedding_dups": "similarity.embedding_dups_s",
    "streaming.drain": "streaming.drain_s",
    "cache.release": "cache.release_s",
    **{f"operators.{op}": f"operators.{op}.build_s" for op in MARGIN_OPS},
}

# span name → per-layer count of the Spark jobs launched inside it
SPAN_JOB_METRICS = {
    "sources.pivot": "sources.pivot_jobs",
    "output.render": "output.render_jobs",
}
