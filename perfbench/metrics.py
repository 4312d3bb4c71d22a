"""Names and units of every metric the benchmark prints, as listed in
``BENCHMARK.json``.

A ``share`` is a fraction of wall time; module, node-group and stage
breakdowns are shares so that every time metric applies to every
workload (a layer a workload bypasses has share 0).
"""

WORKLOAD_NAMES = ("warehouse_queries", "llm_curation")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_geomean_s": "s",
    "jvm_peak_rss_mb": "MB",
}

QUERY_MODULES = ("staging", "facts", "dims", "analytics", "tpch", "windows",
                 "events", "governance", "llm_text", "llm_dedup",
                 "llm_similarity", "multimodal", "sampling", "curation",
                 "corpus")
MEDALLION_GROUPS = ("bronze", "silver", "gold", "fact_claims", "outputs")
# the artifacts run_corpus_pipeline writes and times
CORPUS_ARTIFACTS = ("raw", "gated", "exact_dedup", "shingle_blocks",
                    "canonical", "decontaminated", "sampled", "packed_bins")
# the funnel stages that drop documents, in order after "raw"
FUNNEL_FILTERS = ("gated", "exact_dedup", "near_dup_canonical",
                  "decontaminated", "sampled")

PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.task_busy_frac": "ratio", "spark.no_task_frac": "ratio",
    "spark.task_p75_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes", "spark.peak_exec_mem_bytes": "bytes",
    "op.build_s": "s", "op.execute_s": "s", "op.eager_jobs": "count",
    **{f"queries.{m}.{k}": u for m in QUERY_MODULES
       for k, u in (("share", "ratio"), ("jobs", "count"))},
    **{f"medallion.{g}.share": "ratio" for g in MEDALLION_GROUPS},
    **{f"corpus.{a}.share": "ratio" for a in CORPUS_ARTIFACTS},
    **{f"corpus.{s}.keep_frac": "ratio" for s in FUNNEL_FILTERS},
    "session.launch_s": "s", "session.start_s": "s", "tables.open_s": "s",
    "inputs.gen_s": "s", "inputs.rows": "count", "inputs.bytes": "bytes",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
    "host.cpus": "count", "host.canary_s": "s", "host.steal_frac": "ratio",
    "log.error_lines": "count",
    "tracing.overhead_frac": "ratio",
}
