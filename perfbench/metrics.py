"""The benchmark's metric catalogue: every metric a run can print, its unit,
and for per-layer metrics the layer it reads, the end-to-end figure it
should move and the workload of ``BENCHMARK.json`` that exercises it.
``BENCHMARK.json`` mirrors END_TO_END and PER_LAYER (a test keeps them
equal)."""

from __future__ import annotations

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "op_tail_s": ("s", "lower", 0.25),
    "work_s": ("s", "lower", 0.25),
}

ALL = ("ingest_queries", "curation_upserts")
ING, CUP = ALL

# (name, unit, better, layer, moves, workload)
PER_LAYER = [
    ("session.start_s", "s", "lower", "session", "setup_s", "all"),
    ("sources.csv.land_s", "s", "lower", "sources.csv", "work_s", ING),
    ("sources.csv.land.jobs", "count", "lower", "sources.csv", "work_s", ING),
    ("sources.csv.quarantine_s", "s", "lower", "sources.csv", "work_s", ING),
    ("sources.csv.quarantine.jobs", "count", "lower", "sources.csv", "work_s", ING),
    ("sources.csv.quarantine_rows", "count", "lower", "sources.csv", "failed", ING),
    ("inference.infer_s", "s", "lower", "inference", "work_s", ING),
    ("inference.infer.jobs", "count", "lower", "inference", "work_s", ING),
    ("inference.sampled_rows", "count", "higher", "inference", "ingest_cells_nulled_frac", ING),
    ("inference.cells_nulled", "count", "lower", "inference", "ingest_cells_nulled_frac", ING),
    ("lifecycle.write_build_s", "s", "lower", "lifecycle", "work_s", ING),
    ("lifecycle.write_build.jobs", "count", "lower", "lifecycle", "work_s", ING),
    ("lifecycle.promote_s", "s", "lower", "lifecycle", "work_s", ING),
    ("lifecycle.promote.jobs", "count", "lower", "lifecycle", "work_s", ING),
    ("lifecycle.history_s", "s", "lower", "lifecycle", "work_s", ING),
    ("lifecycle.history.jobs", "count", "lower", "lifecycle", "work_s", ING),
    ("lifecycle.count_report_s", "s", "lower", "lifecycle", "work_s", ING),
    ("lifecycle.count_report.jobs", "count", "lower", "lifecycle", "work_s", ING),
    ("lifecycle.bytes_written_per_csv_byte", "ratio", "lower", "lifecycle", "work_s", ING),
    ("pipeline.self_s", "s", "lower", "pipeline", "work_s", ING),
    ("pipeline.run_daily.jobs", "count", "lower", "pipeline", "work_s", ING),
] + [
    (f"plans.{m}.{phase}{suffix}", unit, "lower", f"plans.{m}", "op_p50_s,op_tail_s,work_s", ING)
    for m in ("relational", "tpch", "advanced")
    for phase in ("build", "exec")
    for suffix, unit in (("_s", "s"), (".jobs", "count"))
] + [
    (f"operators.{op}.{suffix}", unit, "lower", f"operators.{op}", "work_s", CUP)
    for op in ("curation", "clustering", "semdedup", "similarity")
    for suffix, unit in (("s", "s"), ("jobs", "count"))
] + [
    ("operators.dedup.candidates_per_kept_pair", "ratio", "lower", "operators.dedup",
     "work_s", CUP),
    ("operators.semdedup.dropped", "count", "higher", "operators.semdedup", "work_s", CUP),
    ("operators.similarity.recall_at_10", "fraction", "higher", "operators.similarity",
     "near_dup_recall", CUP),
    ("versioned.merge_s", "s", "lower", "sources.versioned", "work_s", CUP),
    ("versioned.merge.jobs", "count", "lower", "sources.versioned", "work_s", CUP),
    ("versioned.files_rewritten_per_merge", "count", "lower", "sources.versioned",
     "work_s", CUP),
    ("versioned.bytes_written_per_update_byte", "ratio", "lower", "sources.versioned",
     "stored_bytes_per_live_byte", CUP),
    ("versioned.lookup_s", "s", "lower", "sources.versioned", "op_p50_s,op_tail_s", CUP),
    ("versioned.lookup.jobs", "count", "lower", "sources.versioned", "op_p50_s", CUP),
    ("versioned.files_per_point_lookup", "count", "lower", "sources.versioned",
     "op_p50_s,op_tail_s", CUP),
    ("versioned.range_read_s", "s", "lower", "sources.versioned", "work_s", CUP),
    ("versioned.files_per_range_read", "count", "lower", "sources.versioned", "work_s", CUP),
    ("versioned.compact_s", "s", "lower", "sources.versioned", "work_s", CUP),
    ("versioned.vacuum_s", "s", "lower", "sources.versioned", "work_s", CUP),
    ("incremental.refresh_s", "s", "lower", "sources.incremental", "work_s", CUP),
    ("incremental.refresh.jobs", "count", "lower", "sources.incremental", "work_s", CUP),
] + [
    ("trace.spans", "count", "lower", "trace", "-", "all"),
    ("trace.overhead_s", "s", "lower", "trace", "-", "all"),
    ("trace.op_p50_s", "s", "lower", "trace", "op_p50_s", "all"),
    ("trace.work_s", "s", "lower", "trace", "work_s", "all"),
]
