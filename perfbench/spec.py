"""The benchmark's definition.

BENCHMARK.json at the repository root is the one source of the contract:
workloads, metric names, units and bounds, and run_seconds. This module
loads it and adds what the contract has no room for: each workload's
input properties and loop, and for every per-layer metric the workload
and end-to-end metric it should move ("-" for an exact invariant that
must not move).
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    CONTRACT = json.load(_f)

RUN_SECONDS = CONTRACT["run_seconds"]
UNITS = {m["name"]: m["unit"]
         for m in CONTRACT["end_to_end"] + CONTRACT["per_layer"]}
PER_LAYER = [m["name"] for m in CONTRACT["per_layer"]]
N_BUCKETS = 32  # extract_job's default

# One registry query per operator module that ROADMAP directions 2 and 5
# and the carried round-6 defects name (dedup_keep_best runs
# near_dup_clusters' connected components and the MinHash edge build
# inside it). dedup_ngram_jaccard, near_dup_clusters and
# warc_revisit_roundtrip are left out to keep a run under a minute on 4
# cores.
QUERIES = [
    "dedup_keep_best", "dedup_simhash_pairs", "ann_sq8_topk",
    "ann_pq_topk", "page_rasters", "wat_roundtrip",
]

LOOP = ("closed loop, one caller. Set-up starts the session, builds the "
        "inputs and reference, and (extract_web, clean_dups) runs one "
        "warm-up operation; then operations run back to back until "
        "run_seconds of operation time are spent, at least one, and the "
        "median is reported. Outputs are deleted between operations, "
        "outside the timed interval. operator_queries times its "
        "session's first, cold pass: a warm-up pass would add half "
        "again to a run.")

INPUTS = {
    "extract_web": {
        "docs": 8000, "pdf_share": 0.025, "pdf_styles": 7,
        "hosts": "Zipf over 200", "n_buckets": N_BUCKETS,
        "generator": "sources.synth.make_page(seed, doc_id)",
    },
    "clean_dups": {
        "base_docs": 1000, "exact_dup_share": 0.10,
        "near_dup_share": 0.10, "repetitive_share": 0.05,
        "n_buckets": N_BUCKETS,
        "note": ("the extracted table is extract_document's output over "
                 "make_page(seed, i); without the injected rows every "
                 "gate passes every doc"),
    },
    "operator_queries": {
        "queries": QUERIES, "documents_rows": 500, "embeddings_rows": 500,
        "embedding_dim": 64,
        "note": ("generated by perfbench.inputs with the properties "
                 "measured on the sf0.01 TESTDATA.md tables the oracle-parity "
                 "tests read (row counts, 31-word uniform vocabulary, "
                 "10-100 words per doc, 5% tail-edited near copies, iid "
                 "unit vectors with random labels); the timed passes run "
                 "on the seed's permutation of the rows, and every "
                 "checksum must match the canonical order's"),
    },
}

ALL = "*"
# per-layer metric -> (workload it should move, end-to-end metric it moves)
MOVES = {
    "session.start_s": (ALL, "setup_s"),
    "synth.gen_s": (ALL, "setup_s"),
    "warmup_s": (ALL, "setup_s"),
    "extract.html.docs_per_s_core": ("extract_web", "docs_per_s"),
    "extract.pdf.docs_per_s_core": ("extract_web", "docs_per_s"),
    "extract.tokenize_s": ("extract_web", "docs_per_s"),
    "extract.segment_tokens_s": ("extract_web", "docs_per_s"),
    "extract.classify_s": ("extract_web", "docs_per_s"),
    "extract.parse_pdf_s": ("extract_web", "docs_per_s"),
    "extract.page_text_s": ("extract_web", "docs_per_s"),
    "extract.spans_per_doc": ("extract_web", "-"),
    "extract.chars_per_doc": ("extract_web", "-"),
    "extract.errors": ("extract_web", "-"),
    "extract_udf.stage_s": ("extract_web", "docs_per_s"),
    "extract_udf.py_bytes_in": ("extract_web", "docs_per_s"),
    "extract_udf.py_bytes_out": ("extract_web", "docs_per_s"),
    "extract_udf.py_worker_s": ("extract_web", "docs_per_s"),
    "extract_udf.core_efficiency": ("extract_web", "docs_per_s"),
    "lineage.jobs": ("extract_web", "wall_s"),
    "lineage.write_jobs_s": ("extract_web", "wall_s"),
    "lineage.read_jobs_s": ("extract_web", "wall_s"),
    "lineage.between_jobs_s": ("extract_web", "wall_s"),
    "lineage.shuffle_write_bytes": ("extract_web", "write_amp"),
    "repetition.flag_s": ("clean_dups", "wall_s"),
    "cleanup.near_dup_losers_s": ("clean_dups", "wall_s"),
    "webops.pii_scrub_s": ("clean_dups", "wall_s"),
    "cleanup.jobs": ("clean_dups", "wall_s"),
    "cleanup.write_jobs_s": ("clean_dups", "wall_s"),
    "cleanup.read_jobs_s": ("clean_dups", "wall_s"),
    "cleanup.between_jobs_s": ("clean_dups", "wall_s"),
    "cleanup.band_rows_probed": ("clean_dups", "wall_s"),
    "cleanup.verified_pairs": ("clean_dups", "-"),
    "cleanup.verify_yield": ("clean_dups", "wall_s"),
    "cleanup.n_in": ("clean_dups", "-"),
    "cleanup.n_after_quality": ("clean_dups", "-"),
    "cleanup.n_after_repetition": ("clean_dups", "-"),
    "cleanup.n_after_exact_dedup": ("clean_dups", "-"),
    "cleanup.n_clean": ("clean_dups", "-"),
    **{f"q.{q}{suffix}": ("operator_queries", "wall_s")
       for q in QUERIES
       for suffix in ("_s", ".jobs", ".shuffle_write_bytes", ".py_bytes")},
    "spark.jobs": (ALL, "wall_s"),
    "spark.tasks": (ALL, "wall_s"),
    "spark.shuffle_write_bytes": (ALL, "wall_s"),
    "spark.spill_bytes": (ALL, "wall_s"),
    "spark.task_skew": (ALL, "wall_s"),
    "trace.overhead_s": (ALL, "-"),
}
