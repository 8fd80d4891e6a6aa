"""Physical-plan audit: dump .explain("formatted") for the headline queries
and check the plan properties the engine promises (SURVEY.md §4):

  * point lookups push predicates into the parquet scan (PushedFilters),
  * small-side joins go broadcast (BroadcastHashJoin),
  * top-k compiles to TakeOrderedAndProject (no global sort),
  * scalar pipelines run inside WholeStageCodegen,
  * extraction scans prune to the needed columns (ReadSchema).

Usage: python scripts/explain_audit.py [sf_dir]   (writes BENCH/plans.md)
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHECKS = {
    "point_lookup": ["PushedFilters: \\[IsNotNull\\(p_partkey\\), EqualTo\\(p_partkey,100\\)"],
    "topk_order_revenue": ["TakeOrderedAndProject", "BroadcastHashJoin"],
    "broadcast_lookup_join": ["BroadcastHashJoin"],
    "cosine_topk": ["TakeOrderedAndProject", "BroadcastNestedLoopJoin|BroadcastExchange"],
    "anti_join_resume": ["BroadcastHashJoin.*LeftAnti|LeftAnti"],
    "semi_join_exists": ["LeftSemi"],
    # AQE's formatted explain hides WholeStageCodegen spans pre-execution;
    # partial+final HashAggregate + pushed scan filter are the markers.
    "agg_pricing_summary": ["HashAggregate", r"PushedFilters: \[IsNotNull\(l_shipdate\)"],
    "dedup_minhash_pairs": ["SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
    "window_rank": ["Window", "WindowGroupLimit"],
    # banded/bucketed pair generators: MUST be equi-joins, NEVER cartesian
    # ("!" prefix = the pattern must be ABSENT from the plan)
    "dedup_simhash_pairs": [
        "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        "!CartesianProduct", "!BroadcastNestedLoopJoin",
    ],
    "dedup_ngram_jaccard": [
        "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        "!CartesianProduct", "!BroadcastNestedLoopJoin",
    ],
    "lsh_bucket_pairs": [
        "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        "!CartesianProduct", "!BroadcastNestedLoopJoin",
    ],
    # range join: bucketed-equi realization — never a cartesian
    "range_join": [
        "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        "!CartesianProduct", "!BroadcastNestedLoopJoin",
    ],
    # IVF k-means build: broadcast centroid assignment, no shuffled cartesian
    "ann_ivf_kmeans": ["BroadcastNestedLoopJoin|BroadcastExchange",
                       "!CartesianProduct"],
    # T6 embedding map: Arrow-batched python operator, no row-Python
    "embed_map": ["MapInPandas", "!BatchEvalPython"],
    "search_flow_embedded": ["TakeOrderedAndProject", "MapInPandas"],
    # exact dedup: two-pass hash-key formulation — pass 1 aggregates on the
    # 8-byte hash, the duplicated-hash subset resolves via semi join, the
    # two passes union; no join may degenerate to a cartesian
    "dedup_exact": ["HashAggregate", "LeftSemi", "Union",
                    "!CartesianProduct"],
    # nested multi-vector MaxSim: broadcast 1-row query + top-k, no sort
    "maxsim_nested": ["TakeOrderedAndProject",
                      "BroadcastNestedLoopJoin|BroadcastExchange"],
    # WARC ingestion: Arrow-batched record explode + extraction, zero
    # row-Python
    "warc_extract": ["MapInPandas", "!BatchEvalPython"],
    # targeted-salted host stats: two-stage aggregation (partial on
    # (host, salt), final on host) over the extraction operator; heavy-
    # host detection arrives as a BROADCAST build side inside the same
    # DAG (round 4 — composing fires no job)
    "extract_host_stats": ["HashAggregate", "MapInPandas",
                           "BroadcastHashJoin", "!BatchEvalPython"],
    # exact per-key percentiles: one hash/sort aggregation, no window
    "percentiles": ["HashAggregate|ObjectHashAggregate|SortAggregate"],
    # TF-IDF salient terms: df side broadcasts, top-k pushes into the sort
    "tfidf_top_terms": ["BroadcastHashJoin", "WindowGroupLimit"],
    # repetition signals: pure Catalyst lambdas — zero Python, no joins
    "repetition_stats": ["!BatchEvalPython", "!MapInPandas",
                         "!CartesianProduct"],
    # cross-doc line dedup (round-4 hash-keyed): keep-first aggregates on
    # xxhash64(line); only the duplicated-hash subset re-groups with text
    # (LeftSemi, the dedup_exact pattern); re-assembly is map-side
    "line_dedup": ["HashAggregate", "LeftSemi", "!CartesianProduct",
                   "!BatchEvalPython"],
    # decontamination: the benchmark gram set must BROADCAST (tiny side)
    "decontaminate": ["BroadcastHashJoin", "!CartesianProduct",
                      "!SortMergeJoin"],
    # per-domain quota: the limit pushes into the per-domain sort
    "host_quota": ["WindowGroupLimit"],
    # deterministic sampling: map-only membership + tiny rollup, zero Python
    "hash_sample": ["HashAggregate", "!BatchEvalPython", "!MapInPandas"],
    # URL canonicalization: pure codegen regex chain, no Python, no shuffle
    "url_canonicalize": ["!BatchEvalPython", "!MapInPandas", "!Exchange"],
    # PII scrubbing: map-only redaction, zero Python, no shuffle
    "pii_scrub": ["!BatchEvalPython", "!MapInPandas", "!Exchange"],
    # journaled-merge read-back: plain bucketed parquet scan, zero Python
    # (the interesting plans — touched-bucket pruning, dynamic overwrite —
    # run inside merge_upsert/delete_keys and are unit-audited)
    "merge_upsert_read": ["Scan parquet", "!BatchEvalPython",
                          "!MapInPandas"],
    # real-codec multimodal family (round 4): two chained Arrow stages
    # (encode -> binary column -> decode), zero row-Python; the payload
    # column rides the narrow pipeline between the two UDFs. ONE
    # RoundRobin Exchange may appear BELOW the first UDF: the round-5
    # conditional fan-out (plans/partitioning.fan_out_for_cpu) engages on
    # single-row-group bench files so the CPU-heavy stage feeds every
    # core, and is a no-op (no Exchange) on real multi-split inputs.
    "image_thumbnails": ["MapInPandas", "!BatchEvalPython",
                         "!Exchange hashpartitioning"],
    "jpeg_roundtrip": ["MapInPandas", "!BatchEvalPython",
                       "!Exchange hashpartitioning"],
    # page rasterization: single Arrow stage over a pruned 2-column scan
    # (same conditional fan-out note as above)
    "page_rasters": ["MapInPandas", "!BatchEvalPython",
                     "!Exchange hashpartitioning"],
    # sequence packing: ONE shuffle (the group-by-lang exchange), then a
    # grouped Arrow pass; no row-Python
    "pack_sequences": ["FlatMapGroupsInPandas|MapInPandas",
                       "!BatchEvalPython", "!CartesianProduct"],
    # BPE encoding plan (training ran at compose time, disclosed): one
    # Arrow stage with the broadcast ranks, zero row-Python
    "bpe_tokenize": ["MapInPandas", "!BatchEvalPython",
                     "!CartesianProduct"],
    # robots gate: host-scoped rules BROADCAST into the match join; the
    # per-URL longest-match window; never a cartesian
    "robots_filter": ["BroadcastHashJoin", "Window",
                      "!CartesianProduct", "!BatchEvalPython"],
    # re-crawl Bloom gate (round 5, full-text md5): bitset = one grouped
    # bit_or; probe join BROADCASTS the bitset; zero Python
    "bloom_dedup": ["HashAggregate", "BroadcastHashJoin",
                    "!CartesianProduct", "!BatchEvalPython"],
    # RAG chunking: pure codegen sequence/substring explode — zero
    # Python, zero shuffle
    "chunk_documents": ["!BatchEvalPython", "!MapInPandas", "!Exchange"],
    # repeated-substring removal (round 5): gram counts aggregate on the
    # 8-byte hash; the join back is hash-keyed; the rebuild is map-side
    # array lambdas — zero Python, never cartesian
    "substring_dedup": ["HashAggregate", "!CartesianProduct",
                        "!BatchEvalPython", "!MapInPandas"],
    # SQ8 (round 5): dim-stats ride a one-row BROADCAST into the encode
    # expression (no driver collect); exact top-k; never a cartesian
    "ann_sq8_topk": ["TakeOrderedAndProject",
                     "BroadcastExchange|BroadcastNestedLoopJoin",
                     "!CartesianProduct", "!BatchEvalPython"],
    # PQ (round 5): codebook/distance tables ride BROADCAST joins, the
    # ADC score ends in exact top-k; never a cartesian, zero row-Python
    "ann_pq_topk": ["TakeOrderedAndProject", "BroadcastExchange",
                    "!CartesianProduct", "!BatchEvalPython"],
    # anchor-text top-k (round 5): one Arrow DOM stage, per-host top-k
    # pushed into the sort (WindowGroupLimit); zero row-Python
    "anchor_text_topk": ["MapInPandas", "WindowGroupLimit",
                         "!BatchEvalPython", "!CartesianProduct"],
    # compression-ratio signal (round 5): ONE map-only Arrow stage over a
    # pruned 2-column scan; ratio/verdict are codegen on top — zero
    # row-Python, zero shuffle
    "compression_ratio": ["MapInPandas", "!BatchEvalPython", "!Exchange"],
    # JSONL shard round trip (round 5): the read-back side must be the
    # NATIVE json scan (zero Python anywhere in the plan)
    "jsonl_roundtrip": ["Scan json", "!BatchEvalPython", "!MapInPandas"],
    # NFC normalization (round 5): ONE Arrow stage (the unicodedata
    # step), cleanup stays codegen — zero row-Python, zero shuffle
    "normalize_text": ["MapInPandas", "!BatchEvalPython", "!Exchange"],
    # training-order shuffle (round 5): ONE hash exchange on the shard
    # key + within-shard sort — never a global range sort, zero Python
    # (formatted explain separates the Exchange node from its
    # "Arguments: hashpartitioning(...)" line — match the argument)
    "train_order": ["Window", "hashpartitioning",
                    "!rangepartitioning", "!BatchEvalPython"],
    # BM25 (round 5): corpus stats ride a 1-row BROADCAST back over the
    # scan (no driver collect); exact top-k; zero Python, no corpus
    # shuffle (tf of query terms = map-side array filters)
    "bm25_topk": ["TakeOrderedAndProject",
                  "BroadcastExchange|BroadcastNestedLoopJoin",
                  "!CartesianProduct", "!BatchEvalPython", "!MapInPandas"],
    # hybrid RRF (round 5): each leg ends in its own top-k; the fusion
    # join/window only ever see 2*LEG_N rows; zero Python anywhere
    "hybrid_rrf": ["TakeOrderedAndProject", "Window",
                   "!CartesianProduct", "!BatchEvalPython",
                   "!MapInPandas"],
    # mojibake repair (round 5): ENTIRELY codegen (translate + regex +
    # charset decode) — zero Python, no shuffle beyond the union
    "mojibake_repair": ["!BatchEvalPython", "!MapInPandas",
                        "!CartesianProduct"],
    # inverted-index BM25 (round 5): postings build = Generate (explode)
    # + HashAggregate; df/stats ride BROADCASTS into the probe; exact
    # top-k; zero Python
    "bm25_indexed_topk": ["Generate", "HashAggregate",
                          "BroadcastHashJoin", "TakeOrderedAndProject",
                          "!BatchEvalPython", "!CartesianProduct"],
    # canonical-survivor selection (round 5): quality leg is codegen, the
    # survivor pick is one per-cluster window; never a cartesian
    "dedup_keep_best": ["Window", "!CartesianProduct",
                        "!BatchEvalPython", "!MapInPandas"],
    # WARC revisit round trip (round 5): Arrow record explode on the read
    # side, digest-keyed resolve join — never cartesian, no row-Python
    "warc_revisit_roundtrip": ["MapInPandas", "!BatchEvalPython",
                               "!CartesianProduct"],
    # corpus datasheet (round 5): dup flag joins a BROADCAST of the
    # >1-hash groups; partial+final rollup; zero Python
    "corpus_datacard": ["HashAggregate", "BroadcastHashJoin",
                        "!BatchEvalPython", "!MapInPandas",
                        "!CartesianProduct"],
    # phrase search (round 5): positional postings (Generate + agg),
    # per-term legs co-join on doc_id, array-intersect chain in codegen
    "phrase_search": ["Generate", "HashAggregate|ObjectHashAggregate",
                      "TakeOrderedAndProject", "!BatchEvalPython",
                      "!MapInPandas", "!CartesianProduct"],
    # snippets (round 5): the k-row hit set BROADCASTS onto documents
    # (J1 lookup); snippet arithmetic is codegen
    "search_snippets": ["BroadcastHashJoin", "!BatchEvalPython",
                        "!MapInPandas", "!CartesianProduct"],
    # batched retrieval (round 5): Q-row broadcast crosses the corpus
    # map-side (BNLJ is the 1-barrier broadcast cross, NOT a shuffled
    # cartesian); per-query top-k is one WindowGroupLimit
    "batch_cosine_topk": ["BroadcastNestedLoopJoin|BroadcastExchange",
                          "WindowGroupLimit", "!CartesianProduct",
                          "!BatchEvalPython", "!MapInPandas"],
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def verdicts(plan: str, patterns: list[str]) -> list[tuple[str, bool]]:
    """(pattern, ok) per marker: a plain pattern must match the plan, a
    "!"-prefixed one must not."""
    return [(pat, (re.search(pat[1:], plan) is None) if pat.startswith("!")
             else (re.search(pat, plan) is not None)) for pat in patterns]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from no_ocr_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app="explain_audit", master="local[4]",
                      shuffle_partitions=4)
    qmap = {**entrymod.queries(), **entrymod.extra_queries()}
    out = ["# Physical-plan audit (explain formatted)\n"]
    failures = []
    for name, patterns in CHECKS.items():
        plan = plan_of(qmap[name](spark, sf_dir))
        out.append(f"\n## {name}\n")
        for pat, ok in verdicts(plan, patterns):
            if pat.startswith("!"):
                out.append(f"- absent `{pat[1:]}`: {'OK' if ok else 'PRESENT'}\n")
            else:
                out.append(f"- `{pat}`: {'OK' if ok else 'MISSING'}\n")
            if not ok:
                failures.append((name, pat))
        out.append("\n```\n" + plan[:4000] + "\n```\n")
    with open(os.path.join(REPO, "BENCH", "plans.md"), "w") as f:
        f.writelines(out)
    print(f"audited {len(CHECKS)} plans; {len(failures)} missing markers")
    for name, pat in failures:
        print(f"  MISSING {name}: {pat}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
