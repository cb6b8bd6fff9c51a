"""Regenerate PLANS.md: formatted Catalyst plans for the flagship
queries, annotated with the plan-shape properties the repo pins in
tests/test_plans.py. Run from the repo root:

    python examples/explain_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

CASES = [
    (
        "q5_local_supplier",
        "TPC-H q5: 6-table join — every dimension side broadcast, one "
        "shuffle for the final group-by; no sort-merge join of fact "
        "tables at this scale",
    ),
    (
        "topk_kernel_cosine",
        "Broadcast-corpus kernel top-k: scan -> ArrowEvalPython (the "
        "Arrow-UDF kernel) -> inline; queries partition freely, corpus "
        "rides a broadcast — NO shuffle anywhere in the plan",
    ),
    (
        "neardup_minhash_lsh",
        "MinHash LSH: flat explode+agg signature build (map-side "
        "partial agg), band equi-join for candidates, exact verify — "
        "candidate join is the only pairwise work",
    ),
    (
        "ann_ivf_topk",
        "IVF: centroid assignment is max(struct(...)) partial agg (no "
        "window over the cross product); probed lists reached by "
        "equi-join on centroid_id",
    ),
    # bm25_search left the registry in the round-9 second wave; its
    # broadcast-probe plan shape now appears inside hybrid_rrf_search's
    # lexical legs (below) and in decontaminate_docs' gram join
    (
        "decontaminate_docs",
        "Benchmark decontamination (round 9 wave 2): the corpus' "
        "exploded n-grams meet the tiny probe-gram digest table in a "
        "BroadcastHashJoin BEFORE any shuffle — the corpus is scanned "
        "once and never shuffled; only flagged (doc, probe) hit rows "
        "reach the group-by",
    ),
    (
        "chunk_documents",
        "Chunking: tokenize once, Generate (explode) boundary, per-chunk "
        "slice on the materialized array attribute — scan-speed map, no "
        "shuffle, no Python",
    ),
    (
        "winnow_dup_pairs",
        "Winnowing substring dedup: materialized k-gram hash array, "
        "per-window argmin selection (no shuffle, no Python), then the "
        "postings equi-join + pair group-by — the MinHash candidate "
        "shape applied to verbatim spans",
    ),
    (
        "hard_negatives_topk",
        "Hard-negative mining: exact blocked top-k widened per query by "
        "ITS positive count (broadcast count join), broadcast anti-join "
        "exclusion, re-rank — corpus never shuffled",
    ),
    (
        "mllib_blockmatrix_matmul",
        "BlockMatrix matmul (nothing-broadcasts scale): block GEMM in "
        "the JVM, readback is Generate posexplode over vector_to_array "
        "— no Python evaluation stage anywhere in the plan (round 4)",
    ),
    (
        "quantized_topk_rerank",
        "Int8 two-stage search: quantization is flat column arithmetic "
        "in the scan projection, shortlist window over int8 scores, "
        "exact rerank joins only k*factor rows per query back to full "
        "precision — broadcast, no second corpus scan shuffle",
    ),
    (
        "line_dedup_strip",
        "CCNet-style line dedup: the frequency side moves md5 hashes "
        "only (two slim exchanges for the distinct-doc count), the "
        "frequent set BROADCASTS back onto the exploded lines, line "
        "text crosses the wire exactly once (doc reassembly)",
    ),
    (
        "quality_model_score",
        "Learned quality scorer: the weight vector is a plan literal, "
        "so scoring a 100 TB corpus is a zero-shuffle zero-Python "
        "projection at scan speed — same shape as the heuristic score",
    ),
    (
        "dsir_resample",
        "DSIR selection: the hashed-LM log-ratio table rides as an "
        "array literal (weighting is scan-speed, shuffle-free); the "
        "Gumbel top-k compiles to TakeOrderedAndProject — per-partition "
        "heaps, never a global sort",
    ),
    (
        "token_shards_assign",
        "Token-budget sharding: two-phase prefix sum — windows "
        "partition on the md5-prefix bucket, the 256-row bucket-totals "
        "table is the only thing that ever sees a single partition, "
        "offsets return via BroadcastHashJoin",
    ),
    # pq_adc_topk left the registry in the round-9 second wave; its
    # ADC plan shape stays documented through ivfpq_adc_topk below
    (
        "bloom_incremental_dedup",
        "Bloom two-gate exact dedup: the MB-scale bitmap broadcasts "
        "onto the new batch, Bloom-negative rows bypass the exact gate, "
        "only suspects anti-join the history fingerprints",
    ),
    (
        "srp_neardup_bands",
        "SRP-banded embedding near-dup (round 5, oracle form): literal "
        "projection rows -> sign-packed band values, slim signature "
        "frame materialized once and self-joined on (band, value), "
        "exact cosine verify — pairwise work only within buckets",
    ),
    (
        "semantic_dedup_pairs",
        "Unsupervised semantic dedup (SemDeDup-style, round-5 driver "
        "row with deterministic centroids): broadcast centroid scoring, "
        "top-2 cluster assignment collapses BEFORE its exchange "
        "(partial collect over co-located rows), candidate generation "
        "is a hash equi-join on cluster_id — no unblocked O(n^2) pass, "
        "no Python worker",
    ),
    (
        "c4_clean",
        "C4 heuristic cleaning (round 6): line split, per-line rule "
        "filter and document reassembly are one row-local Catalyst "
        "projection over the scan — no shuffle, no window, no Python; "
        "the 100 TB cost is exactly one corpus read",
    ),
    (
        "dedup_groups",
        "Duplicate-group closure (round 6): MinHash candidate edges -> "
        "connected components; under the envelope the slim (d1, d2) "
        "edge list is pulled via Arrow and union-found on the driver "
        "(the plan below is the distributed edge build + the "
        "createDataFrame label join-back), above it the distributed "
        "hash-min propagation takes over — doc text never rides "
        "through the component computation",
    ),
    (
        "funnel_user_levels_windowed",
        "Windowed per-user funnel (round 6): ONE user-keyed shuffle "
        "collecting per-step sorted timestamp lists, the deadline-"
        "bounded chain fold over capped step-0 candidates is pure "
        "array arithmetic in the projection — no per-step self-joins, "
        "no Python",
    ),
    (
        "ivfpq_adc_topk",
        "IVF-PQ/ADC top-k (round 6): coarse assignment is the IVF "
        "max(struct) partial agg, residual encode is flat column "
        "arithmetic, probed lists reach queries by centroid equi-join, "
        "and ADC streams the CODED corpus through one mapInArrow with "
        "query LUTs broadcast — full-precision vectors shuffle only "
        "in the k*4 shortlist rerank",
    ),
    (
        "mm_decoded_stats",
        "Real-decoder stats (round 6): WAV-PCM/BMP payloads decode "
        "per-row inside two Arrow-batched Python stages "
        "(embarrassingly parallel, no shuffle before the stats "
        "projection) — the plan is scan -> encode stage -> decode "
        "stage, nothing wide anywhere",
    ),
    (
        "cms_line_dedup",
        "Count-Min build+lookup (round 6; the cms_word_counts twin "
        "rotated out of the registry in round 8): explode to depth "
        "probe rows -> ONE map-side-combinable groupBy over at most "
        "depth*width uniform keys; the lookup side broadcast-joins the "
        "bounded counter table and min-folds per key — the sketch "
        "never shuffles, history never re-scans",
    ),
    (
        "cms_line_dedup",
        "Bounded-state CCNet line dedup (round 6): distinct-per-doc "
        "line hashes feed the CMS build; the strip pass broadcast-"
        "joins the counter table and reassembles docs with one "
        "doc-keyed shuffle — state is depth*width counters forever, "
        "vs the exact path's unbounded hash set",
    ),
    (
        "priority_sample_docs",
        "Weighted sampling (round 6): row-local E-S priorities, then "
        "TakeOrderedAndProject — per-partition heaps feeding one "
        "k-row merge, never a global sort",
    ),
    # hamming_topk_srp left the registry in the round-8 rotation; its
    # plan shape stays pinned by srp_neardup_bands above (same SRP
    # signature pass) and the rotated-query value gate

    # excise_duplicate_spans left the registry in the round-9 rotation
    # (slot freed for triage_assets); its plan shape stays pinned by
    # excise_spans_cms below (same gram pass, same reassembly) and the
    # rotated-query value gate
    (
        "excise_spans_cms",
        "Bounded-state span excision (driver row, round 7): the gram "
        "Count-Min sketch (<= depth x width counters) broadcasts into "
        "a second gram pass; cut aggregation + reassembly identical to "
        "the exact path — history-sized state never exists, let alone "
        "shuffles",
    ),
    # strip_within_doc left the registry in the round-9 second wave;
    # the line-dedup plan shapes stay documented through
    # line_dedup_strip / cms_line_dedup
    (
        "materialize_bins",
        "Bin materialization (driver row, round 7): the deterministic "
        "shards assignment moves only (id, n_tokens); document bodies "
        "move in exactly two shuffles — the id-keyed join against the "
        "slim assignment and the bin-keyed agg with executor-side "
        "sort_array (no window, no per-group Python)",
    ),
    (
        "mixture_sample",
        "Weighted training mixture (driver row, round 7): one "
        "metadata-only count per source, then pure row-local md5 "
        "filters unioned — NO shuffle anywhere; epochs are literal "
        "tags, the fractional epoch is a hash-bucket filter",
    ),
    (
        "bpe_encode",
        "BPE encode (driver row, round 7): the merge table rides a "
        "SparkContext broadcast into ONE mapInPandas stage with a "
        "per-task word memo — no shuffle, no JVM-side state; Zipfian "
        "text amortizes merge work to ~O(task vocabulary)",
    ),
    (
        "shared_span_stats",
        "Span-granularity dedup stats (round-7 second rotation): the "
        "shared-gram subset (distinct-doc count >= 2, <= hot cap) "
        "broadcast-filters the postings BEFORE the self-join shuffle; "
        "the (pair, diagonal) island window's exchange is reused by "
        "the island group-by; one slim row per maximal span reaches "
        "the per-pair fold",
    ),
    (
        "profile_diff",
        "Profile drift gate (round-7 second rotation): two one-scan "
        "fused profile aggregations (every stat one agg expression), "
        "then an n_cols-row broadcast full-outer join — drift checks "
        "are row-local expressions over the joined profile rows",
    ),
    (
        "merge_upsert",
        "MERGE INTO emulation (round-7 second rotation): last-wins "
        "collapses the changes side with one map-side-combinable "
        "max(struct), then target LEFT ANTI changes + union — one "
        "key exchange, AQE broadcasts the small delta side",
    ),
]

# non-registry operators whose plan shape is part of the scale story
CASES_R8 = [
    (
        "rawbytes_ingest",
        "Raw-crawl ingest (round 8): archive synth + expansion and the "
        "transcode are chained mapInPandas stages (no shuffle); the "
        "only join glues decoded text back onto member metadata by the "
        "composite long key — equi-join on batch-sized frames, "
        "quarantined members union in with no extra exchange",
    ),
    (
        "warc_extract",
        "WARC extraction (round 8): gzip-member split + record framing "
        "+ HTTP response split all inside one mapInPandas — a single "
        "deliberate repartition spreads the scan, then zero further "
        "exchanges; sha digesting is a JVM-side projection on top",
    ),
    (
        "url_domain_cap",
        "URL curation (round 8; PSL-keyed since round 9): the whole "
        "canonicalization chain is WholeStageCodegen regexp/string "
        "expressions (no Python worker anywhere); the public-suffix "
        "table joins in as per-depth BROADCAST left joins (build side "
        "deduped once, exchange-reused); the diversity cap is one "
        "domain-keyed window — the single data-side exchange — whose "
        "row_number()<=k compiles to WindowGroupLimit, the "
        "partition-local top-k that makes a mega-domain contribute at "
        "most k rows per input partition to the shuffle (measured "
        "skew-flat in examples/scaling_probe.py)",
    ),
    (
        "lsh_euclidean_join",
        "p-stable Euclidean LSH (round 9): the seeded Gaussian family "
        "rides as ONE broadcast data row (no plan-literal bloat); the "
        "floor-bucket signature is an interpreted fold staged behind a "
        "select boundary and computed ONCE (localCheckpoint) for both "
        "sides of the (table, key) self-join; the exact-distance "
        "verify joins slim id pairs back to per-point norms — no "
        "unblocked all-pairs stage anywhere",
    ),
    (
        "triage_assets",
        "Asset triage (round 9): probe -> route -> decode as three "
        "mapInPandas stages over the SAME checkpointed scan plus two "
        "id-keyed equi-joins of slim stat rows — payloads are never "
        "shuffled (joins carry scalars only), the Layer I branch "
        "filters on probe verdicts before its decode stage sees a "
        "byte",
    ),
    (
        "hybrid_rrf_search",
        "Hybrid RRF search (round 9 wave 2): each leg ranks inside its "
        "own query-partitioned window AFTER the leg has cut to its own "
        "candidates (BM25's broadcast probe join; the dense leg's "
        "BroadcastNestedLoop over two query vectors), the fuse is one "
        "(query, doc)-keyed aggregation over <= top_per_leg * legs "
        "rows, and the fused ranking is a third slim window — no "
        "Python anywhere, candidate volume corpus-size independent "
        "past the leg cuts",
    ),
    (
        "image_neardup_dhash",
        "Perceptual image dedup (round 9 wave 3): BMP synth + decode + "
        "dHash in ONE mapInPandas pass, band keys as flat long "
        "projections, the candidate equi-join and bit_count verify all "
        "carry 8-byte hashes — pixels exist only inside the hash stage, "
        "never in a shuffle",
    ),
    (
        "maxsim_multivector_topk",
        "Late-interaction MaxSim (round 9 wave 2): per-vector norms "
        "precomputed BEFORE the pair join (O(n*d) not O(n^2*d)), the "
        "max-per-(q_vec, doc) and the sorted sequential q_pos fold are "
        "two partial-aggregable group-bys, the top-k window sees one "
        "scalar row per (q_doc, c_doc) — whole-stage-codegen "
        "throughout, no Python evaluation stage",
    ),
]

EXTRA_CASES = [
    (
        "projected_topk_rerank",
        "JL two-stage search: both sides projected row-locally "
        "(mapInArrow vs a broadcast matrix), queries broadcast into the "
        "scored scan, the per-query argselect exchanges only slim "
        "(q_id, c_id, approx) rows, and the exact-rerank corpus join "
        "builds on the k*factor shortlist — full-width corpus never "
        "shuffled",
    ),
    (
        "excise_new_vs_index",
        "Incremental exact span excision (late round 6): the persisted "
        "gram index is touched ONLY by a BroadcastHashJoin LeftSemi "
        "probe of the new batch's gram set — scanned in place, never "
        "shuffled; the total-count join, cut aggregation and "
        "interval-merge reassembly all run on batch-sized frames",
    ),
    (
        "key_skew_report",
        "Skew probe: ONE map-side-combinable groupBy on the key, "
        "1-row totals broadcast back, TakeOrderedAndProject for top-N "
        "— the probe you run before picking broadcast/salted/AQE-skew "
        "never itself suffers the skew (partial counts, uniform-ish "
        "reducer keys)",
    ),
]


def _extra_df(spark, name):
    from pyspark.sql import functions as F

    from polars_matmul_spark.sources.tables import load_table

    if name == "projected_topk_rerank":
        from polars_matmul_spark.operators.projection import projected_topk_rerank

        emb = load_table(spark, "embeddings", SF)
        q = emb.limit(32).select(F.col("vec_id").alias("query_id"), "embedding")
        c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
        return projected_topk_rerank(q, c, k=5, out_dim=16)
    if name == "excise_new_vs_index":
        from polars_matmul_spark.operators.winnow import (
            build_gram_index,
            excise_new_vs_index,
        )

        docs = load_table(spark, "documents", SF).select("doc_id", "text")
        hist = docs.filter(F.col("doc_id") % 2 == 0)
        new = docs.filter(F.col("doc_id") % 2 == 1)
        return excise_new_vs_index(new, build_gram_index(hist, k=20), k=20)
    if name == "key_skew_report":
        from polars_matmul_spark.operators.diagnose import key_skew_report

        ev = load_table(spark, "events", SF)
        return key_skew_report(ev, ["user_id"], top_n=20)
    raise KeyError(name)


def main() -> None:
    from polars_matmul_spark.plans.session import get_spark
    from polars_matmul_spark.registry import ALL_QUERIES

    spark = get_spark("explain", shuffle_partitions=8)
    print("# PLANS — formatted Catalyst plans for the flagship queries")
    print()
    print(
        "Generated by `python examples/explain_plans.py > PLANS.md` at "
        f"sf0.01. The shape claims below are enforced by "
        "`tests/test_plans.py`; this file is the human-readable "
        "evidence.\n"
    )
    def emit(name, note, df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        print(f"## {name}\n")
        print(note + "\n")
        print("```")
        print(plan.strip())
        print("```\n")

    for name, note in CASES + CASES_R8:
        fn, _ = ALL_QUERIES[name]
        emit(name, note, fn(spark, SF))
    for name, note in EXTRA_CASES:
        emit(name, note, _extra_df(spark, name))
    spark.stop()


if __name__ == "__main__":
    main()
