"""Physical-plan shape assertions: the scale-design claims, pinned.

Each test asserts a property that matters at 100 TB and would survive a
1000-executor cluster: predicate pushdown into the parquet scan, column
pruning, broadcast joins for small dims, single-shuffle aggregations,
and JVM-only (no Python worker) plans for the text/dedup family.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from polars_matmul_spark.plans.inspect import count_shuffles, explain_str, uses_python_worker
from polars_matmul_spark.queries_core import CORE_QUERIES
from polars_matmul_spark.sources.tables import load_table


def test_filter_reaches_parquet_scan(spark, sf_dir):
    df = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .select("l_returnflag", "l_quantity")
    )
    plan = explain_str(df)
    assert "LessThanOrEqual(l_shipdate" in plan, "filter not pushed to scan"
    # column pruning: the scan reads 3 of 11 lineitem columns
    read_schema = [l for l in plan.splitlines() if l.startswith("ReadSchema")][0]
    assert read_schema.split("struct<")[1].count(":") == 3, read_schema


def test_q5_broadcasts_small_dimensions(spark, sf_dir):
    fn, _ = CORE_QUERIES["q5_local_supplier"]
    plan = explain_str(fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, "small dims (region/nation) not broadcast"


def test_exact_dedup_is_single_shuffle(spark, sf_dir):
    from polars_matmul_spark.operators.dedup import exact_dedup

    df = exact_dedup(load_table(spark, "documents", sf_dir))
    assert count_shuffles(df) == 1, explain_str(df, "simple")


def test_filter_pushed_below_kernel_udf(spark, sf_dir):
    # is_elementwise analog: a filter on an input column added AFTER the
    # Arrow-UDF kernel column must still reach the parquet scan
    from polars_matmul_spark.functions import topk

    emb = load_table(spark, "embeddings", sf_dir)
    corpus = np.eye(4, 64, dtype=np.float32)
    df = emb.withColumn("m", topk(F.col("embedding"), corpus, k=2)).filter(
        F.col("vec_id") < 10
    )
    plan = explain_str(df)
    assert "LessThan(vec_id,10)" in plan, "filter not pushed below the kernel UDF"


@pytest.mark.parametrize("form", ["matmul_arrow", "topk_arrow"])
def test_filter_pushed_below_dataframe_kernel_form(spark, sf_dir, form):
    # the DataFrame kernel forms are projections over the Arrow UDFs:
    # a filter on a passed-through column runs before the kernel, pushed
    # into the scan under the Python node
    from polars_matmul_spark.functions import matmul_arrow, topk_arrow

    emb = load_table(spark, "embeddings", sf_dir)
    corpus = np.eye(4, 64, dtype=np.float32)
    if form == "matmul_arrow":
        df = matmul_arrow(emb, "embedding", corpus, input_is_f32=True)
    else:
        df = topk_arrow(emb, "embedding", corpus, k=2)
    plan = explain_str(df.filter(F.col("vec_id").isin(1, 2, 3)), "simple")
    below = plan.split("ArrowEvalPython", 1)[-1]
    assert "Filter vec_id" in below and "PushedFilters: [In(vec_id" in below, plan


def test_blocked_topk_map_stage_is_arrow(spark):
    # the blocked corpus path feeds the kernel through mapInArrow, not
    # a pandas conversion of every corpus batch
    from polars_matmul_spark.operators.similarity_join import topk_join_blocked

    q = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, embedding array<double>")
    c = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "corpus_id long, embedding array<double>"
    )
    plan = explain_str(topk_join_blocked(q, c, k=2), "simple")
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


def test_dedup_and_text_plans_stay_jvm_side(spark, sf_dir):
    # the whole text/dedup family compiles to Catalyst expressions —
    # no Python worker anywhere in the hot path
    from polars_matmul_spark.operators.dedup import neardup_pairs_minhash, simhash16
    from polars_matmul_spark.queries_text import TEXT_QUERIES

    docs = load_table(spark, "documents", sf_dir)
    assert not uses_python_worker(simhash16(docs))
    assert not uses_python_worker(neardup_pairs_minhash(docs))
    for name in (
        "gopher_quality",
        "exact_dedup_docs",
        "winnow_dup_pairs",
        "url_domain_cap",
    ):
        fn, _ = TEXT_QUERIES[name]
        assert not uses_python_worker(fn(spark, sf_dir)), name
    # token_counts rotated out of the registry in round 8 — its
    # JVM-only plan stays pinned via the query function
    from polars_matmul_spark.queries_text import _token_counts

    assert not uses_python_worker(_token_counts(spark, sf_dir))
    # lang_id and quality_score rotated out of the registry in round 5
    # — their JVM-only plans stay pinned here via the query functions
    from polars_matmul_spark.queries_text import _lang_id, _quality

    assert not uses_python_worker(_lang_id(spark, sf_dir))
    assert not uses_python_worker(_quality(spark, sf_dir))
    # the composed operators stay JVM-side too (salted_event_counts
    # rotated out of the registry in round 5 — still pinned here via
    # its query function)
    from polars_matmul_spark.queries_core import (
        _asof_purchase_click,
        _range_join_price_bands,
        _salted_event_counts,
    )

    assert not uses_python_worker(_salted_event_counts(spark, sf_dir))
    # asof/range_join rotated out of the registry in round 7 — still
    # pinned here via their query functions
    for fn in (_asof_purchase_click, _range_join_price_bands):
        assert not uses_python_worker(fn(spark, sf_dir)), fn.__name__
    # hypertable_rollup rotated out of the registry in round 7 —
    # still pinned here via its query function
    from polars_matmul_spark.queries_core import _hypertable_rollup

    assert not uses_python_worker(_hypertable_rollup(spark, sf_dir))


def test_ivf_plan_shape(spark, sf_dir):
    # centroid scoring joins must be broadcast (small side), never a
    # plain cartesian; the assignment argmax must be an aggregation
    # (map-side combinable: shuffle carries O(n_corpus) rows), not a
    # window sort over the whole cross product
    fn, _ = CORE_QUERIES["ann_ivf_topk"]
    df = fn(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # assignment + probes
    # only two real windows: probe selection (n_queries x sqrt(n) rows)
    # and the final per-query top-k rerank — never one over the
    # corpus x centroids product
    assert plan.count("Window [") <= 2, plan
    # assignment argmax runs a PARTIAL aggregation before its shuffle
    assert "partial_max(struct(s" in plan, plan


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    # the bucketed rewrite must turn the BETWEEN predicate into a hash
    # equi-join; a BroadcastNestedLoopJoin would be the O(n*m) trap
    from polars_matmul_spark.queries_core import _range_join_price_bands

    plan = explain_str(_range_join_price_bands(spark, sf_dir), "simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "Join" in plan  # it IS a join, just an equi one


def test_aqe_and_arrow_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_default_driver_memory_is_half_memtotal_capped(tmp_path):
    from polars_matmul_spark.plans.session import _default_driver_memory

    def meminfo(text):
        p = tmp_path / "meminfo"
        p.write_text(text)
        return str(p)

    # 15 GiB host -> 7.5 GiB heap; 256 GiB host -> the 48g cap
    assert _default_driver_memory(meminfo("MemTotal:       15728640 kB\n")) == "7680m"
    assert _default_driver_memory(meminfo("MemFree: 1 kB\nMemTotal: 268435456 kB\n")) == "48g"
    assert _default_driver_memory(str(tmp_path / "missing")) == "48g"



_AVX512 = frozenset({"avx512f", "avx512cd", "avx512bw", "avx512dq", "avx512vl"})
_AVX2 = frozenset({"avx", "avx2", "fma", "sse3"})


@pytest.mark.parametrize(
    "corename,flags,env,want",
    [
        ("Prescott", _AVX512 | _AVX2, {}, "SkylakeX"),  # generic core, AVX-512 host
        ("Prescott", _AVX2, {}, "Haswell"),
        ("Prescott", _AVX2 - {"fma"}, {}, None),
        ("Prescott", _AVX2 | (_AVX512 - {"avx512vl"}), {}, "Haswell"),
        ("SkylakeX", _AVX512 | _AVX2, {}, None),  # already specific
        ("Haswell", _AVX512 | _AVX2, {}, None),
        ("Prescott", _AVX512 | _AVX2, {"OPENBLAS_CORETYPE": "Prescott"}, None),  # user's wins
        (None, _AVX512 | _AVX2, {}, None),  # no OpenBLAS / unreadable library
        ("Prescott", frozenset(), {}, None),  # unreadable cpuinfo
    ],
)
def test_worker_openblas_core_choice(corename, flags, env, want):
    from polars_matmul_spark.plans.session import _pick_openblas_coretype

    assert _pick_openblas_coretype(corename, flags, env) == want


def test_openblas_core_readers(tmp_path):
    from polars_matmul_spark.plans.session import _cpu_flags, openblas_corename

    info = tmp_path / "cpuinfo"
    info.write_text("processor\t: 0\nflags\t\t: fpu avx2 fma\n\nprocessor\t: 1\nflags\t\t: fpu\n")
    assert _cpu_flags(str(info)) == frozenset({"fpu", "avx2", "fma"})
    assert _cpu_flags(str(tmp_path / "missing")) == frozenset()
    maps = tmp_path / "maps"
    maps.write_text("7f00-7f01 r-xp 00000000 00:00 0 /usr/lib/libc.so.6\n")
    assert openblas_corename(str(maps)) is None
    assert openblas_corename(str(tmp_path / "missing")) is None


def test_every_python_worker_runs_the_chosen_openblas_core(spark):
    # the core OpenBLAS reports in each worker is the one get_spark
    # chose for the workers, or the driver's own when it chose none
    import os

    import pyarrow as pa

    from polars_matmul_spark.plans.session import (
        _cpu_flags,
        _pick_openblas_coretype,
        openblas_corename,
        ship_package,
    )

    ship_package(spark)
    driver = openblas_corename()
    want = _pick_openblas_coretype(driver, _cpu_flags(), os.environ) or driver

    def probe(batches):
        import os

        from polars_matmul_spark.plans.session import openblas_corename

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "core": [openblas_corename()]})

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(n, numPartitions=n).mapInArrow(probe, "pid long, core string").collect()
    assert len(rows) == n
    assert {r.core for r in rows} == {want}, rows

def test_hash_split_is_narrow_and_jvm_side(spark, sf_dir):
    # the split predicate must stay a row-local filter: no Exchange, no
    # Python worker — at 100 TB this is a free column on the scan
    from polars_matmul_spark.operators.sampling import hash_split, stratified_sample

    docs = load_table(spark, "documents", sf_dir)
    split = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.2})
    assert count_shuffles(split) == 0, explain_str(split, "simple")
    assert not uses_python_worker(split)
    samp = stratified_sample(docs, "lang", "doc_id", {"en": 0.5})
    assert count_shuffles(samp) == 0
    assert not uses_python_worker(samp)


def test_quantize_is_jvm_side_and_rerank_broadcasts(spark, sf_dir):
    # quantization itself is pure Catalyst; the rerank search may only
    # broadcast the (quantized) corpus — the query side never shuffles
    # for the scoring join
    from polars_matmul_spark.operators.quantize import (
        quantize_int8,
        quantized_topk_rerank,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    assert not uses_python_worker(quantize_int8(emb))
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.filter(F.col("vec_id") >= 10).select(F.col("vec_id").alias("corpus_id"), "embedding")
    plan = explain_str(quantized_topk_rerank(q, c, k=5), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_pack_sequences_single_shuffle_of_slim_rows(spark, sf_dir):
    # exactly one Exchange (the repartition), and it carries only
    # (doc_id, n_tokens) — never the document text
    from polars_matmul_spark.operators.packing import pack_sequences
    from polars_matmul_spark.operators.text import token_count

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens"), "text"
    )
    packed = pack_sequences(docs, 256, partitions=8)
    plan = explain_str(packed, "simple")
    assert plan.count("Exchange") == 1, plan
    # everything at or above the Exchange must be text-free: the token
    # count is computed below it and only (doc_id, n_tokens) shuffles
    lines = plan.splitlines()
    exch = next(i for i, l in enumerate(lines) if "Exchange" in l)
    assert all("text#" not in l for l in lines[: exch + 1]), plan


def test_contamination_never_shuffles_corpus(spark, sf_dir):
    # the probe side broadcasts; the only Exchange is the final groupBy
    # over hit rows (tiny), so corpus bytes never cross the network
    from polars_matmul_spark.operators.text_filters import tag_contaminated

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    probes = spark.createDataFrame(
        [(1, "a b c d e f g h i")], "probe_id long, text string"
    )
    plan = explain_str(tag_contaminated(docs, probes), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_mixture_sample_is_shuffle_free(spark, sf_dir):
    # the mix is filters + union over the sources — pure narrow ops;
    # no Exchange anywhere, no Python worker
    from polars_matmul_spark.operators.sampling import mixture_sample

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    mix = mixture_sample(
        {"a": docs.filter(F.col("doc_id") % 2 == 0),
         "b": docs.filter(F.col("doc_id") % 2 == 1)},
        {"a": 1.0, "b": 3.0},
        target_rows=1200,  # forces oversampling epochs on both sources
    )
    plan = explain_str(mix, "simple")
    assert "Exchange" not in plan, plan
    assert not uses_python_worker(mix)


def test_chunking_is_scan_speed_map(spark, sf_dir):
    # tokenize + explode + slice: narrow, JVM-only, no shuffle — and
    # the Generate sits between the tokenizer and the slice so the
    # split() is evaluated once per doc, not once per chunk
    from polars_matmul_spark.operators.chunking import chunk_documents

    docs = load_table(spark, "documents", sf_dir)
    chunks = chunk_documents(docs, 64, 8)
    plan = explain_str(chunks, "simple")
    assert "Exchange" not in plan, plan
    assert not uses_python_worker(chunks)
    assert "Generate" in plan


def test_bin_materialization_bodies_move_at_most_twice(spark, sf_dir):
    # join-back + bin agg: the document bodies cross the network at
    # most twice (assignment join, bin groupBy); no window, no python
    from polars_matmul_spark.operators.packing import (
        materialize_bins,
        pack_sequences,
    )
    from polars_matmul_spark.operators.text import token_count

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    counted = docs.withColumn("n_tokens", token_count(F.col("text")))
    packed = pack_sequences(counted, 256, partitions=8)
    out = materialize_bins(packed, docs)
    plan = explain_str(out, "simple")
    lines = [l for l in plan.splitlines() if "Exchange" in l and "text#" in l]
    assert len(lines) <= 2, plan
    assert "Window" not in plan


def test_semdedup_candidates_are_blocked_equi_join(spark, sf_dir):
    # unsupervised semantic dedup must never fall into the unblocked
    # O(n^2) trap: centroids broadcast, candidate generation is a hash
    # equi-join on cluster_id, verification is flat column arithmetic
    from polars_matmul_spark.operators.semdedup import semantic_dedup_pairs
    from polars_matmul_spark.sources.tables import load_table as _lt

    emb = _lt(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    pairs = semantic_dedup_pairs(emb, threshold=0.95, n_clusters=8)
    plan = explain_str(pairs, "simple")
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the broadcast centroid scorings
    # (assignment in semdedup + inside KMeans prediction paths)
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    # candidate join on cluster_id is a hash join, not a sort of the
    # cross product; exact verify adds no Python worker
    assert not uses_python_worker(pairs)


def test_quality_scorer_is_scan_speed(spark, sf_dir):
    # the learned-quality scorer must behave like the heuristic one:
    # weights ride as a plan literal, so scoring is a row-local
    # projection — no Exchange, no Python worker, no join
    from polars_matmul_spark.operators.quality_model import linear_quality_score

    docs = load_table(spark, "documents", sf_dir)
    w = [0.1 * (i % 7) - 0.3 for i in range(64)]
    scored = docs.select(
        "doc_id", linear_quality_score(F.col("text"), w, 0.1).alias("q")
    )
    assert count_shuffles(scored) == 0, explain_str(scored, "simple")
    assert not uses_python_worker(scored)


def test_dsir_weighting_is_scan_speed(spark, sf_dir):
    # the per-doc importance weight is the same shape: log-ratio table
    # is an array literal, the fold is row-local Catalyst
    from polars_matmul_spark.operators.dsir import dsir_log_weights

    docs = load_table(spark, "documents", sf_dir)
    lp_a = [-1.0 - (i % 5) * 0.1 for i in range(128)]
    lp_b = [-1.5 - (i % 3) * 0.2 for i in range(128)]
    weighted = dsir_log_weights(docs, lp_a, lp_b)
    assert count_shuffles(weighted) == 0, explain_str(weighted, "simple")
    assert not uses_python_worker(weighted)


def test_line_dedup_frequent_set_broadcasts(spark, sf_dir):
    # the frequent-line table must BROADCAST back onto the exploded
    # lines (it is boilerplate-bounded, not corpus-bounded); the corpus
    # itself shuffles exactly twice: line-hash agg + doc reassembly
    from polars_matmul_spark.operators.linededup import strip_frequent_lines

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "text", F.regexp_replace("text", " ", "\n")
    )
    out = strip_frequent_lines(docs, min_docs=2)
    plan = explain_str(out, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert not uses_python_worker(out)
    # the frequency side moves HASHES only (two slim exchanges for the
    # two-phase count-distinct); line text crosses the wire exactly
    # once — the doc-id reassembly
    lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert 0 < len(lines) <= 4, plan
    carrying_text = [l for l in lines if "line#" in l or "text#" in l]
    assert len(carrying_text) <= 1, plan


def test_shard_assignment_is_bucketed_not_global_window(spark, sf_dir):
    # the prefix sum must come from bucket-partitioned windows plus a
    # broadcast offsets join; the ONLY single-partition structure
    # allowed is the 256-row bucket-totals table — never the corpus
    from polars_matmul_spark.operators.shards import assign_token_shards
    from polars_matmul_spark.operators.text import token_count

    docs = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .withColumn("n_tokens", token_count(F.col("text")))
    )
    out = assign_token_shards(docs, tokens_per_shard=10_000)
    plan = explain_str(out, "simple")
    # corpus-side window partitions on the hash-prefix bucket
    assert "hashpartitioning(__bucket" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # any SinglePartition exchange must carry only the totals (no text)
    for line in plan.splitlines():
        if "SinglePartition" in line:
            assert "text#" not in line, line
    assert not uses_python_worker(out)


def test_c4_clean_is_scan_speed(spark, sf_dir):
    # C4 cleaning is one row-local Catalyst projection: line split,
    # per-line rule filter, document reassembly — a 100 TB corpus
    # costs exactly one read, no shuffle, no Python worker
    from polars_matmul_spark.queries_text import TEXT_QUERIES

    fn, _ = TEXT_QUERIES["c4_clean"]
    df = fn(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "Exchange" not in plan, plan
    assert not uses_python_worker(df)


def test_windowed_funnel_is_single_user_shuffle(spark, sf_dir):
    # the deadline-bounded funnel fold collects per-step timestamp
    # lists under ONE user-keyed shuffle; the chain evaluation is
    # array arithmetic in the projection — no per-step self-joins
    from polars_matmul_spark.queries_core import CORE_QUERIES

    fn, _ = CORE_QUERIES["funnel_user_levels_windowed"]
    df = fn(spark, sf_dir)
    assert count_shuffles(df) == 1, explain_str(df, "simple")
    assert not uses_python_worker(df)


def test_probe_media_and_mpeg_decode_are_map_only(spark, sf_dir):
    # the round-8 ingestion probes: synth -> mapInPandas probe/decode.
    # One deliberate repartition spreads the single-file doc scan; the
    # probe/decode stages themselves add NO further exchange — at
    # 100 TB both are embarrassingly parallel header/bit walks
    from polars_matmul_spark.queries_multimodal import MULTIMODAL_QUERIES

    for name in ("probe_media", "mpeg_layer1_decode", "warc_extract"):
        fn, _ = MULTIMODAL_QUERIES[name]
        df = fn(spark, sf_dir)
        assert count_shuffles(df) == 1, (name, explain_str(df, "simple"))
        plan = explain_str(df, "simple")
        assert "CartesianProduct" not in plan, name


def test_rawbytes_ingest_join_is_equi_not_nested_loop(spark, sf_dir):
    # expand -> transcode are chained mapInPandas stages; the only
    # join glues decoded text back by the composite long key — must be
    # an equi hash/sortmerge join, never a nested loop over members
    from polars_matmul_spark.queries_multimodal import MULTIMODAL_QUERIES

    fn, _ = MULTIMODAL_QUERIES["rawbytes_ingest"]
    df = fn(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
