"""Exact distributed similarity joins — the scale-out path.

The reference's kernels assume a single-node corpus Series
(src/matmul.rs:295-519). At 100 TB neither side fits on a node, so this
module provides three *exact* formulations with different scaling
envelopes, all pure Catalyst plans or Arrow-batched kernels:

1. ``similarity_join_exact`` / ``topk_join_exact`` — declarative
   crossJoin + score expression (+ window for top-k). The score uses a
   sequential f64 fold (``aggregate(zip_with(...))``) which is
   whole-stage-codegen'd JVM arithmetic AND bit-for-bit reproducible in
   DuckDB — this is the oracle-parity form. Catalyst broadcasts the
   small side automatically (BroadcastNestedLoopJoin).
   Envelope: n_q * n_c pairs materialize — fine up to ~10^8 pairs.

2. ``topk_join_blocked`` — the large-corpus exact path: queries are
   collected as Arrow and broadcast (they are the small side in
   retrieval), the corpus stays fully distributed; each corpus Arrow
   batch is decoded by the shared list decoder and scored against the
   queries with the NumPy kernel inside ``mapInArrow`` (BLAS),
   emitting <= n_q * k candidate rows per batch; a final window merge
   keeps the global top-k. Shuffle volume is O(n_q * k * n_batches) —
   independent of corpus size.
   Envelope: corpus unbounded (scales linearly with executors),
   queries must fit in a broadcast (~10^6 rows of d=256 is ~1 GB).

3. For both sides huge, use ``operators.ann`` (LSH/IVF) — exact
   all-pairs at that scale is O(n^2) no matter the engine.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_matmul_spark import kernels as K
from polars_matmul_spark.functions.similarity import arrow_list_to_matrix

__all__ = ["score_expr", "similarity_join_exact", "topk_join_exact", "topk_join_blocked"]


def _fold_dot(a: Column, b: Column) -> Column:
    """Sequential f64 dot product: aggregate(zip_with(a,b,*), 0.0, +).

    Element-order summation makes this bitwise-identical to DuckDB's
    ``list_dot_product`` on DOUBLE[] — the property the oracle-parity
    gate relies on (verified empirically on the sf0.01 tables).
    JVM-side, whole-stage-codegen — no Python in the loop.
    """
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda s, x: s + x,
    )


def score_expr(q: Column, c: Column, metric: str = "cosine") -> Column:
    """Similarity score as a declarative Spark expression.

    Mirrors the kernel metric semantics (src/metrics.rs:258-311)
    including the cosine zero-norm guard (eps 1e-10, f64 path) and the
    euclidean sqrt(max(0, .)) clamp.
    """
    metric = K._canonical_metric(metric)
    dot = _fold_dot(q, c)
    if metric == "dot":
        return dot
    if metric == "cosine":
        qn = F.sqrt(_fold_dot(q, q))
        cn = F.sqrt(_fold_dot(c, c))
        # per-norm guard, not a product guard [src/metrics.rs:276-288]
        return F.when(
            (qn > F.lit(K.EPS_F64)) & (cn > F.lit(K.EPS_F64)), dot / (qn * cn)
        ).otherwise(F.lit(0.0))
    # euclidean
    sq = _fold_dot(q, q) + _fold_dot(c, c) - F.lit(2.0) * dot
    return F.sqrt(F.greatest(sq, F.lit(0.0)))


def similarity_join_exact(
    queries: DataFrame,
    corpus: DataFrame,
    q_col: str = "embedding",
    c_col: str = "embedding",
    metric: str = "cosine",
    score_col: str = "score",
) -> DataFrame:
    """All-pairs scores: the matmul(flatten=True) analog as a pure
    Catalyst plan (reference N2, python/polars_matmul/__init__.py:173-187).

    Per-row self-dots (norms) are computed BEFORE the join — O(n*d)
    instead of O(n^2*d) — which is bitwise-identical to computing them
    per pair (same fold over the same array), so oracle parity holds.
    Corpus columns are prefixed ``c_`` on collision. Catalyst picks
    BroadcastNestedLoopJoin when one side is broadcastable.
    """
    metric = K._canonical_metric(metric)
    q_names = set(queries.columns)
    renamed = corpus
    for name in corpus.columns:
        if name in q_names:
            renamed = renamed.withColumnRenamed(name, f"c_{name}")
    c_col_eff = f"c_{c_col}" if c_col in q_names else c_col

    if metric == "dot":
        out = queries.crossJoin(renamed)
        return out.withColumn(score_col, _fold_dot(F.col(q_col), F.col(c_col_eff)))

    q_pre = queries.withColumn("__qq", _fold_dot(F.col(q_col), F.col(q_col)))
    c_pre = renamed.withColumn("__cc", _fold_dot(F.col(c_col_eff), F.col(c_col_eff)))
    out = q_pre.crossJoin(c_pre)
    dot = _fold_dot(F.col(q_col), F.col(c_col_eff))
    if metric == "cosine":
        qn = F.sqrt(F.col("__qq"))
        cn = F.sqrt(F.col("__cc"))
        # per-norm guard, not a product guard [src/metrics.rs:276-288]
        score = F.when(
            (qn > F.lit(K.EPS_F64)) & (cn > F.lit(K.EPS_F64)), dot / (qn * cn)
        ).otherwise(F.lit(0.0))
    else:  # euclidean
        sq = F.col("__qq") + F.col("__cc") - F.lit(2.0) * dot
        score = F.sqrt(F.greatest(sq, F.lit(0.0)))
    return out.withColumn(score_col, score).drop("__qq", "__cc")


def topk_join_exact(
    queries: DataFrame,
    corpus: DataFrame,
    q_id: str,
    c_id: str,
    q_col: str = "embedding",
    c_col: str = "embedding",
    k: int = 10,
    metric: str = "cosine",
    score_col: str = "score",
) -> DataFrame:
    """Exact top-k as crossJoin + window — the SQL-expressible twin of
    the fused kernel (reference N3). Ties broken by corpus id ascending
    so results are deterministic (the reference's tie order is
    arbitrary, src/topk.rs:19-29; a fixed tiebreak is a superset of
    acceptable answers and makes oracle comparison exact).
    """
    scored = similarity_join_exact(queries, corpus, q_col, c_col, metric, score_col)
    c_id_eff = f"c_{c_id}" if c_id in queries.columns else c_id
    direction = (
        [F.col(score_col).desc(), F.col(c_id_eff).asc()]
        if K.higher_is_better(metric)
        else [F.col(score_col).asc(), F.col(c_id_eff).asc()]
    )
    w = Window.partitionBy(q_id).orderBy(*direction)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_join_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    q_id: str = "query_id",
    c_id: str = "corpus_id",
    q_col: str = "embedding",
    c_col: str = "embedding",
    k: int = 10,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k with an UNBOUNDED corpus: broadcast the (small) query
    set, scan the corpus once, merge per-partition top-k.

    Plan shape::

        queries.toArrow() -> decode -> broadcast (qids, Q)
        corpus scan (distributed, columnar)
          -> mapInArrow: decode the batch's embedding list column,
             local NumPy-kernel topk, emit flat (q_id, c_id, score)
             buffers (<= n_q * k rows per batch)
          -> window merge: global top-k per query

    The map stage is embarrassingly parallel; the only shuffle carries
    candidate rows, O(n_q * k * n_batches) — corpus-size independent.
    This is the same local-topk + merge decomposition the reference's
    fused kernel performs within one node (src/matmul.rs:419-519),
    lifted to a cluster.
    """
    metric = K._canonical_metric(metric)
    spark = queries.sparkSession
    qtbl = queries.select(q_id, q_col).toArrow()
    Q = arrow_list_to_matrix(qtbl.column(q_col))
    qids = qtbl.column(q_id).to_numpy()
    if Q.shape[0] == 0:
        raise ValueError("Empty series: query side has no rows")
    bc = spark.sparkContext.broadcast((qids, Q))
    higher = K.higher_is_better(metric)

    out_schema = f"{q_id} long, {c_id} long, score double"

    def local_topk(batches):
        qids_b, Qb = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = arrow_list_to_matrix(rb.column(c_col), expected_dim=Qb.shape[1])
            # promoted once: every later batch finds Qb in the compute dtype
            Qb = Qb.astype(K.promote_dtype(Qb.dtype, C.dtype), copy=False)
            S = K.similarity_matrix(Qb, C, metric)
            idx, sc = K.topk_select(S, min(k, C.shape[0]), higher)
            cids = rb.column(c_id).to_numpy(zero_copy_only=False)
            n_q, kk = idx.shape
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(qids_b, kk), type=pa.int64()),
                    pa.array(cids[idx.ravel()], type=pa.int64()),
                    pa.array(sc.ravel().astype(np.float64), type=pa.float64()),
                ],
                names=[q_id, c_id, "score"],
            )

    candidates = corpus.select(c_id, c_col).mapInArrow(local_topk, schema=out_schema)
    direction = (
        [F.col("score").desc(), F.col(c_id).asc()]
        if higher
        else [F.col("score").asc(), F.col(c_id).asc()]
    )
    w = Window.partitionBy(q_id).orderBy(*direction)
    return candidates.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
