"""Driver-facing queries for the round-2 pipeline operator families:
TF-IDF, BM25, context chunking, table profiling, deterministic splits.

These operators shipped in round 2 with in-repo DuckDB-oracle pytests
only (the driver registry sat at its 50-query cap). Round 3 rotates
five redundant relational slots out (q4_order_priority,
q14_promo_revenue, json_event_props, q13_order_distribution,
q10_returned_items — each one's operator class is exercised by other
registered queries) so these families get independent driver
CORRECTNESS rows too.

Float discipline: tf_idf/bm25 involve ``ln`` whose last-ulp rounding is
not guaranteed identical across engines — both the Spark query and the
oracle round scores to 9 decimals, far above ulp noise (values are
O(1..10)), far below any semantic difference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_matmul_spark.operators.chunking import chunk_documents
from polars_matmul_spark.operators.profile import profile_table
from polars_matmul_spark.operators.sampling import hash_split
from polars_matmul_spark.operators.tfidf import (
    bm25_score,
    bm25_score_multi,
    tf_idf,
)
from polars_matmul_spark.sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir)


# --- TF-IDF ----------------------------------------------------------------

def _tfidf_weights(spark, sf_dir):
    out = tf_idf(_docs(spark, sf_dir))
    return out.withColumn("tf_idf", F.round("tf_idf", 9))


_TFIDF_ORACLE = r"""
WITH terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
), terms_ne AS (
  SELECT * FROM terms WHERE term <> ''
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms_ne GROUP BY 1, 2
), dft AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
)
SELECT doc_id, tf.term, tf,
       round(tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 9) AS tf_idf
FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n
"""

# --- BM25 ------------------------------------------------------------------

_BM25_TERMS = ["data", "learning", "model"]


def _bm25_search(spark, sf_dir):
    out = bm25_score(_docs(spark, sf_dir), _BM25_TERMS)
    return out.withColumn("bm25", F.round("bm25", 9))


_BM25_ORACLE = rf"""
WITH dl AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              t -> t <> '')) AS DOUBLE) AS dl
  FROM documents
), terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
), hits AS (
  SELECT * FROM terms
  WHERE term <> '' AND term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
), tf AS (
  SELECT h.doc_id, term, dl, count(*) AS tf
  FROM hits h JOIN dl ON h.doc_id = dl.doc_id GROUP BY 1, 2, 3
), dft AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), ad AS (
  SELECT avg(dl) AS avgdl FROM dl
)
SELECT doc_id,
       round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))),
             9) AS bm25
FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n CROSS JOIN ad
GROUP BY doc_id
"""

# --- context chunking ------------------------------------------------------

_CHUNK, _OVERLAP = 64, 8
_STRIDE = _CHUNK - _OVERLAP


def _chunk_docs(spark, sf_dir):
    return chunk_documents(_docs(spark, sf_dir), _CHUNK, _OVERLAP)


_CHUNK_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE trim(text) <> ''
), counted AS (
  SELECT doc_id, toks, len(toks) AS n,
         greatest(1, CAST(ceil((len(toks) - {_OVERLAP}) / {_STRIDE}.0) AS BIGINT)) AS n_chunks
  FROM t
), chunks AS (
  SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_id, toks, n, n_chunks
  FROM counted
)
SELECT doc_id, chunk_id, n_chunks,
       chunk_id * {_STRIDE} AS chunk_start,
       CAST(len(toks[chunk_id * {_STRIDE} + 1 : chunk_id * {_STRIDE} + {_CHUNK}]) AS BIGINT) AS n_chunk_tokens,
       array_to_string(toks[chunk_id * {_STRIDE} + 1 : chunk_id * {_STRIDE} + {_CHUNK}], ' ') AS chunk_text
FROM chunks
"""

# --- table profiler --------------------------------------------------------

_PROFILE_COLS = ["l_orderkey", "l_quantity", "l_returnflag"]


def _profile_lineitem(spark, sf_dir):
    # the deterministic subset of the profile: HLL distinct and
    # stddev/mean are engine- or summation-order-approximate, so the
    # driver row pins the exact stats; the full profile (incl. HLL and
    # moments) is oracle-checked in tests/test_profile_and_materialize.py
    li = load_table(spark, "lineitem", sf_dir)
    return profile_table(li, _PROFILE_COLS).select(
        F.col("column").alias("col_name"),
        "dtype",
        "n_rows",
        "n_nulls",
        F.col("min").alias("min_val"),
        F.col("max").alias("max_val"),
    )


def _profile_oracle() -> str:
    dtypes = {"l_orderkey": "bigint", "l_quantity": "double", "l_returnflag": "string"}
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            f"""
SELECT '{c}' AS col_name, '{dtypes[c]}' AS dtype,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(min({c}) AS VARCHAR) AS min_val,
       CAST(max({c}) AS VARCHAR) AS max_val
FROM lineitem"""
        )
    return "\nUNION ALL\n".join(parts)


# --- deterministic hash split ---------------------------------------------

_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _hash_split_docs(spark, sf_dir):
    out = hash_split(_docs(spark, sf_dir), "doc_id", _SPLITS)
    return out.select("doc_id", "lang", "split")


_HASH_SPLIT_ORACLE = """
WITH b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
           % 1000000 AS bucket
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN bucket < 800000 THEN 'train'
            WHEN bucket < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


# --- SCD2 (round-4 rotation: CDC family gets a driver row) -----------------

def _scd2_customers(spark, sf_dir):
    """SCD2 batch apply over a customer dimension: initial versions from
    the customer table, one change row per ordering customer (segment
    flips to 'BULK' for even order counts — exercising close+append —
    and stays identical for odd counts — exercising idempotent no-op),
    plus two brand-new keys (insert path). Deterministic, float-free.
    """
    from polars_matmul_spark.operators.merge import scd2_apply

    cust = load_table(spark, "customer", sf_dir)
    dim = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    orders = load_table(spark, "orders", sf_dir)
    changes = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count("*").alias("n_orders"),
            F.max("c_mktsegment").alias("cur_segment"),
        )
        .select(
            "c_custkey",
            F.when(F.col("n_orders") % 2 == 0, F.lit("BULK"))
            .otherwise(F.col("cur_segment"))
            .alias("segment"),
            F.lit(100).cast("long").alias("ts"),
        )
        .unionByName(
            spark.createDataFrame(
                [(900001, "NEWSEG", 100), (900002, "NEWSEG", 100)],
                "c_custkey long, segment string, ts long",
            )
        )
    )
    return scd2_apply(dim, changes, ["c_custkey"], "ts")


_SCD2_ORACLE = """
WITH dim AS (
  SELECT c_custkey, c_mktsegment AS segment,
         CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
  FROM customer
), chg AS (
  SELECT o.o_custkey AS c_custkey,
         CASE WHEN count(*) % 2 = 0 THEN 'BULK' ELSE max(c.c_mktsegment) END AS segment,
         CAST(100 AS BIGINT) AS ts
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY o.o_custkey
  UNION ALL
  SELECT * FROM (VALUES (900001, 'NEWSEG', CAST(100 AS BIGINT)),
                        (900002, 'NEWSEG', CAST(100 AS BIGINT)))
       t(c_custkey, segment, ts)
), kept AS (
  -- current rows: closed (valid_to = ts) iff a differing change arrived
  SELECT d.c_custkey, d.segment, d.valid_from,
         CASE WHEN ch.c_custkey IS NOT NULL
                   AND ch.segment IS DISTINCT FROM d.segment
              THEN ch.ts END AS valid_to
  FROM dim d LEFT JOIN chg ch USING (c_custkey)
), newv AS (
  -- new versions: differing change on an existing key, or a new key
  SELECT ch.c_custkey, ch.segment, ch.ts AS valid_from,
         CAST(NULL AS BIGINT) AS valid_to
  FROM chg ch LEFT JOIN dim d USING (c_custkey)
  WHERE d.c_custkey IS NULL OR ch.segment IS DISTINCT FROM d.segment
)
SELECT * FROM kept UNION ALL SELECT * FROM newv
"""


# --- int8 quantized top-k with exact rerank (round-4 rotation) -------------

def _quantized_rerank(spark, sf_dir):
    """Two-stage search on the embeddings table: int8-quantized cosine
    shortlist (k*4 per query), exact full-precision rerank. Scores in
    the output are EXACT (the approximation only picks the shortlist),
    and the quantization itself is deterministic arithmetic, so the
    whole two-stage selection replays bit-for-bit in DuckDB.
    """
    from polars_matmul_spark.operators.quantize import quantized_topk_rerank

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 50).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    out = quantized_topk_rerank(q, c, k=5, rerank_factor=4)
    # float discipline: last-ulp divide/sqrt noise -> round to 6 dp on
    # both sides (same rule as topk_kernel_cosine / mllib matmul)
    return out.select(
        "query_id", "rank", "corpus_id", F.round("score", 6).alias("score_r")
    )


# replicates quantize_int8 exactly: scale = amax/127 computed in double,
# STORED as float32 (hence the REAL round-trip), codes = round(x/scale)
_QUANTIZED_RERANK_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS emb
           FROM embeddings WHERE vec_id < 50),
     c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS emb
           FROM embeddings WHERE vec_id >= 50),
     qs AS (SELECT query_id, emb,
                   CAST(CAST(CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END
                             AS REAL) AS DOUBLE) AS s
            FROM (SELECT query_id, emb,
                         list_max(list_transform(emb, a -> abs(a))) AS amax
                  FROM q)),
     cs AS (SELECT corpus_id, emb,
                   CAST(CAST(CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END
                             AS REAL) AS DOUBLE) AS s
            FROM (SELECT corpus_id, emb,
                         list_max(list_transform(emb, a -> abs(a))) AS amax
                  FROM c)),
     qq AS (SELECT query_id, emb, list_transform(emb, x -> round(x / s)) AS qv
            FROM qs),
     cc AS (SELECT corpus_id, emb, list_transform(emb, x -> round(x / s)) AS qv
            FROM cs),
     approx AS (
       SELECT query_id, corpus_id, qq.emb AS q_emb, cc.emb AS c_emb,
              CASE WHEN sqrt(list_dot_product(qq.qv, qq.qv)) > 1e-10
                    AND sqrt(list_dot_product(cc.qv, cc.qv)) > 1e-10
                   THEN list_dot_product(qq.qv, cc.qv)
                        / (sqrt(list_dot_product(qq.qv, qq.qv))
                           * sqrt(list_dot_product(cc.qv, cc.qv)))
                   ELSE 0.0 END AS ap
       FROM qq CROSS JOIN cc),
     short AS (
       SELECT * FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                                      ORDER BY ap DESC, corpus_id ASC) AS r
         FROM approx) WHERE r <= 20),
     rer AS (
       SELECT query_id, corpus_id,
              CASE WHEN sqrt(list_dot_product(q_emb, q_emb)) > 1e-10
                    AND sqrt(list_dot_product(c_emb, c_emb)) > 1e-10
                   THEN list_dot_product(q_emb, c_emb)
                        / (sqrt(list_dot_product(q_emb, q_emb))
                           * sqrt(list_dot_product(c_emb, c_emb)))
                   ELSE 0.0 END AS score
       FROM short)
SELECT query_id, rn AS rank, corpus_id, round(score, 6) AS score_r
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, corpus_id ASC) AS rn
      FROM rer)
WHERE rn <= 5
"""


# --- profile drift gate (round-7 second rotation) --------------------------
#
# profile_diff compares two profile_table outputs and emits drift
# findings. The driver row diffs the orders table against a mutant of
# itself with four planted, deterministic drifts: a dropped column, an
# added column, a dtype change (cast), and a 1-in-4 null injection.
# The float-fragile checks CANNOT fire here by construction — numeric
# columns are either untouched (mean delta exactly 0 on exact integer
# averages) or cast without value change, and distinct counts are
# identical on both sides (HLL is deterministic for identical input,
# ratio 1) — so every value that reaches the output is exact:
# dtype-name literals and 6-decimal-rounded null rates from integer
# count arithmetic. The full check surface including mean_shift /
# distinct_ratio firing keeps its oracle in
# tests/test_profile_and_materialize.py.

_PD_BASE = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def _profile_diff_orders(spark, sf_dir):
    from polars_matmul_spark.operators.profile import (
        profile_diff,
        profile_pair_one_scan,
    )

    orders = load_table(spark, "orders", sf_dir)
    # both sides are row-wise projections of ONE orders scan, so their
    # profiles share one aggregation pass (round 13, guide §1.2; the
    # former profile_table(a)/profile_table(b) shape scanned orders
    # twice inside the same query) — stats and findings bit-identical
    ab = orders.select(
        *[F.col(c).alias(f"__a_{c}") for c in _PD_BASE],
        F.col("o_orderkey").alias("__b_o_orderkey"),
        F.col("o_custkey").cast("int").alias("__b_o_custkey"),  # dtype_changed
        F.when(F.col("o_orderkey") % 4 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("__b_o_orderstatus"),  # null_rate
        F.lit("batch7").alias("__b_o_batch_tag"),  # column_added
        # o_orderpriority dropped -> column_removed
    )
    prof_a, prof_b = profile_pair_one_scan(
        ab,
        list(_PD_BASE),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_batch_tag"],
    )
    return profile_diff(prof_a, prof_b)


_PROFILE_DIFF_ORACLE = """
WITH nullr AS (
  SELECT round(0.0, 6) AS a_rate,
         round(CAST(sum(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*), 6) AS b_rate
  FROM orders
)
SELECT * FROM (
  SELECT 'o_orderpriority' AS "column", 'column_removed' AS "check",
         'string' AS a_value, CAST(NULL AS VARCHAR) AS b_value
  UNION ALL
  SELECT 'o_batch_tag', 'column_added', CAST(NULL AS VARCHAR), 'string'
  UNION ALL
  SELECT 'o_custkey', 'dtype_changed', 'bigint', 'int'
  UNION ALL
  SELECT 'o_orderstatus', 'null_rate',
         CAST(a_rate AS VARCHAR), CAST(b_rate AS VARCHAR)
  FROM nullr WHERE abs(b_rate - a_rate) > 0.05
)
"""


# --- MERGE INTO emulation (round-7 second rotation) -------------------------
#
# merge_upsert with seq_col last-wins: updates arrive as TWO versions
# per changed key (the stale one must lose), inserts as brand-new keys
# offset beyond the existing range. DuckDB replays last-wins with a
# row_number window ordered by seq DESC (seqs are distinct per key by
# construction, so the operator's full-struct tiebreak never engages).


def _merge_upsert_customers(spark, sf_dir):
    from polars_matmul_spark.operators.merge import merge_upsert

    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    base = cust.filter(F.col("c_custkey") % 10 == 0)
    v1 = base.select(
        "c_custkey",
        F.lit("STALE").alias("c_name"),
        "c_nationkey",
        F.lit("SEG_V1").alias("c_mktsegment"),
        F.lit(1).alias("seq"),
    )
    v2 = base.select(
        "c_custkey",
        F.concat(F.lit("UPD_"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        F.lit("SEG_V2").alias("c_mktsegment"),
        F.lit(2).alias("seq"),
    )
    ins = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("c_custkey"),
        F.concat(F.lit("NEW_"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        F.lit("SEG_NEW").alias("c_mktsegment"),
        F.lit(1).alias("seq"),
    )
    changes = v1.unionByName(v2).unionByName(ins)
    return merge_upsert(cust, changes, ["c_custkey"], seq_col="seq")


_MERGE_UPSERT_ORACLE = """
WITH cust AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
), base AS (
  SELECT * FROM cust WHERE c_custkey % 10 = 0
), changes AS (
  SELECT c_custkey, 'STALE' AS c_name, c_nationkey,
         'SEG_V1' AS c_mktsegment, 1 AS seq FROM base
  UNION ALL
  SELECT c_custkey, 'UPD_' || c_name, c_nationkey, 'SEG_V2', 2 FROM base
  UNION ALL
  SELECT c_custkey + 10000000, 'NEW_' || c_name, c_nationkey,
         'SEG_NEW', 1 FROM cust WHERE c_custkey % 97 = 0
), last AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment
  FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
                                     ORDER BY seq DESC) AS rn
        FROM changes)
  WHERE rn = 1
)
SELECT * FROM cust WHERE c_custkey NOT IN (SELECT c_custkey FROM last)
UNION ALL
SELECT * FROM last
"""


# --- hybrid retrieval: BM25 + dense fused with RRF (round-9 wave 2) --------
#
# The production hybrid-search shape: a lexical leg (Okapi BM25, the
# machinery bm25_search already driver-gates) and a dense leg (cosine
# against per-query embedding vectors, the sequential-fold oracle-parity
# form) each rank their own candidates per query; reciprocal-rank
# fusion combines the two rankings without any score calibration.
# Everything that reaches the output is rank arithmetic (integers) plus
# the fixed-order RRF expression — deterministic on both engines.

_HYBRID_TERMS = {0: ["data", "learning", "model"], 1: ["join", "merge", "window"]}
_HYBRID_TOP_PER_LEG = 20
_HYBRID_K = 10


def _hybrid_rrf_search(spark, sf_dir):
    from polars_matmul_spark.operators.retrieval import rrf_fuse
    from polars_matmul_spark.operators.similarity_join import score_expr

    docs = _docs(spark, sf_dir)
    # both lexical legs in ONE corpus pass (bm25_score_multi,
    # round 12): per-leg bm25_score calls tokenized and scanned the
    # corpus once per leg per scalar — the probe term list is all that
    # differs, so it rides a query-tagged broadcast instead
    lex = bm25_score_multi(docs, _HYBRID_TERMS).select(
        "query_id", "doc_id", F.col("bm25").alias("score")
    )

    emb = load_table(spark, "embeddings", sf_dir)
    qv = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cv = emb.filter(F.col("vec_id") >= 2).select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("c_emb")
    )
    dense = qv.crossJoin(cv).select(
        "query_id",
        "doc_id",
        score_expr(F.col("q_emb"), F.col("c_emb"), "cosine").alias("score"),
    )
    return rrf_fuse(
        {"lex": lex, "dense": dense},
        id_cols=["doc_id"],
        group_cols=["query_id"],
        top_per_leg=_HYBRID_TOP_PER_LEG,
        k=_HYBRID_K,
    )


def _bm25_cte(terms: list[str]) -> str:
    """The proven _BM25_ORACLE body as a reusable CTE expression for an
    arbitrary term list (yields (doc_id, bm25))."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return rf"""(
WITH dl AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              t -> t <> '')) AS DOUBLE) AS dl
  FROM documents
), terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
), hits AS (
  SELECT * FROM terms WHERE term <> '' AND term IN ({in_list})
), tf AS (
  SELECT h.doc_id, term, dl, count(*) AS tf
  FROM hits h JOIN dl ON h.doc_id = dl.doc_id GROUP BY 1, 2, 3
), dft AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), ad AS (
  SELECT avg(dl) AS avgdl FROM dl
)
SELECT doc_id,
       sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS bm25
FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n CROSS JOIN ad
GROUP BY doc_id
)"""


_HYBRID_ORACLE = rf"""
WITH lex AS (
  SELECT CAST(0 AS BIGINT) AS query_id, doc_id, bm25 AS score
  FROM {_bm25_cte(_HYBRID_TERMS[0])} bm0
  UNION ALL
  SELECT CAST(1 AS BIGINT), doc_id, bm25 FROM {_bm25_cte(_HYBRID_TERMS[1])} bm1
), qv AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
  FROM embeddings WHERE vec_id < 2
), cv AS (
  SELECT vec_id AS doc_id, embedding::DOUBLE[] AS c_emb
  FROM embeddings WHERE vec_id >= 2
), dense AS (
  SELECT query_id, doc_id,
         CASE WHEN sqrt(list_dot_product(q_emb, q_emb)) > 1e-10
               AND sqrt(list_dot_product(c_emb, c_emb)) > 1e-10
              THEN list_dot_product(q_emb, c_emb)
                   / (sqrt(list_dot_product(q_emb, q_emb))
                      * sqrt(list_dot_product(c_emb, c_emb)))
              ELSE 0.0 END AS score
  FROM qv CROSS JOIN cv
), lexr AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 9) DESC, doc_id ASC) AS r
  FROM lex QUALIFY r <= {_HYBRID_TOP_PER_LEG}
), denser AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 9) DESC, doc_id ASC) AS r
  FROM dense QUALIFY r <= {_HYBRID_TOP_PER_LEG}
), fused AS (
  SELECT query_id, doc_id,
         l.r AS lex_rank, d.r AS dense_rank,
         round(coalesce(1.0 / (60.0 + l.r), 0.0)
               + coalesce(1.0 / (60.0 + d.r), 0.0), 9) AS rrf_score
  FROM lexr l FULL JOIN denser d USING (query_id, doc_id)
)
SELECT query_id, doc_id, lex_rank, dense_rank, rrf_score,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY rrf_score DESC, doc_id ASC) AS fused_rank
FROM fused
QUALIFY fused_rank <= {_HYBRID_K}
"""


# --- late-interaction MaxSim top-k (round-9 wave 2) -------------------------
#
# ColBERT-style multi-vector retrieval: embeddings regrouped into
# multi-vector documents of 5 (q_doc = vec_id div 5), score(q, d) =
# sum over q's vectors of (max over d's vectors of cosine). The maxima
# are order-insensitive float max; the sum folds sequentially in
# ascending q_pos (aggregate over sort_array == DuckDB list_reduce over
# list(... ORDER BY q_pos), both seeded so 0.0 + x == x).

_MAXSIM_M = 5
_MAXSIM_K = 5


def _maxsim_multivector_topk(spark, sf_dir):
    from polars_matmul_spark.operators.retrieval import maxsim_topk

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 25).select(
        F.expr(f"vec_id div {_MAXSIM_M}").cast("long").alias("q_doc"),
        (F.col("vec_id") % _MAXSIM_M).cast("long").alias("q_pos"),
        F.col("embedding").alias("q_emb"),
    )
    c = emb.filter(F.col("vec_id") >= 50).select(
        F.expr(f"vec_id div {_MAXSIM_M}").cast("long").alias("c_doc"),
        F.col("embedding").alias("c_emb"),
    )
    return maxsim_topk(q, c, k=_MAXSIM_K)


_MAXSIM_ORACLE = f"""
WITH q AS (
  SELECT vec_id // {_MAXSIM_M} AS q_doc, vec_id % {_MAXSIM_M} AS q_pos,
         embedding::DOUBLE[] AS q_emb
  FROM embeddings WHERE vec_id < 25
), c AS (
  SELECT vec_id // {_MAXSIM_M} AS c_doc, embedding::DOUBLE[] AS c_emb
  FROM embeddings WHERE vec_id >= 50
), scored AS (
  SELECT q_doc, q_pos, c_doc,
         CASE WHEN sqrt(list_dot_product(q_emb, q_emb)) > 1e-10
               AND sqrt(list_dot_product(c_emb, c_emb)) > 1e-10
              THEN list_dot_product(q_emb, c_emb)
                   / (sqrt(list_dot_product(q_emb, q_emb))
                      * sqrt(list_dot_product(c_emb, c_emb)))
              ELSE 0.0 END AS sim
  FROM q CROSS JOIN c
), best AS (
  SELECT q_doc, q_pos, c_doc, max(sim) AS best FROM scored GROUP BY 1, 2, 3
), pairs AS (
  SELECT q_doc, c_doc,
         round(list_reduce(list(best ORDER BY q_pos), (s, x) -> s + x),
               9) AS maxsim
  FROM best GROUP BY 1, 2
)
SELECT q_doc,
       row_number() OVER (PARTITION BY q_doc
                          ORDER BY maxsim DESC, c_doc ASC) AS rank,
       c_doc, maxsim
FROM pairs
QUALIFY rank <= {_MAXSIM_K}
"""


# --- retrieval evaluation over the hybrid run (round-10 promotion) ---------
#
# The measurement loop composed onto a live retrieval row: the
# hybrid_rrf_search fused ranking IS the run; graded qrels are
# synthesized from doc_id arithmetic (judged sets for both live
# queries with grades 0..2, one judged-but-never-retrieved query, and
# one query whose judgments are ALL rel=0 — the r9 ADVICE edge case —
# so every promised edge row is driver-gated). Output = per-query
# metrics x the macro means (one crossJoin of the 1-row macro), so one
# row gates ranking_metrics, macro_metrics, AND the composition with
# the hybrid pipeline.

_RE_K = 10


def _rank_eval_hybrid(spark, sf_dir):
    from polars_matmul_spark.operators.ranking_eval import (
        macro_metrics,
        ranking_metrics,
    )

    run = _hybrid_rrf_search(spark, sf_dir).select(
        "query_id", "doc_id", F.col("fused_rank").alias("rank")
    )
    docs = _docs(spark, sf_dir).select("doc_id")

    def _q(qid, mod, residue, rel_col):
        return docs.filter(F.col("doc_id") % mod == residue).select(
            F.lit(qid).cast("long").alias("query_id"),
            "doc_id",
            rel_col.cast("long").alias("rel"),
        )

    qrels = (
        _q(0, 7, 0, F.col("doc_id") % 3)
        .unionByName(_q(1, 7, 1, F.col("doc_id") % 3))
        .unionByName(_q(2, 11, 0, F.lit(1)))
        .unionByName(_q(3, 13, 0, F.lit(0)))
    )
    # 4-row table consumed twice (per-query rows + the macro agg):
    # materialize once instead of re-running the hybrid pipeline
    per_q = ranking_metrics(run, qrels, k=_RE_K).localCheckpoint(eager=False)
    return per_q.crossJoin(F.broadcast(macro_metrics(per_q)))


def _rank_eval_oracle() -> str:
    """The proven test_ranking_eval.py DuckDB replay, fed by the full
    hybrid oracle as the run and the same closed-form qrels."""
    k = _RE_K
    return f"""
WITH run AS (
  SELECT query_id, doc_id, fused_rank AS rank FROM ({_HYBRID_ORACLE})
), qrels AS (
  SELECT CAST(0 AS BIGINT) AS query_id, doc_id,
         CAST(doc_id % 3 AS BIGINT) AS rel
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT CAST(1 AS BIGINT), doc_id, CAST(doc_id % 3 AS BIGINT)
  FROM documents WHERE doc_id % 7 = 1
  UNION ALL
  SELECT CAST(2 AS BIGINT), doc_id, CAST(1 AS BIGINT)
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT CAST(3 AS BIGINT), doc_id, CAST(0 AS BIGINT)
  FROM documents WHERE doc_id % 13 = 0
), runk AS (
  SELECT query_id, doc_id, rank FROM run WHERE rank <= {k}
), relsorted AS (
  SELECT query_id,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_relevant,
         list(rel ORDER BY rel DESC) FILTER (rel > 0) AS rels
  FROM qrels GROUP BY query_id
), idcg_pos AS (
  SELECT query_id, unnest(rels[1:{k}]) AS rel,
         generate_subscripts(rels[1:{k}], 1) AS pos
  FROM relsorted
), idcg AS (
  SELECT query_id,
         list_reduce(list_prepend(0.0,
           list((pow(2.0, rel) - 1.0) / log2(pos + 1.0) ORDER BY pos)),
           (s, x) -> s + x) AS idcg
  FROM idcg_pos GROUP BY query_id
), hits AS (
  SELECT r.query_id, r.rank, coalesce(q.rel, 0) AS rel,
         sum(CASE WHEN coalesce(q.rel, 0) > 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY r.query_id ORDER BY r.rank
                 ROWS UNBOUNDED PRECEDING) AS cum
  FROM runk r LEFT JOIN qrels q
    ON r.query_id = q.query_id AND r.doc_id = q.doc_id
), perq AS (
  SELECT query_id, count(*) AS n_retrieved,
         min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_hits,
         list_reduce(list_prepend(0.0,
           list((pow(2.0, rel) - 1.0) / log2(rank + 1.0) ORDER BY rank)),
           (s, x) -> s + x) AS dcg,
         list_reduce(list_prepend(0.0,
           list(CAST(cum AS DOUBLE) / rank ORDER BY rank)
             FILTER (rel > 0)),
           (s, x) -> s + x) AS ap_num
  FROM hits GROUP BY query_id
), final AS (
  SELECT query_id,
         CAST(coalesce(n_retrieved, 0) AS BIGINT) AS n_retrieved,
         CAST(coalesce(n_relevant, 0) AS BIGINT) AS n_relevant,
         round(CASE WHEN first_rel IS NOT NULL THEN 1.0 / first_rel
                    ELSE 0.0 END, 9) AS rr,
         round(CASE WHEN coalesce(n_relevant, 0) > 0
                    THEN coalesce(n_hits, 0) / CAST(n_relevant AS DOUBLE)
                    ELSE 0.0 END, 9) AS recall_at_k,
         round(coalesce(n_hits, 0) / {float(k)}, 9) AS precision_at_k,
         round(CASE WHEN coalesce(idcg, 0.0) > 0.0
                    THEN coalesce(dcg, 0.0) / idcg ELSE 0.0 END, 9)
           AS ndcg_at_k,
         round(CASE WHEN coalesce(n_relevant, 0) > 0
                    THEN coalesce(ap_num, 0.0)
                         / CAST(n_relevant AS DOUBLE)
                    ELSE 0.0 END, 9) AS ap_at_k
  FROM relsorted FULL JOIN perq USING (query_id)
  LEFT JOIN idcg USING (query_id)
), macro AS (
  SELECT CAST(count(*) AS BIGINT) AS n_queries,
         round(list_reduce(list_prepend(0.0, list(rr ORDER BY query_id)),
                           (s, x) -> s + x) / count(*), 9) AS mean_rr,
         round(list_reduce(list_prepend(0.0,
                 list(recall_at_k ORDER BY query_id)),
                           (s, x) -> s + x) / count(*), 9)
           AS mean_recall_at_k,
         round(list_reduce(list_prepend(0.0,
                 list(precision_at_k ORDER BY query_id)),
                           (s, x) -> s + x) / count(*), 9)
           AS mean_precision_at_k,
         round(list_reduce(list_prepend(0.0,
                 list(ndcg_at_k ORDER BY query_id)),
                           (s, x) -> s + x) / count(*), 9)
           AS mean_ndcg_at_k,
         round(list_reduce(list_prepend(0.0,
                 list(ap_at_k ORDER BY query_id)),
                           (s, x) -> s + x) / count(*), 9)
           AS mean_ap_at_k
  FROM final
)
SELECT f.*, m.* FROM final f CROSS JOIN macro m
"""


# --- the composed streaming front door as a driver row (round 11) -----------
#
# The r10 verdict's ask #3: streaming/front_door.py's 8-stage chain —
# WARC -> HTML gates -> URL quota -> CMS line strip -> CMS span
# excision -> Bloom exact dedup -> MinHash near-dup -> decontamination
# — run batch-driven as ONE epoch, with the oracle REPLAYING every
# stage in DuckDB over the same synthesized corpus and the output
# gating the admitted set at every stage boundary plus the final
# hygiene rewrites (md5 of each post-excision text) and the flagged
# set's hit counts.
#
# Input synthesis (doc_id arithmetic + the real documents text, the
# warc_extract pattern): every document becomes one WARC/1.0 response
# record whose HTTP body is an HTML page. Planted classes make each
# stage provably act:
#   doc_id % 97 == 1   -> HTTP 404 (dropped by the status gate)
#   doc_id % 97 == 2   -> link-farm page (dropped by the ldens gate;
#                         margins pinned in tests/test_front_door_row.py)
#   doc_id % 25 == m   -> domain site{m}.com; quota keeps the first
#                         _FD_MAXDOM ids per domain
#   doc_id % 83 == 5   -> identical boilerplate body in >= 3 docs ->
#                         whole-line stripped by the line CMS
#   doc_id % 83 == 6   -> exact-dup PAIRS (2 < line_min_docs survives
#                         the line strip; 2 < excise_min_docs survives
#                         excision) -> Bloom drops the higher id
#   doc_id % 83 == 7   -> near-dup PAIRS (40 shared tokens + 1 unique;
#                         jaccard 41/43 ~ 0.953 >= 0.8) -> MinHash
#                         collapse keeps the lower id
#   doc_id % 83 == 8   -> one 20-token span shared by >= 3 docs ->
#                         excised from ALL copies (strip-everywhere)
#   everything else    -> the real (ASCII-normalized) document text
# Planted bodies interleave their class/variant marker into every
# token so no >= excise_k-char substring is shared beyond the design.
# min_docs is 3 for BOTH hygiene sketches so the planted PAIRS survive
# hygiene and genuinely reach the dedup stages.
#
# Probes are mid-document 8-grams (tokens 13..20 of the extracted
# text) of every 20th doc — self-hits when the source survives, real
# cross-doc contamination otherwise; the chain runs tag_contaminated
# with hash_fn="md5" (the engine-replayable form).
#
# Every sketch decision (line CMS, gram CMS) is replayed counter-by-
# counter, so the comparison is exact at ANY SF including collisions.
# 100 TB shape: the row IS the composition audit — each stage keeps
# its own bounded state and epoch sinks (see streaming/front_door.py).

_FD_MAXDOM = 15
_FD_NDOM = 25
_FD_LINE_MIN = 3
_FD_K = 20
_FD_EXCISE_MIN = 3
_FD_THRESH = 0.8
_FD_N = 8
_FD_PROBE_EVERY = 20
_FD_PROBE_SKIP = 12
_FD_CMS_LINE_W, _FD_CMS_LINE_D = 8192, 5      # cms_strip_ingest defaults
# gram sketch sized so eps*N stays FAR under excise_min_docs: quota
# bounds survivors to _FD_NDOM * _FD_MAXDOM = 375 docs at ANY SF, so
# distinct k-grams are ~260k; 2^20 cells/row puts the per-cell load at
# ~0.25 — a unique gram needs +2 collision mass in EVERY row to be
# wrongly cut (the 65536 default measurably mass-cut at this corpus:
# ~375*700 inserts = ~4/cell load pushed unique grams past min_docs)
_FD_CMS_GRAM_W, _FD_CMS_GRAM_D = 1 << 20, 5

_FD_L_BODY = "boilerplate banner mirrored verbatim across portal pages"
_FD_E_SPAN = " ".join(f"esw{j}" for j in range(20))
_FD_FARM = "<a href='/f'>" + " ".join(f"lnk{j}" for j in range(40)) + "</a> z"
_FD_PAGE_HEAD = (
    "<html><head><title>Corpus page</title></head>"
    "<body><nav><a href='/'>home</a></nav><p>"
)
_FD_PAGE_TAIL = "</p></body></html>"


def _fd_pages(spark, sf_dir):
    """(doc_id, url, page, status): the synthesized crawl."""
    # repartition FIRST — but only when the scan arrives with fewer
    # splits than cores: the documents table is one parquet file at
    # test SFs, so the synth regexp chain (and the strip_html/tokens
    # probe pass over the checkpointed 1-partition result) otherwise
    # serializes onto one core (round 12; row-local exprs, values
    # unchanged). At real scale the scan is already multi-split and an
    # unconditional repartition would be a full exchange of the corpus
    # before a row-local chain (round-13, r12 verdict #5; guide §2.4:
    # never shuffle to restore parallelism you already have).
    docs = _docs(spark, sf_dir)
    want = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < want:
        docs = docs.repartition(want)
    docs = (
        docs
        .select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace("text", "[^\\x00-\\x7F]", "?"),
                "[\\x00-\\x1F]",
                " ",
            ).alias("raw"),
        )
    )
    v = F.expr("doc_id div 83 div 2").cast("string")
    b_body = F.concat_ws(
        " ", *[F.concat(F.lit("bd"), v, F.lit(f"x{j}")) for j in range(10)]
    )
    n_body = F.concat(
        F.concat_ws(
            " ",
            *[F.concat(F.lit("nd"), v, F.lit(f"w{j}")) for j in range(40)],
        ),
        F.lit(" uq"),
        F.col("doc_id").cast("string"),
    )
    e_body = F.concat(
        F.lit(_FD_E_SPAN + " eu"),
        F.col("doc_id").cast("string"),
        F.lit(" tail"),
        F.col("doc_id").cast("string"),
    )
    cls = F.col("doc_id") % 83
    body = (
        F.when(F.col("doc_id") % 97 == 2, F.lit(_FD_FARM))
        .when(cls == 5, F.lit(_FD_L_BODY))
        .when(cls == 6, b_body)
        .when(cls == 7, n_body)
        .when(cls == 8, e_body)
        .otherwise(F.col("raw"))
    )
    page = F.concat(F.lit(_FD_PAGE_HEAD), body, F.lit(_FD_PAGE_TAIL))
    status = F.when(
        F.col("doc_id") % 97 == 1, F.lit("404 Not Found")
    ).otherwise(F.lit("200 OK"))
    url = F.concat(
        F.lit("http://Site"),
        (F.col("doc_id") % _FD_NDOM).cast("string"),
        F.lit(".COM/p/"),
        F.col("doc_id").cast("string"),
    )
    return docs.select(
        "doc_id", url.alias("url"), page.alias("page"), status.alias("status")
    )


def _fd_warc(spark, pages):
    """Wrap pages as WARC/1.0 response records (gzip members for even
    ids, plain for odd — both container paths), one payload per doc."""
    import pandas as pd  # noqa: F401  (mapInPandas worker import)

    def build(batches):
        import gzip

        import pandas as pd

        for pdf in batches:
            payloads = []
            for did, url, page, status in zip(
                pdf["doc_id"], pdf["url"], pdf["page"], pdf["status"]
            ):
                body = page.encode("ascii", "replace")
                http = (
                    f"HTTP/1.1 {status}\r\nContent-Type: text/html\r\n"
                    f"Content-Length: {len(body)}\r\n\r\n"
                ).encode() + body
                rec = (
                    b"WARC/1.0\r\nWARC-Type: response\r\n"
                    + f"WARC-Record-ID: <urn:doc:{did}>\r\n".encode()
                    + f"WARC-Target-URI: {url}\r\n".encode()
                    + b"Content-Type: application/http;msgtype=response\r\n"
                    + f"Content-Length: {len(http)}\r\n\r\n".encode()
                    + http
                    + b"\r\n\r\n"
                )
                payloads.append(gzip.compress(rec) if did % 2 == 0 else rec)
            yield pd.DataFrame(
                {"asset_id": pdf["doc_id"], "payload": payloads}
            )

    # same gate as _fd_pages: the caller hands a checkpointed pages
    # table that already carries >= cores partitions on the bench path,
    # so the former unconditional repartition was a second full
    # exchange of the page bodies for nothing (round 13; the gzip wrap
    # below is row-local, values unchanged)
    want = spark.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < want:
        pages = pages.repartition(want)
    return pages.mapInPandas(build, "asset_id long, payload binary")


def _fd_probes(pages):
    """Probe catalog: mid-document 8-grams of the EXTRACTED text of
    every 20th page — staged before opening the front door. Probes
    derive from the HEAD-SURVIVING population only (the %97 classes
    are the 404 / link-farm docs the head gates drop), mirroring the
    oracles' probes CTEs which select from pg — a head-dropped doc
    whose mid-text gram recurs in a survivor must flag on NEITHER
    side or on BOTH."""
    from polars_matmul_spark.operators.html import strip_html
    from polars_matmul_spark.operators.text import tokens

    ext = pages.select("doc_id", strip_html(F.col("page")).alias("text"))
    toks = tokens(F.col("text"))
    return (
        ext.filter(~(F.col("doc_id") % 97).isin(1, 2))
        .filter(F.col("doc_id") % _FD_PROBE_EVERY == 0)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= _FD_PROBE_SKIP + _FD_N)
        .select(
            F.col("doc_id").alias("probe_id"),
            F.array_join(
                F.slice("toks", _FD_PROBE_SKIP + 1, _FD_N), " "
            ).alias("text"),
        )
    )


def _fd_stage_union(spark, state_root, epoch):
    """One epoch's six observable stage outputs as (stage, doc_id, fp,
    n_hits) rows, with the missing-epoch-dir fallback: a missing
    ``epoch=N`` dir is the documented "stage emitted nothing" state
    (front_door.STAGE_DIRS contract) — surfaced as an empty stage,
    not an AnalysisException."""
    from polars_matmul_spark.streaming.front_door import _epoch_output

    ep_schema = {
        "head": "doc_id long",
        "quota": "doc_id long",
        "excised": "doc_id long, text string",
        "minhash_corpus": "doc_id long",
        "clean": "doc_id long",
        "flagged": "doc_id long, probe_ids string, n_hits int",
    }

    def _ep(key):
        out = _epoch_output(spark, state_root, key, epoch)
        if out is None:
            out = spark.createDataFrame([], ep_schema[key])
        return out

    def _stage(df, name, fp=None, n_hits=None):
        return df.select(
            F.lit(name).alias("stage"),
            "doc_id",
            (fp if fp is not None else F.lit(None).cast("string")).alias(
                "fp"
            ),
            (
                n_hits if n_hits is not None else F.lit(0).cast("long")
            ).alias("n_hits"),
        )

    return (
        _stage(_ep("head"), "head")
        .unionByName(_stage(_ep("quota"), "quota"))
        .unionByName(_stage(_ep("excised"), "hygiene", fp=F.md5("text")))
        .unionByName(_stage(_ep("minhash_corpus"), "unique"))
        .unionByName(_stage(_ep("clean"), "clean"))
        .unionByName(
            _stage(
                _ep("flagged"),
                "flagged",
                fp=F.col("probe_ids"),
                n_hits=F.col("n_hits").cast("long"),
            )
        )
    )


def _fd_stage_union_epochs(spark, state_root):
    """ALL epochs' stage outputs as (stage, epoch, doc_id, fp, n_hits)
    rows: each stage dir is read ONCE at its root — the ``epoch``
    partition column carries the value the former per-epoch form
    injected with ``lit(ep)`` — instead of one read and one union
    branch per (stage, epoch) (round 13, guide §1.2: the two-epoch row
    planned 12 parquet read-backs and a 12-branch union here). A
    missing stage root, or a missing ``epoch=N`` under it, reproduces
    the documented "stage emitted nothing" absence exactly: no rows
    for that (stage, epoch). Any other read failure (a corrupt footer,
    an unreadable root) raises rather than reading as "no rows"."""
    import os

    from polars_matmul_spark.streaming.front_door import STAGE_DIRS
    from polars_matmul_spark.streaming.hygiene import read_or_empty

    ep_schema = {
        "head": "doc_id long",
        "quota": "doc_id long",
        "excised": "doc_id long, text string",
        "minhash_corpus": "doc_id long",
        "clean": "doc_id long",
        "flagged": "doc_id long, probe_ids string, n_hits int",
    }

    def _ep(key):
        path = os.path.join(state_root, STAGE_DIRS[key])
        return read_or_empty(spark, path, ep_schema[key] + ", epoch long")

    def _stage(df, name, fp=None, n_hits=None):
        return df.select(
            F.lit(name).alias("stage"),
            F.col("epoch").cast("long").alias("epoch"),
            "doc_id",
            (fp if fp is not None else F.lit(None).cast("string")).alias(
                "fp"
            ),
            (
                n_hits if n_hits is not None else F.lit(0).cast("long")
            ).alias("n_hits"),
        )

    return (
        _stage(_ep("head"), "head")
        .unionByName(_stage(_ep("quota"), "quota"))
        .unionByName(_stage(_ep("excised"), "hygiene", fp=F.md5("text")))
        .unionByName(_stage(_ep("minhash_corpus"), "unique"))
        .unionByName(_stage(_ep("clean"), "clean"))
        .unionByName(
            _stage(
                _ep("flagged"),
                "flagged",
                fp=F.col("probe_ids"),
                n_hits=F.col("n_hits").cast("long"),
            )
        )
    )


def _front_door_curation(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from polars_matmul_spark.streaming.front_door import front_door_batch

    root = tempfile.mkdtemp(prefix="fd_row_")
    state_root = os.path.join(root, "state")
    probes_dir = os.path.join(root, "probes")
    try:
        pages = _fd_pages(spark, sf_dir).localCheckpoint(eager=True)
        # probes write and WARC wrap are independent consumers of the
        # pinned pages: overlap them (round 13, guide §2.6)
        from polars_matmul_spark.streaming.hygiene import (
            commit_epoch_writes,
        )

        raw_cell = {}

        def _wrap_warc():
            raw_cell["raw"] = _fd_warc(spark, pages).localCheckpoint(
                eager=True
            )

        commit_epoch_writes(
            lambda: _fd_probes(pages)
            .write.mode("overwrite")
            .parquet(probes_dir),
            _wrap_warc,
        )
        raw = raw_cell["raw"]
        front_door_batch(
            spark,
            raw,
            0,
            state_root,
            probes_dir,
            max_per_domain=_FD_MAXDOM,
            line_min_docs=_FD_LINE_MIN,
            excise_k=_FD_K,
            excise_min_docs=_FD_EXCISE_MIN,
            excise_cms_width=_FD_CMS_GRAM_W,
            excise_cms_depth=_FD_CMS_GRAM_D,
            minhash_threshold=_FD_THRESH,
            decon_n=_FD_N,
            decon_hash="md5",
        )
        out = _fd_stage_union(spark, state_root, 0).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _fd_oracle() -> str:
    from polars_matmul_spark.queries_multimodal import _duck_strip_html
    from polars_matmul_spark.queries_text import (
        _excise_cms_hits_cte,
        _excise_reassembly_sql,
    )

    # variant-token bodies via one replace() over a '#' template — a
    # 40-term '||' chain trips DuckDB's binder recursion limit
    b_tpl = " ".join(f"bd#x{j}" for j in range(10))
    n_tpl = " ".join(f"nd#w{j}" for j in range(40))
    v_sql = "CAST(doc_id // 83 // 2 AS VARCHAR)"
    b_body = f"replace('{b_tpl}', '#', {v_sql})"
    n_body = f"replace('{n_tpl}', '#', {v_sql}) || ' uq' || doc_id"
    e_body = f"'{_FD_E_SPAN} eu' || doc_id || ' tail' || doc_id"
    # the excise replay over the line-clean CTE, embedded as a subquery
    # (its own WITH runs against lc)
    excise_sql = _excise_reassembly_sql(
        _excise_cms_hits_cte(_FD_CMS_GRAM_W, _FD_CMS_GRAM_D, _FD_EXCISE_MIN),
        _FD_K,
        src="lc",
    )
    w, d = _FD_CMS_LINE_W, _FD_CMS_LINE_D
    return rf"""
WITH RECURSIVE norm AS MATERIALIZED (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '[^\x00-\x7F]', '?', 'g'),
                        '[\x00-\x1F]', ' ', 'g') AS raw
  FROM documents
), pg AS MATERIALIZED (
  SELECT doc_id,
         '{_FD_PAGE_HEAD.replace("'", "''")}' || CASE
            WHEN doc_id % 83 = 5 THEN '{_FD_L_BODY}'
            WHEN doc_id % 83 = 6 THEN {b_body}
            WHEN doc_id % 83 = 7 THEN {n_body}
            WHEN doc_id % 83 = 8 THEN {e_body}
            ELSE raw
         END || '{_FD_PAGE_TAIL}' AS page
  FROM norm
  WHERE doc_id % 97 != 1 AND doc_id % 97 != 2
), ext AS MATERIALIZED (
  SELECT doc_id, {_duck_strip_html('page')} AS text,
         doc_id % {_FD_NDOM} AS dom
  FROM pg
), quota AS MATERIALIZED (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY dom ORDER BY doc_id) AS rk
    FROM ext
  ) WHERE rk <= {_FD_MAXDOM}
), lh AS MATERIALIZED (
  SELECT doc_id, text,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
         trim(text) = '' AS is_blank
  FROM quota
), lcnt AS MATERIALIZED (
  SELECT r.range AS row, (h1 + r.range * h2) % {w} AS col, SUM(n) AS n
  FROM (
    SELECT ('0x' || substr(md5(h), 1, 12))::BIGINT AS h1,
           ('0x' || substr(md5(h), 13, 12))::BIGINT * 2 + 1 AS h2,
           n
    FROM (SELECT h, count(DISTINCT doc_id) AS n
          FROM lh WHERE NOT is_blank GROUP BY h)
  ) CROSS JOIN range(0, {d}) r GROUP BY 1, 2
), lest AS MATERIALIZED (
  SELECT hh.h, MIN(coalesce(lcnt.n, 0)) AS est
  FROM (
    SELECT DISTINCT h,
           ('0x' || substr(md5(h), 1, 12))::BIGINT AS h1,
           ('0x' || substr(md5(h), 13, 12))::BIGINT * 2 + 1 AS h2
    FROM lh
  ) hh CROSS JOIN range(0, {d}) r
  LEFT JOIN lcnt ON lcnt.row = r.range
                AND lcnt.col = (hh.h1 + r.range * hh.h2) % {w}
  GROUP BY hh.h
), lc AS MATERIALIZED (
  SELECT lh.doc_id,
         CASE WHEN lest.est >= {_FD_LINE_MIN} AND NOT lh.is_blank
              THEN '' ELSE lh.text END AS text
  FROM lh JOIN lest ON lh.h = lest.h
), ex AS MATERIALIZED (
  {excise_sql}
), bl AS MATERIALIZED (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+',
                                             ' ', 'g'))
             ORDER BY doc_id
           ) AS rk
    FROM ex
  ) WHERE rk = 1
), mtok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM bl
), msh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in range(1, len(toks) - 1)]) AS shingles
  FROM mtok WHERE len(toks) >= 3
), mex AS (
  SELECT doc_id, unnest(shingles) AS s FROM msh
), mip AS MATERIALIZED (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM mex a JOIN mex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), msz AS (
  SELECT doc_id, len(shingles) AS n_sh FROM msh
), mp AS MATERIALIZED (
  SELECT d1, d2 FROM mip
  JOIN msz s1 ON d1 = s1.doc_id
  JOIN msz s2 ON d2 = s2.doc_id
  WHERE CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) >= {_FD_THRESH}
), medge AS (
  SELECT d1 AS a, d2 AS b FROM mp UNION SELECT d2, d1 FROM mp
), mreach AS (
  SELECT a, b FROM medge
  UNION
  SELECT r.a, e.b FROM mreach r JOIN medge e ON r.b = e.a
), mdrop AS (
  SELECT a AS doc_id FROM mreach GROUP BY a HAVING least(a, min(b)) != a
), uniq AS MATERIALIZED (
  SELECT doc_id, text FROM bl
  WHERE doc_id NOT IN (SELECT doc_id FROM mdrop)
), probes AS MATERIALIZED (
  SELECT doc_id AS probe_id,
         array_to_string(
           toks[{_FD_PROBE_SKIP + 1}:{_FD_PROBE_SKIP + _FD_N}], ' '
         ) AS ptext
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM ext WHERE doc_id % {_FD_PROBE_EVERY} = 0)
  WHERE len(toks) >= {_FD_PROBE_SKIP + _FD_N}
), dg AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{_FD_N - 1}], ' ') AS g
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM uniq) u,
       unnest(range(1, len(toks) - {_FD_N} + 2)) AS t(i)
  WHERE len(toks) >= {_FD_N}
), pgm AS (
  SELECT DISTINCT probe_id, md5(ptext) AS h FROM probes
), fhits AS MATERIALIZED (
  SELECT dg.doc_id, pgm.probe_id FROM dg JOIN pgm ON md5(dg.g) = pgm.h
), flag AS MATERIALIZED (
  SELECT doc_id, count(*) AS n_hits,
         array_to_string(list(DISTINCT probe_id ORDER BY probe_id), ':')
           AS probe_ids
  FROM fhits GROUP BY doc_id
)
SELECT 'head' AS stage, doc_id, CAST(NULL AS VARCHAR) AS fp,
       CAST(0 AS BIGINT) AS n_hits FROM ext
UNION ALL
SELECT 'quota', doc_id, NULL, 0 FROM quota
UNION ALL
SELECT 'hygiene', doc_id, md5(text), 0 FROM ex
UNION ALL
SELECT 'unique', doc_id, NULL, 0 FROM uniq
UNION ALL
SELECT 'clean', doc_id, NULL, 0 FROM uniq
  WHERE doc_id NOT IN (SELECT doc_id FROM flag)
UNION ALL
SELECT 'flagged', doc_id, probe_ids, n_hits FROM flag
"""


# --- two-epoch front door (round-12 promotion, the r11 verdict's ask
# #3): the ONE behavior the single-epoch row cannot gate is state
# carried ACROSS epochs. The same synthesized crawl is split by
# ARRIVAL ORDER — epoch 0 = doc_id < _FDE_SPLIT (the first pages
# crawled), epoch 1 = the rest — and front_door_batch runs twice over
# one shared state root. With cap _FDE_CAP = 10 the planted classes
# put one instance of every cross-epoch interaction ON the split:
#   quota      epoch-1 ranks continue epoch-0 history (per-domain
#              epoch-0 count <= 4 < cap at ANY SF, so the engine's
#              hist+rank rule equals one global arrival-order rank;
#              documented constraint: an overfull epoch 0 would make
#              engine hist = accepted count != the oracle's raw rank)
#   line CMS   the cls==5 boilerplate line: 2 copies in epoch 0
#              (kept: 2 < 3), 1 accepted copy in epoch 1 — epoch 1
#              strips it ONLY because the carried sketch makes 3
#   gram CMS   the cls==8 shared span: epoch-0 gram count 2 (kept),
#              epoch 1 adds 2 accepted copies -> excised in epoch 1
#              only via the carried sketch (4 >= 3, own count 2 < 3)
#   Bloom      the cls==6 exact pair (6, 89) straddles the split:
#              89 is rejected in epoch 1 against epoch-0 history
#              (within-batch collapse is gated in epoch 0 by the
#              cls==5 pair (5, 88) and by the single-epoch row)
#   MinHash    the cls==7 near-dup pair (7, 90) straddles: 90 is
#              rejected against the epoch-0 band index
# The oracle replays BOTH epochs with the arrival split applied:
# per-epoch CMS counters cumulated per deciding epoch (epoch e sees
# counters with ep <= e — history plus own batch, the hygiene
# protocol), Bloom history as a fingerprint anti-join, within-epoch
# connected components, and the cross-epoch candidate join against
# epoch-0 novel docs.
#
# Wall profile (sf0.1, cold session, timings hook): prep 8.0 s,
# epoch 0 21.7 s, epoch 1 17.1 s; per-sub-stage sums across epochs:
# excise 9.4, minhash 8.9, line_strip 5.8, quota 5.5, bloom 3.1,
# decon 2.8, head 2.5, ALL epoch-dir read-backs 0.93 s. First-epoch
# walls carry the one-time plan/codegen (quota 4.55 -> 0.93 s on
# epoch 1). Job-overhead-bound and SF-independent like the
# single-epoch row (quota caps deep stages at <= 250 docs at ANY SF);
# warm bench walls ~23-26 s.
_FDE_SPLIT = 89
_FDE_CAP = 10


def _front_door_epochs(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from polars_matmul_spark.streaming.front_door import front_door_batch

    root = tempfile.mkdtemp(prefix="fde_row_")
    state_root = os.path.join(root, "state")
    probes_dir = os.path.join(root, "probes")
    try:
        pages = _fd_pages(spark, sf_dir).localCheckpoint(eager=True)
        # probes write and WARC wrap overlap, as in the single-epoch
        # row (round 13, guide §2.6)
        from polars_matmul_spark.streaming.hygiene import (
            commit_epoch_writes,
        )

        raw_cell = {}

        def _wrap_warc():
            raw_cell["raw"] = _fd_warc(spark, pages).localCheckpoint(
                eager=True
            )

        commit_epoch_writes(
            lambda: _fd_probes(pages)
            .write.mode("overwrite")
            .parquet(probes_dir),
            _wrap_warc,
        )
        raw = raw_cell["raw"]
        for ep in (0, 1):
            batch = raw.filter(
                F.col("asset_id") < _FDE_SPLIT
                if ep == 0
                else F.col("asset_id") >= _FDE_SPLIT
            )
            front_door_batch(
                spark,
                batch,
                ep,
                state_root,
                probes_dir,
                max_per_domain=_FDE_CAP,
                line_min_docs=_FD_LINE_MIN,
                excise_k=_FD_K,
                excise_min_docs=_FD_EXCISE_MIN,
                excise_cms_width=_FD_CMS_GRAM_W,
                excise_cms_depth=_FD_CMS_GRAM_D,
                minhash_threshold=_FD_THRESH,
                decon_n=_FD_N,
                decon_hash="md5",
            )
        # one read per stage root covering both epochs (round 13) —
        # the epoch partition column carries the same values the
        # former per-epoch lit(ep) injected
        out = _fd_stage_union_epochs(spark, state_root).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _fde_cum_cms(
    p: str, width: int, depth: int, wc_sql: str, hsrc: str, h_str: str
) -> str:
    """The epoch-cumulative CMS replay fragment, factored ONCE for the
    two-epoch oracle's line and gram sketches (the single-epoch
    sibling of queries_text._excise_cms_hits_cte): given
    ``{p}wc(h, ep, n)`` per-epoch distinct-doc counts (``wc_sql``) and
    the h universe ``hsrc`` (hashed via ``h_str`` — the md5 argument
    differs between varchar line hashes and bigint gram hashes),
    derive per-epoch counters, cumulate them per DECIDING epoch
    (``ep <= e``: history plus own batch, the hygiene protocol), and
    min-fold into ``{p}est(h, ep, est)``. One copy, so a fix to the
    double-hash/cumulate/min-fold replay cannot drift between the
    line and gram paths."""
    return f"""{p}wc AS MATERIALIZED (
  {wc_sql}
), {p}hh AS MATERIALIZED (
  SELECT DISTINCT h,
         ('0x' || substr(md5({h_str}), 1, 12))::BIGINT AS h1,
         ('0x' || substr(md5({h_str}), 13, 12))::BIGINT * 2 + 1 AS h2
  FROM {hsrc}
), {p}cnt AS MATERIALIZED (
  SELECT w.ep, r.range AS row, (w.h1 + r.range * w.h2) % {width} AS col,
         SUM(w.n) AS n
  FROM (SELECT {p}wc.h, {p}wc.ep, {p}wc.n, {p}hh.h1, {p}hh.h2
        FROM {p}wc JOIN {p}hh USING (h)) w
  CROSS JOIN range(0, {depth}) r GROUP BY 1, 2, 3
), {p}cum AS MATERIALIZED (
  SELECT e.range AS ep, c.row, c.col, SUM(c.n) AS n
  FROM {p}cnt c JOIN range(0, 2) e ON c.ep <= e.range GROUP BY 1, 2, 3
), {p}est AS MATERIALIZED (
  SELECT hh.h, e.range AS ep, MIN(coalesce(cc.n, 0)) AS est
  FROM {p}hh hh CROSS JOIN range(0, {depth}) r CROSS JOIN range(0, 2) e
  LEFT JOIN {p}cum cc ON cc.ep = e.range AND cc.row = r.range
                     AND cc.col = (hh.h1 + r.range * hh.h2) % {width}
  GROUP BY hh.h, e.range
)"""


def _fde_oracle() -> str:
    from polars_matmul_spark.queries_multimodal import _duck_strip_html
    from polars_matmul_spark.queries_text import _excise_reassembly_sql

    b_tpl = " ".join(f"bd#x{j}" for j in range(10))
    n_tpl = " ".join(f"nd#w{j}" for j in range(40))
    v_sql = "CAST(doc_id // 83 // 2 AS VARCHAR)"
    b_body = f"replace('{b_tpl}', '#', {v_sql})"
    n_body = f"replace('{n_tpl}', '#', {v_sql}) || ' uq' || doc_id"
    e_body = f"'{_FD_E_SPAN} eu' || doc_id || ' tail' || doc_id"
    lw, ld = _FD_CMS_LINE_W, _FD_CMS_LINE_D
    gw, gd = _FD_CMS_GRAM_W, _FD_CMS_GRAM_D

    # epoch-aware gram-CMS hits: the shared cumulative replay over the
    # nested reassembly scope's ``g`` gram CTE, which joins the outer
    # ``lc`` for the doc's epoch
    gram_cum = _fde_cum_cms(
        "g",
        gw,
        gd,
        "SELECT g.h, lc.ep, COUNT(DISTINCT g.doc_id) AS n\n"
        "  FROM g JOIN lc ON g.doc_id = lc.doc_id GROUP BY g.h, lc.ep",
        "g",
        "CAST(h AS VARCHAR)",
    )
    hits_cte = f"""{gram_cum}, hits AS (
  SELECT g.doc_id, g.pos
  FROM g JOIN lc ON g.doc_id = lc.doc_id
  JOIN gest ON g.h = gest.h AND gest.ep = lc.ep
  WHERE gest.est >= {_FD_EXCISE_MIN}
)"""
    excise_sql = _excise_reassembly_sql(hits_cte, _FD_K, src="lc")
    line_cum = _fde_cum_cms(
        "l",
        lw,
        ld,
        "SELECT h, ep, count(DISTINCT doc_id) AS n\n"
        "  FROM lh WHERE NOT is_blank GROUP BY h, ep",
        "lh",
        "h",
    )
    return rf"""
WITH RECURSIVE norm AS MATERIALIZED (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '[^\x00-\x7F]', '?', 'g'),
                        '[\x00-\x1F]', ' ', 'g') AS raw
  FROM documents
), pg AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id < {_FDE_SPLIT} THEN 0 ELSE 1 END AS ep,
         '{_FD_PAGE_HEAD.replace("'", "''")}' || CASE
            WHEN doc_id % 83 = 5 THEN '{_FD_L_BODY}'
            WHEN doc_id % 83 = 6 THEN {b_body}
            WHEN doc_id % 83 = 7 THEN {n_body}
            WHEN doc_id % 83 = 8 THEN {e_body}
            ELSE raw
         END || '{_FD_PAGE_TAIL}' AS page
  FROM norm
  WHERE doc_id % 97 != 1 AND doc_id % 97 != 2
), ext AS MATERIALIZED (
  SELECT doc_id, ep, {_duck_strip_html('page')} AS text,
         doc_id % {_FD_NDOM} AS dom
  FROM pg
), qa AS MATERIALIZED (
  -- arrival-order quota: one global per-domain rank equals the
  -- engine's per-epoch rank + history count because every epoch-0
  -- domain count stays under the cap (see the comment block)
  SELECT doc_id, ep, text FROM (
    SELECT doc_id, ep, text,
           row_number() OVER (PARTITION BY dom ORDER BY doc_id) AS rk
    FROM ext
  ) WHERE rk <= {_FDE_CAP}
), lh AS MATERIALIZED (
  SELECT doc_id, ep, text,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
         trim(text) = '' AS is_blank
  FROM qa
), {line_cum}, lc AS MATERIALIZED (
  SELECT lh.doc_id, lh.ep,
         CASE WHEN lest.est >= {_FD_LINE_MIN} AND NOT lh.is_blank
              THEN '' ELSE lh.text END AS text
  FROM lh JOIN lest ON lh.h = lest.h AND lh.ep = lest.ep
), ex AS MATERIALIZED (
  {excise_sql}
), exe AS MATERIALIZED (
  SELECT ex.doc_id, lc.ep, ex.text
  FROM ex JOIN lc ON ex.doc_id = lc.doc_id
), bfp AS MATERIALIZED (
  SELECT doc_id, ep, text,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
  FROM exe
), bk AS MATERIALIZED (
  -- within-epoch exact collapse: lowest id per fingerprint
  SELECT doc_id, ep, text, fp FROM (
    SELECT *, row_number() OVER (
      PARTITION BY fp, ep ORDER BY doc_id
    ) AS rk FROM bfp
  ) WHERE rk = 1
), bl AS MATERIALIZED (
  -- epoch 1 additionally anti-joins epoch-0 accepted fingerprints
  SELECT doc_id, ep, text FROM bk WHERE ep = 0
  UNION ALL
  SELECT doc_id, ep, text FROM bk WHERE ep = 1
    AND fp NOT IN (SELECT fp FROM bk WHERE ep = 0)
), mtok AS (
  SELECT doc_id, ep, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM bl
), msh AS MATERIALIZED (
  SELECT doc_id, ep,
         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in range(1, len(toks) - 1)]) AS shingles
  FROM mtok WHERE len(toks) >= 3
), mex AS (
  SELECT doc_id, ep, unnest(shingles) AS s FROM msh
), msz AS (
  SELECT doc_id, len(shingles) AS n_sh FROM msh
), mip AS MATERIALIZED (
  SELECT a.doc_id AS d1, a.ep AS e1, b.doc_id AS d2, b.ep AS e2,
         COUNT(*) AS inter
  FROM mex a JOIN mex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), mp AS MATERIALIZED (
  SELECT d1, e1, d2, e2 FROM mip
  JOIN msz s1 ON d1 = s1.doc_id
  JOIN msz s2 ON d2 = s2.doc_id
  WHERE CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter)
        >= {_FD_THRESH}
), medge AS (
  SELECT e1 AS ep, d1 AS a, d2 AS b FROM mp WHERE e1 = e2
  UNION SELECT e1, d2, d1 FROM mp WHERE e1 = e2
), mreach AS (
  SELECT ep, a, b FROM medge
  UNION
  SELECT r.ep, r.a, e.b FROM mreach r
  JOIN medge e ON r.ep = e.ep AND r.b = e.a
), mdrop AS (
  SELECT ep, a AS doc_id FROM mreach
  GROUP BY ep, a HAVING least(a, min(b)) != a
), u0 AS MATERIALIZED (
  SELECT doc_id, text FROM bl WHERE ep = 0
    AND doc_id NOT IN (SELECT doc_id FROM mdrop WHERE ep = 0)
), reps1 AS MATERIALIZED (
  SELECT doc_id, text FROM bl WHERE ep = 1
    AND doc_id NOT IN (SELECT doc_id FROM mdrop WHERE ep = 1)
), xdrop AS (
  -- cross-epoch near-dup: epoch-1 reps matching any epoch-0 novel doc
  SELECT DISTINCT (CASE WHEN e1 = 1 THEN d1 ELSE d2 END) AS doc_id
  FROM mp
  WHERE e1 != e2
    AND (CASE WHEN e1 = 0 THEN d1 ELSE d2 END)
        IN (SELECT doc_id FROM u0)
    AND (CASE WHEN e1 = 1 THEN d1 ELSE d2 END)
        IN (SELECT doc_id FROM reps1)
), uniq AS MATERIALIZED (
  SELECT doc_id, 0 AS ep, text FROM u0
  UNION ALL
  SELECT doc_id, 1 AS ep, text FROM reps1
  WHERE doc_id NOT IN (SELECT doc_id FROM xdrop)
), probes AS MATERIALIZED (
  SELECT doc_id AS probe_id,
         array_to_string(
           toks[{_FD_PROBE_SKIP + 1}:{_FD_PROBE_SKIP + _FD_N}], ' '
         ) AS ptext
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM ext WHERE doc_id % {_FD_PROBE_EVERY} = 0)
  WHERE len(toks) >= {_FD_PROBE_SKIP + _FD_N}
), dgm AS (
  SELECT DISTINCT u.doc_id, u.ep,
         array_to_string(toks[i:i+{_FD_N - 1}], ' ') AS gm
  FROM (SELECT doc_id, ep,
               regexp_split_to_array(trim(text), '\s+') AS toks
        FROM uniq) u,
       unnest(range(1, len(toks) - {_FD_N} + 2)) AS t(i)
  WHERE len(toks) >= {_FD_N}
), pgm AS (
  SELECT DISTINCT probe_id, md5(ptext) AS h FROM probes
), fhits AS MATERIALIZED (
  SELECT dgm.doc_id, dgm.ep, pgm.probe_id
  FROM dgm JOIN pgm ON md5(dgm.gm) = pgm.h
), flag AS MATERIALIZED (
  SELECT doc_id, ep, count(*) AS n_hits,
         array_to_string(list(DISTINCT probe_id ORDER BY probe_id), ':')
           AS probe_ids
  FROM fhits GROUP BY doc_id, ep
)
SELECT 'head' AS stage, CAST(ep AS BIGINT) AS epoch, doc_id,
       CAST(NULL AS VARCHAR) AS fp, CAST(0 AS BIGINT) AS n_hits FROM ext
UNION ALL
SELECT 'quota', ep, doc_id, NULL, 0 FROM qa
UNION ALL
SELECT 'hygiene', ep, doc_id, md5(text), 0 FROM exe
UNION ALL
SELECT 'unique', ep, doc_id, NULL, 0 FROM uniq
UNION ALL
SELECT 'clean', ep, doc_id, NULL, 0 FROM uniq
  WHERE doc_id NOT IN (SELECT doc_id FROM flag)
UNION ALL
SELECT 'flagged', ep, doc_id, probe_ids, n_hits FROM flag
"""


PIPELINE_QUERIES: dict[str, tuple] = {
    # tfidf_weights rotated out in round 6: bm25_search drives the same
    # tokenize/df/idf machinery end-to-end and stays green; the exact
    # tf-idf value comparison moves to test_oracle_parity's
    # rotated-query gate, freeing the slot for ivfpq_adc_topk
    # (queries_datapipe.py).
    # bm25_search rotated out in the round-9 second wave: the BM25
    # machinery (tokenize/df/idf/dl/avgdl + scoring) runs driver-gated
    # end-to-end inside hybrid_rrf_search's two lexical legs, and the
    # standalone row keeps its exact value comparison in
    # test_oracle_parity's rotated-query gate. Slot freed for
    # decontaminate_docs (queries_text.py).
    "chunk_documents": (_chunk_docs, _CHUNK_ORACLE),
    # profile_lineitem rotated out in round 8 (profile_diff below runs
    # profile_table twice and diffs it — the same mechanism, strictly
    # more of it; exact value comparison moves to the rotated-query
    # gate) so the MPEG-1 Layer I payload decoder gets a driver row
    # (queries_multimodal.py):
    # hash_split_docs rotated out in round 5 (the md5-bucket split
    # contract is pinned by tests/test_sampling_and_packing.py and the
    # same hash_bucket mechanism stays driver-gated through
    # dsir_resample and bloom_incremental_dedup; the function remains
    # above) so the winnowing / retention / hard-negative families get
    # driver rows.
    # round-4 rotation (explode_embedding + q6_forecast_revenue out —
    # their operator classes are covered by matmul_flatten/mm_frame_
    # sample and q1 respectively): CDC/SCD2 and int8-rerank families in
    "scd2_customers": (_scd2_customers, _SCD2_ORACLE),
    "quantized_topk_rerank": (_quantized_rerank, _QUANTIZED_RERANK_ORACLE),
    # round-7 second rotation: drift gate + MERGE emulation get driver
    # rows (slots from top_suppliers_per_nation / zorder_keys /
    # hypertable_rollup, whose exact comparisons move to the rotated
    # pytest gate):
    "profile_diff": (_profile_diff_orders, _PROFILE_DIFF_ORACLE),
    "merge_upsert": (_merge_upsert_customers, _MERGE_UPSERT_ORACLE),
    # round-9 second wave: hybrid retrieval + late interaction (slots
    # freed by rotating pq_adc_topk — its PQ-table + ADC mechanism stays
    # driver-gated through ivfpq_adc_topk — and strip_within_doc — the
    # line-dedup family keeps line_dedup_strip + cms_line_dedup driver
    # rows; both keep exact comparisons in the rotated pytest gate)
    "hybrid_rrf_search": (_hybrid_rrf_search, _HYBRID_ORACLE),
    "maxsim_multivector_topk": (_maxsim_multivector_topk, _MAXSIM_ORACLE),
    # round-10 promotion: retrieval evaluation composed onto the hybrid
    # run (slot freed by rotating line_dedup_strip — the line-dedup
    # family keeps cms_line_dedup driver-gated; the exact variant keeps
    # its full value comparison in the rotated pytest gate):
    "rank_eval_hybrid": (_rank_eval_hybrid, _rank_eval_oracle()),
    # round 11: the composed streaming front door gets a driver row
    # (slot freed by rotating bloom_incremental_dedup — its Bloom gate
    # runs driver-gated INSIDE this chain's exact-dedup stage):
    "front_door_curation": (_front_door_curation, _fd_oracle()),
    # round 12: the TWO-epoch front door (_front_door_epochs above)
    # gates cross-epoch state carry-over — quota history, accumulated
    # CMS sketches, Bloom bitmap, MinHash band index. It lives in the
    # rotated pytest gate (test_oracle_parity) rather than this
    # registry: the driver caps at 50 rows and the optimization-round
    # contract forbids removing any round-11 declared query
    # (mixture_sample was briefly rotated out for it and is restored).
}
