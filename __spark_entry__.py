"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship similarity-search query (the
reference's headline operator: fused cosine top-k + explode/unnest +
metadata join-back, reference README.md:110-124) on sf0.001.
``queries()`` / ``oracle_sql()`` expose the full registry
(polars_matmul_spark.registry) for the DuckDB correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: kernel top-k (Arrow UDF + broadcast corpus path) over
    sf0.001 embeddings — queries vs corpus split of the table, k=5
    cosine, exploded matches joined back to corpus labels."""
    from pyspark.sql import functions as F

    from polars_matmul_spark.functions import topk_exploded
    from polars_matmul_spark.kernels import to_matrix
    from polars_matmul_spark.plans.session import ship_package

    ship_package(spark)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus_pdf = (
        emb.filter(F.col("vec_id") >= 50)
        .select("vec_id", "embedding", "label")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    corpus = to_matrix(corpus_pdf["embedding"].tolist())
    matches = topk_exploded(
        queries_df, F.col("embedding"), corpus, k=5, metric="cosine", keep=["query_id"]
    )
    meta = spark.createDataFrame(
        corpus_pdf[["vec_id", "label"]].assign(index=range(len(corpus_pdf)))
    )
    return (
        matches.join(F.broadcast(meta), "index", "left")
        .select("query_id", "index", "vec_id", "label", "score")
        .orderBy("query_id", F.desc("score"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from polars_matmul_spark.plans.session import ship_package
    from polars_matmul_spark.registry import queries as _queries

    def _wrap(fn):
        def run(spark, sf_dir, _fn=fn):
            ship_package(spark)
            return _fn(spark, sf_dir)

        return run

    return {name: _wrap(fn) for name, fn in _queries().items()}


def oracle_sql() -> dict[str, str]:
    from polars_matmul_spark.registry import oracles as _oracles

    return _oracles()
