"""``.pmm`` expression namespace — the reference's documented call shape.

The reference registers a ``pmm`` namespace on every Polars expression
(``@pl.api.register_expr_namespace("pmm")``, reference
python/polars_matmul/__init__.py:39-40) so users write::

    df.with_columns(pl.col("embedding").pmm.topk(corpus["embedding"], k=5))

Spark has no official Column-namespace registry, but Column is a plain
Python class, so the same ergonomic attaches as a property — the exact
mechanism Polars' ``register_expr_namespace`` uses under the hood.
After ``register_pmm_namespace()`` (called on package import) the
README example runs verbatim modulo the Spark spelling::

    from pyspark.sql import functions as F
    import polars_matmul_spark  # registers .pmm on Column

    df.withColumn("matches", F.col("embedding").pmm.topk(corpus, k=5))

The namespace is a thin delegate to :mod:`polars_matmul_spark.functions`
— the same Arrow UDFs that ``topk_arrow`` / ``matmul_arrow`` project,
so the same semantics (null vector -> zeros, data NaN propagates), the
same broadcast-corpus contract (TypeError on a Column/DataFrame corpus,
one broadcast per distinct corpus shared with every other entry form),
and the same declared return types.
"""

from __future__ import annotations

from pyspark.sql import Column

from polars_matmul_spark.functions import similarity as _S

__all__ = ["PmmNamespace", "register_pmm_namespace"]


class PmmNamespace:
    """Similarity-search namespace over one expression, mirroring the
    reference's ``PmmNamespace`` (python/polars_matmul/__init__.py:40-196).
    """

    def __init__(self, col: Column):
        self._col = col

    def topk(self, corpus, k: int, metric: str = "cosine") -> Column:
        """Top-k matches against a broadcast corpus:
        ``array<struct<index: long, score: double>>``, best-first.
        Reference: ``Expr.pmm.topk`` (python/polars_matmul/__init__.py:63-119).
        """
        return _S.topk(self._col, corpus, k, metric)

    def matmul(self, corpus, flatten: bool = False, input_is_f32: bool = False) -> Column:
        """All-pairs dot products against a broadcast corpus (one score
        array per query row). ``flatten=True`` returns a generator
        expression: ``df.select(col.pmm.matmul(corpus, flatten=True))``
        yields the reference's n_q * n_c row-major flat scores — the
        one-call port of the reference's flatten mode. Reference:
        ``Expr.pmm.matmul`` (python/polars_matmul/__init__.py:121-196).
        """
        return _S.matmul(self._col, corpus, flatten=flatten, input_is_f32=input_is_f32)


def register_pmm_namespace(name: str = "pmm") -> None:
    """Attach the namespace as a ``Column.pmm`` property (idempotent)."""
    if getattr(Column, name, None).__class__ is property:
        return
    setattr(Column, name, property(PmmNamespace))
