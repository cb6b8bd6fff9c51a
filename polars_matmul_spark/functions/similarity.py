"""Similarity matmul / top-k as Spark Column functions — the
reference-faithful "broadcast corpus" path.

Maps the reference plugin surface (python/polars_matmul/__init__.py:63-196)
to idiomatic Spark:

- the corpus is a *materialized* host object (NumPy matrix), exactly as
  the reference requires a materialized ``pl.Series`` and rejects
  expressions with TypeError (python/polars_matmul/__init__.py:109-114).
  Here it ships to executors as a SparkContext broadcast — the
  distributed analog of the reference's broadcast-by-closure — made
  once per distinct matrix (:func:`_broadcast`), so repeated calls
  against one corpus, in any entry form, share it.
- Arrow is the only batch format between Spark and the NumPy kernels:
  one decoder (:func:`arrow_list_to_matrix`, the analog of the
  reference's zero-copy matrix extraction, src/matmul.rs:21-95), one
  per-batch function per operator (:func:`topk_batch`,
  :func:`matmul_batch`) that runs the BLAS kernel (the Spark analog of
  the reference's GIL-released Rust/faer call, src/lib.rs:45,
  src/metrics.rs:85-93) and encodes the result as flat buffers under
  one offsets vector. The Column forms (``topk``/``matmul``, and so
  ``.pmm``) are Arrow UDFs; the DataFrame forms
  (``topk_arrow``/``matmul_arrow``) are projections over those same
  UDFs. Only a batch whose output could pass 2^31 list elements, which
  an Arrow UDF cannot return, goes through the ``mapInArrow`` plumbing
  :func:`map_arrow_batches` instead.
- output schemas are DECLARED to Catalyst via returnType, like the
  reference's return_dtype declaration (python/polars_matmul/__init__.py:118).
- scalar Arrow UDFs are elementwise (row-preserving), so Catalyst pushes
  filters and column pruning below them — the is_elementwise=True
  analog: a filter on a query column after ``matmul_arrow`` runs before
  the kernel, and a ``count()`` does not run the kernel at all.

Scale note (100 TB): this path requires the corpus to fit in executor
memory (same constraint as the reference's single-node Series). Queries
are partitioned across executors, corpus broadcast once per executor —
embarrassingly parallel, no shuffle at all. For corpora beyond broadcast
size, use ``polars_matmul_spark.operators.similarity_join`` (the
partitioned crossJoin+window exact path) or ``operators.ann`` (IVF/LSH).
"""

from __future__ import annotations

import hashlib
from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from polars_matmul_spark import kernels as K

__all__ = [
    "matmul",
    "matmul_arrow",
    "matmul_flatten",
    "matmul_flatten_series",
    "topk",
    "topk_arrow",
    "topk_exploded",
    "corpus_to_matrix",
    "arrow_list_to_matrix",
    "rows_to_list_array",
    "map_arrow_batches",
    "topk_batch",
    "matmul_batch",
]


TOPK_ELEMENT = T.StructType(
    [
        # reference index is u32 (src/matmul.rs:482); Spark has no unsigned
        # ints, so we use long — safe past 2^31 corpus rows (SURVEY §7.4)
        T.StructField("index", T.LongType(), False),
        # score is ALWAYS f64, even on the f32 path (src/matmul.rs:446-447)
        T.StructField("score", T.DoubleType(), False),
    ]
)
TOPK_TYPE = T.ArrayType(TOPK_ELEMENT, containsNull=False)


def corpus_to_matrix(corpus) -> np.ndarray:
    """Materialize a corpus argument into a dense 2-D ndarray.

    Accepts ndarray (n, d), pandas Series of vectors, or a list of
    vectors. Spark Columns / DataFrames are rejected with TypeError,
    mirroring the reference's Series-only contract
    (python/polars_matmul/__init__.py:109-114, 159-163).
    """
    if isinstance(corpus, (Column, DataFrame)):
        raise TypeError(
            "corpus must be a materialized matrix (numpy ndarray, pandas "
            "Series, or list of vectors), not a Spark Column/DataFrame. "
            "Collect it first (it must fit in memory — that is the "
            "contract of the broadcast path), or use "
            "polars_matmul_spark.operators.similarity_join for the "
            "fully-distributed exact path."
        )
    if isinstance(corpus, np.ndarray):
        if corpus.ndim != 2:
            corpus = K.to_matrix(list(corpus))
        mat = corpus
    elif isinstance(corpus, pd.Series):
        mat = K.to_matrix(corpus.tolist())
    elif isinstance(corpus, Iterable):
        mat = K.to_matrix(list(corpus))
    else:
        raise TypeError(f"Unsupported corpus type: {type(corpus).__name__}")
    if mat.shape[0] == 0:
        # reference: empty corpus errors with "Empty series" (src/matmul.rs:134)
        raise ValueError("Empty series: corpus has no rows")
    return mat


def _active_sc():
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("No active SparkSession")
    return spark.sparkContext


def _broadcast(sc, M: np.ndarray):
    """``sc.broadcast(M)``, reused while the same matrix comes back: the
    SparkContext keeps the broadcast of the LAST matrix it was given,
    keyed by dtype, shape and the SHA-256 of the contiguous bytes. Calls
    and entry forms against one corpus share one broadcast (one driver
    temp file, one loaded copy per reused Python worker); a different
    matrix, or one changed in place, hashes to a new key and replaces
    the entry, so at most one corpus outlives its plans. The cost when
    every call brings a new matrix is the hash, ~1 ms per MB. No lock:
    two threads racing on one new matrix each broadcast it, as they
    would without the cache, and never wait on each other.
    """
    M = np.ascontiguousarray(M)
    key = (M.dtype.str, M.shape, hashlib.sha256(M).digest())
    last = getattr(sc, "_pmm_broadcast", None)
    if last is not None and last[0] == key:
        return last[1]
    bc = sc.broadcast(M)
    sc._pmm_broadcast = (key, bc)
    return bc


def arrow_list_to_matrix(arr, dtype=None, expected_dim=None) -> np.ndarray:
    """Arrow list column -> dense (n, d) matrix, reading the flat child
    buffer directly — the closest Spark gets to the reference's
    zero-copy contiguous extraction (src/matmul.rs:21-95): one
    ``reshape`` over the values buffer, no pandas, no per-row objects.
    Falls back to the careful row loop for ragged/null rows.

    This is the one batch decoder between Spark and the kernels. Its
    null rule: a null element or a null vector becomes 0.0
    (src/matmul.rs:192, 224, 251); a data NaN is a value, not a null,
    and propagates into the NaN-safe top-k like the reference
    (src/topk.rs:19-29).
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.empty((0, 0), dtype=dtype or np.float64)
    offsets = arr.offsets.to_numpy()
    widths = np.diff(offsets)
    if arr.null_count == 0 and arr.values.null_count == 0 and (widths == widths[0]).all():
        values = arr.values.to_numpy(zero_copy_only=True)
        mat = values[offsets[0] : offsets[-1]].reshape(n, int(widths[0]))
        if dtype is not None:
            mat = mat.astype(dtype, copy=False)
        elif not np.issubdtype(mat.dtype, np.floating):
            mat = mat.astype(np.float64)
        return mat
    # distributed deviation from the reference's "First element is
    # null" rule (src/matmul.rs:238): a partition-local batch can start
    # with a null row even when the dataset has valid rows, so the
    # width is inferred from the first VALID row; only an all-null
    # batch is unrecoverable.
    rows = arr.to_pylist()
    first_valid = next((r for r in rows if r is not None), None)
    if first_valid is None:
        # an entirely-null batch: the width comes from the corpus when
        # the caller knows it (null vectors are zero vectors per
        # src/matmul.rs:251); without it the batch is unrecoverable
        if expected_dim is None:
            raise ValueError("First element is null")
        return np.zeros((n, expected_dim), dtype=dtype or np.float64)
    if rows[0] is None:
        rows = [first_valid] + rows[1:]
        mat = K.to_matrix(rows, dtype=dtype)
        mat[0, :] = 0.0
        return mat
    return K.to_matrix(rows, dtype=dtype)


# Spark's Arrow lists carry 32-bit offsets: one batch's output must
# stay under this many list elements
_LIST_LIMIT = 2**31 - 1


def rows_to_list_array(child: pa.Array, n: int, list_type: pa.ListType) -> pa.ListArray:
    """``n`` equal-width lists over the flat ``child`` buffer (row-major,
    ``len(child) // n`` elements each): the one encoder from kernel
    output to an Arrow list column — an offsets vector, zero per-row
    Python. ``list_type`` is the exact Arrow form of the declared Spark
    type, non-nullable fields included, so no cast runs downstream.
    Raises ValueError when the offsets would pass :data:`_LIST_LIMIT`
    rather than let them wrap."""
    width = len(child) // n if n else 0
    if n * width > _LIST_LIMIT:
        raise ValueError(
            f"{n} rows x {width} list elements pass Spark's 32-bit Arrow list "
            f"offsets ({_LIST_LIMIT}); lower spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * width, type=pa.int32())
    return pa.ListArray.from_arrays(offsets, child, type=list_type)


_TOPK_ARROW = to_arrow_type(TOPK_TYPE)


def topk_batch(Q: np.ndarray, C: np.ndarray, k: int, metric: str) -> pa.ListArray:
    """One query batch -> its ``TOPK_TYPE`` column: the fused kernel
    (f32 iff BOTH sides f32, src/matmul.rs:307-314) with flat
    index/score buffers under one offsets vector."""
    Q = Q.astype(K.promote_dtype(Q.dtype, C.dtype), copy=False)
    idx, sc = K.topk(Q, C, k, metric)
    struct_type = _TOPK_ARROW.value_type
    matches = pa.StructArray.from_arrays(
        [
            pa.array(idx.ravel(), type=pa.int64()),
            pa.array(sc.ravel(), type=pa.float64()),
        ],
        fields=list(struct_type),
    )
    return rows_to_list_array(matches, len(Q), _TOPK_ARROW)


def _matmul_type(out_np) -> T.ArrayType:
    elem = T.FloatType() if out_np == np.float32 else T.DoubleType()
    return T.ArrayType(elem, containsNull=False)


def matmul_batch(Q: np.ndarray, C: np.ndarray, out_np) -> pa.ListArray:
    """One query batch -> its ``array<float|double>`` column of all-pairs
    dot products (one flat (n, n_corpus) values buffer)."""
    list_type = to_arrow_type(_matmul_type(out_np))
    S = K.similarity_matrix(Q.astype(out_np, copy=False), C.astype(out_np, copy=False), "dot")
    values = pa.array(S.ravel().astype(out_np, copy=False), type=list_type.value_type)
    return rows_to_list_array(values, len(Q), list_type)


def map_arrow_batches(
    df: DataFrame,
    emb_col: str,
    M: np.ndarray,
    batch_fn,
    out_field: T.StructField,
    dtype=None,
    row_width: int = 1,
) -> DataFrame:
    """The one ``mapInArrow`` plumbing behind every batch kernel over an
    embedding column: broadcast ``M``, decode each batch's ``emb_col``
    with :func:`arrow_list_to_matrix` (in ``dtype``, if given), and
    emit ``batch_fn(Q, M)`` as ``out_field`` in place of ``emb_col``;
    all other columns pass through unchanged.

    ``row_width`` is the number of list elements each output row
    carries: Spark only accepts 32-bit-offset lists from mapInArrow, so
    rows per emitted batch are capped to keep ``n * row_width`` under
    :data:`_LIST_LIMIT`.
    """
    bc = _broadcast(df.sparkSession.sparkContext, M)
    passthrough = [f.name for f in df.schema.fields if f.name != emb_col]
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != emb_col] + [out_field]
    )
    names = passthrough + [out_field.name]
    step = max(1, (_LIST_LIMIT - 1) // max(row_width, 1))

    def fn(batches):
        M = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            Q = arrow_list_to_matrix(rb.column(emb_col), dtype, expected_dim=M.shape[1])
            for lo in range(0, rb.num_rows, step):
                sub = rb.slice(lo, step)
                out = batch_fn(Q[lo : lo + sub.num_rows], M)
                yield pa.RecordBatch.from_arrays(
                    [sub.column(name) for name in passthrough] + [out], names=names
                )

    return df.mapInArrow(fn, out_schema)


def topk(col, corpus, k: int, metric: str = "cosine") -> Column:
    """Fused similarity top-k against a broadcast corpus.

    Returns ``array<struct<index: long, score: double>>`` sorted
    best-first (direction per metric), with k clamped to n_corpus.
    Reference: Expr.pmm.topk (python/polars_matmul/__init__.py:63-119,
    src/matmul.rs:419-519).
    """
    K._canonical_metric(metric)  # validate eagerly, like the Python wrapper
    mat = corpus_to_matrix(corpus)
    bc = _broadcast(_active_sc(), mat)
    kk = int(k)

    def _topk_udf(arr: pa.Array) -> pa.Array:
        C = bc.value
        Q = arrow_list_to_matrix(arr, expected_dim=C.shape[1])
        return topk_batch(Q, C, kk, metric)

    return F.arrow_udf(_topk_udf, TOPK_TYPE)(col)


def _matmul_out_dtype(input_is_f32: bool, mat: np.ndarray):
    return K.promote_dtype(np.float32 if input_is_f32 else np.float64, mat.dtype)


def matmul(col, corpus, flatten: bool = False, input_is_f32: bool = False) -> Column:
    """All-pairs dot products: for each query row, an array of scores
    against every corpus row (``Q @ C.T`` row).

    Output element type follows the promotion rule from BOTH sides
    (f32 iff both sides f32, src/matmul.rs:307-314) — fixing the
    reference's corpus-only-dtype wrinkle (SURVEY §1.2). Because a bare
    Column's dtype is unknown at plan time, the caller asserts the input
    width with ``input_is_f32`` (the DataFrame helpers in
    ``operators.similarity`` resolve it from the schema automatically).

    ``flatten=True`` returns a generator expression
    (``explode(matmul(...))``): used in a ``select``/``withColumn`` it
    yields one row per (query, corpus) pair in the reference's
    row-major order — the Column-level analog of Polars'
    ``map_batches(is_elementwise=False)``
    (python/polars_matmul/__init__.py:173-187). Spark's generator
    restrictions apply (one generator per select list, not nestable
    inside other expressions); for multi-generator plans or to carry
    query ids through shuffles use :func:`matmul_flatten` /
    :func:`matmul_flatten_series`.
    """
    if flatten:
        return F.explode(matmul(col, corpus, input_is_f32=input_is_f32))
    mat = corpus_to_matrix(corpus)
    bc = _broadcast(_active_sc(), mat)
    out_np = _matmul_out_dtype(input_is_f32, mat)

    def _matmul_udf(arr: pa.Array) -> pa.Array:
        C = bc.value
        Q = arrow_list_to_matrix(arr, out_np, expected_dim=C.shape[1])
        return matmul_batch(Q, C, out_np)

    return F.arrow_udf(_matmul_udf, _matmul_type(out_np))(col)


def matmul_flatten(
    df: DataFrame,
    col,
    corpus,
    out_col: str = "score",
    keep: list[str] | None = None,
    input_is_f32: bool = False,
) -> DataFrame:
    """``matmul(flatten=True)`` analog: one row per (query, corpus) pair
    in row-major (query-major) order — n_q * n_c rows total.

    The reference implements this as an is_elementwise=False map_batches
    (python/polars_matmul/__init__.py:173-187). In Spark the idiomatic
    equivalent is matmul + posexplode — Catalyst knows the row count
    changes and plans accordingly (SURVEY §2.1 N2). ``keep`` preserves
    query-id columns so row-major order is recoverable after shuffles.
    """
    nested = matmul(col, corpus, input_is_f32=input_is_f32)
    return df.select(*(keep or []), F.posexplode(nested).alias("corpus_index", out_col))


def matmul_flatten_series(
    df: DataFrame,
    col,
    corpus,
    out_col: str = "score",
    input_is_f32: bool = False,
) -> DataFrame:
    """The reference's column-level ``matmul(flatten=True)`` ported 1:1
    (python/polars_matmul/__init__.py:173-187, test
    tests/test_polars_matmul.py:204-222): a single-column DataFrame of
    ``n_q * n_c`` scores in row-major (query-major) order, element type
    following the f32-iff-both-f32 promotion rule.

    Order note: explode preserves intra-partition row order and
    ``collect()`` concatenates partitions in order, so with no shuffle
    between this call and the collect the reference's global row-major
    order holds exactly — the same contract as Polars' ``to_numpy()``
    interop use. If a shuffle may intervene, use :func:`matmul_flatten`
    with ``keep=[query_id]`` and sort.
    """
    return matmul_flatten(
        df, col, corpus, out_col=out_col, input_is_f32=input_is_f32
    ).select(out_col)


def _udf_batch_fits(df: DataFrame, row_width: int) -> bool:
    """Whether one Arrow batch of kernel output — ``row_width`` list
    elements per row, ``spark.sql.execution.arrow.maxRecordsPerBatch``
    rows, read at plan time — stays under :data:`_LIST_LIMIT`. An Arrow
    UDF cannot return a batch that does not; the DataFrame forms then
    take the row-slicing :func:`map_arrow_batches` path."""
    batch = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    return batch > 0 and row_width * batch < _LIST_LIMIT


def _projected(df: DataFrame, emb_col: str, kernel, out_col: str) -> DataFrame:
    """``df`` with ``emb_col`` replaced by ``kernel(<emb_col column>)``
    as ``out_col``, the other columns first and in order: a plain
    projection, so Catalyst pushes filters and column pruning below the
    kernel."""

    def col(name):
        return F.col("`" + name.replace("`", "``") + "`")

    others = [col(name) for name in df.columns if name != emb_col]
    return df.select(*others, kernel(col(emb_col)).alias(out_col))


def topk_arrow(
    df: DataFrame,
    emb_col: str,
    corpus,
    k: int,
    metric: str = "cosine",
    out_col: str = "matches",
) -> DataFrame:
    """Fused top-k over a DataFrame — :func:`topk` as a projection, with
    ``out_col`` replacing ``emb_col`` and every other column passed
    through: same batch function, semantics and element type, and
    filters on the other columns run before the kernel. A batch too
    wide for one Arrow list goes through :func:`map_arrow_batches`
    instead, with the same rows and the same schema: on both paths the
    output column is nullable, as every Python UDF result is.
    """
    K._canonical_metric(metric)
    mat = corpus_to_matrix(corpus)
    kk = int(k)
    width = min(kk, mat.shape[0])
    if _udf_batch_fits(df, width):
        return _projected(df, emb_col, lambda c: topk(c, mat, kk, metric), out_col)
    return map_arrow_batches(
        df,
        emb_col,
        mat,
        lambda Q, C: topk_batch(Q, C, kk, metric),
        T.StructField(out_col, TOPK_TYPE, True),
        row_width=width,
    )


def matmul_arrow(
    df: DataFrame,
    emb_col: str,
    corpus,
    input_is_f32: bool = False,
    out_col: str = "scores",
) -> DataFrame:
    """All-pairs matmul over a DataFrame — :func:`matmul` as a
    projection, with ``out_col`` replacing ``emb_col`` and every other
    column passed through: same batch function, semantics and output
    type, and a filter on the other columns runs before the kernel, so
    only the kept rows' (n, n_corpus) scores cross back from Python.
    Each batch leaves as ONE flat Arrow values buffer plus an offsets
    vector. A batch too wide for one Arrow list goes through
    :func:`map_arrow_batches` instead, with the same rows and the same
    schema: on both paths the output column is nullable, as every
    Python UDF result is.
    """
    mat = corpus_to_matrix(corpus)
    out_np = _matmul_out_dtype(input_is_f32, mat)
    if _udf_batch_fits(df, mat.shape[0]):
        return _projected(df, emb_col, lambda c: matmul(c, mat, input_is_f32=input_is_f32), out_col)
    return map_arrow_batches(
        df,
        emb_col,
        mat,
        lambda Q, C: matmul_batch(Q, C, out_np),
        T.StructField(out_col, _matmul_type(out_np), True),
        dtype=out_np,
        row_width=mat.shape[0],
    )


def topk_exploded(
    df: DataFrame,
    col,
    corpus,
    k: int,
    metric: str = "cosine",
    keep: list[str] | None = None,
) -> DataFrame:
    """Convenience: topk -> inline (explode+unnest in one) — the
    README's documented retrieval pattern (reference README.md:110-124,
    tests/test_polars_matmul.py:55-75) as a single call.

    Returns one row per (query, match) with ``index`` and ``score``
    columns plus any ``keep`` passthrough columns.
    """
    keep = keep or []
    matches = topk(col, corpus, k, metric)
    return df.select(*keep, F.inline(matches))
