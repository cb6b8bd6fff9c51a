"""Pure-NumPy similarity kernels — the numeric core of the engine.

Replicates the semantics of the reference's native kernels
(reference: ``src/metrics.rs``, ``src/topk.rs``, ``src/matmul.rs`` in
NivekNey/polars-matmul) without any Spark dependency, so they are
unit-testable standalone and reusable from the Arrow batch functions
(``functions.similarity``), the blocked join's ``mapInArrow`` stage,
and the benchmark harness.

Semantics preserved exactly (cited against the reference):

- metrics ``dot`` / ``cosine`` / ``euclidean`` (alias ``l2``), with
  ``cosine`` zero-norm guard -> score 0.0 using eps 1e-10 (f64) / 1e-6
  (f32)   [src/metrics.rs:24, 267-310, 323-364]
- euclidean clamps negative squared distances: sqrt(max(0, .))
  [src/metrics.rs:305, 358]
- ``higher_is_better``: True for dot/cosine, False for euclidean
  [src/metrics.rs:30-35]
- f32 compute path iff BOTH sides are f32, else promote to f64
  [src/matmul.rs:13-19, 307-314]
- top-k scores are ALWAYS emitted as f64, even on the f32 path
  [src/matmul.rs:446-447]
- k > n_corpus silently clamped [src/matmul.rs:443, 463]
- top-k selection is O(n) and NaN never wins or panics
  [src/topk.rs:6-75]: a bound from 16k strided group maxima leaves
  about k candidates per row to sort, with ties by index ascending;
  a call it cannot prune (constant or heavily tied rows, or a corpus
  of fewer than 32·k rows) takes a full-row argpartition, ties
  arbitrary there as in the reference's quickselect
- null elements inside a vector -> 0.0 [src/matmul.rs:192, 224, 251, 282]
- empty corpus -> error containing "Empty" [src/matmul.rs:134, 169]
- dimension mismatch -> "Dimension mismatch: left has {d1} dimensional
  vectors, right has {d2} dimensional vectors" [src/matmul.rs:322-329]
- unknown metric -> "Unknown metric: '{s}'. Supported: cosine, dot,
  euclidean" [src/metrics.rs:25]
- first list element null -> "First element is null" [src/matmul.rs:238, 267]
"""

from __future__ import annotations

import numpy as np

VALID_METRICS = ("cosine", "dot", "euclidean")

# Zero-norm guards for cosine [src/metrics.rs:277, 331]
EPS_F64 = 1e-10
EPS_F32 = 1e-6


def higher_is_better(metric: str) -> bool:
    """Ordering direction per metric [src/metrics.rs:30-35]."""
    metric = _canonical_metric(metric)
    return metric in ("cosine", "dot")


def _canonical_metric(metric: str) -> str:
    m = metric.lower()
    if m == "l2":  # alias [src/metrics.rs:24]
        m = "euclidean"
    if m not in VALID_METRICS:
        raise ValueError(
            f"Unknown metric: '{metric}'. Supported: cosine, dot, euclidean"
        )
    return m


def to_matrix(vectors, dtype=None) -> np.ndarray:
    """Convert a sequence of vectors (lists / ndarrays, possibly containing
    None elements) to a dense row-major 2-D matrix.

    Mirrors series_to_matrix [src/matmul.rs:131-164]: null elements
    become 0.0; a ragged input raises the dimension-mismatch error; an
    entirely-empty input yields a (0, 0) matrix.

    When ``dtype`` is None the INPUT float width is preserved (f32 rows
    stay f32), so a both-f32 pipeline reaches the f32 kernel per the
    reference's dispatch rule [src/matmul.rs:307-314]; non-float inputs
    (ints, Python lists) land on the f64 default.
    """
    n = len(vectors)
    if n == 0:
        return np.empty((0, 0), dtype=dtype or np.float64)
    first = vectors[0]
    if first is None:
        raise ValueError("First element is null")
    first = np.asarray(first)
    if dtype is None:
        dtype = (
            first.dtype
            if first.dtype in (np.float32, np.float64)
            else np.float64
        )
    dim = first.shape[0]
    out = np.empty((n, dim), dtype=dtype)
    for i, v in enumerate(vectors):
        if v is None:
            out[i, :] = 0.0  # null vector -> zeros [src/matmul.rs:251]
            continue
        a = np.asarray(v)
        if a.shape[0] != dim:
            raise ValueError(
                f"Dimension mismatch: left has {dim} dimensional vectors, "
                f"right has {a.shape[0]} dimensional vectors"
            )
        if a.dtype == object or np.issubdtype(a.dtype, np.object_):
            a = np.array([0.0 if x is None else float(x) for x in v])
        out[i, :] = np.nan_to_num(a, nan=0.0) if _has_none(v) else a
    return out


def _has_none(v) -> bool:
    if isinstance(v, np.ndarray):
        return False
    return any(x is None for x in v)


def promote_dtype(left_dtype, right_dtype):
    """f32 kernel iff both sides f32, else f64 [src/matmul.rs:307-314]."""
    if np.dtype(left_dtype) == np.float32 and np.dtype(right_dtype) == np.float32:
        return np.float32
    return np.float64


def similarity_matrix(Q: np.ndarray, C: np.ndarray, metric: str = "cosine") -> np.ndarray:
    """Dense metric matrix: out[i, j] = metric(Q[i], C[j]).

    Q: (n_q, d), C: (n_c, d). Compute dtype follows promote_dtype.
    [src/metrics.rs:258-311 compute_similarity_matrix]
    """
    metric = _canonical_metric(metric)
    if C.shape[0] == 0:
        raise ValueError("Empty series: corpus has no rows")
    if Q.shape[0] == 0:
        dt = promote_dtype(Q.dtype, C.dtype)
        return np.empty((0, C.shape[0]), dtype=dt)
    if Q.shape[1] != C.shape[1]:
        raise ValueError(
            f"Dimension mismatch: left has {Q.shape[1]} dimensional vectors, "
            f"right has {C.shape[1]} dimensional vectors"
        )
    dt = promote_dtype(Q.dtype, C.dtype)
    Q = np.ascontiguousarray(Q, dtype=dt)
    C = np.ascontiguousarray(C, dtype=dt)
    dots = Q @ C.T  # BLAS GEMM — the faer analog [src/metrics.rs:85-93]

    if metric == "dot":
        return dots
    if metric == "cosine":
        eps = EPS_F32 if dt == np.float32 else EPS_F64
        qn = np.linalg.norm(Q, axis=1)  # [src/metrics.rs:368-385]
        cn = np.linalg.norm(C, axis=1)
        # per-norm guard: the score is 0.0 unless BOTH norms exceed eps
        # independently (q_norm > eps AND c_norm > eps) — NOT a guard on
        # the product [src/metrics.rs:276-288 (f64), 329-342 (f32)].
        # Divided in place; the guarded rows and columns (NaN norms
        # included) are zeroed afterwards.
        with np.errstate(divide="ignore", invalid="ignore"):
            np.divide(dots, np.multiply.outer(qn, cn), out=dots)
        q_bad = ~(qn > eps)
        c_bad = ~(cn > eps)
        if q_bad.any():
            dots[q_bad, :] = 0.0
        if c_bad.any():
            dots[:, c_bad] = 0.0
        return dots
    # euclidean: sqrt(max(0, |q|^2 + |c|^2 - 2 q.c)) [src/metrics.rs:292-310]
    q2 = np.einsum("ij,ij->i", Q, Q)
    c2 = np.einsum("ij,ij->i", C, C)
    sq = q2[:, None] + c2[None, :] - 2.0 * dots
    np.maximum(sq, 0.0, out=sq)  # clamp [src/metrics.rs:305]
    return np.sqrt(sq, out=sq)


# groups per k in the bounded select: enough that the k best scores of
# a row almost always sit in k distinct groups, so the bound lands at
# about the row's k-th best score
GROUPS_PER_K = 16


def _select_partition(s: np.ndarray, k: int) -> np.ndarray:
    """Top-k indices of every row of ``s`` (no NaN), best first: one
    O(n) argpartition, then a stable sort of the k survivors; the order
    among exactly tied scores is arbitrary (index ascending when k =
    n_corpus)."""
    n_c = s.shape[1]
    if k < n_c:
        part = np.argpartition(s, n_c - k, axis=1)[:, n_c - k:]
    else:
        part = np.broadcast_to(np.arange(n_c), s.shape).copy()
    order = np.argsort(-np.take_along_axis(s, part, axis=1), axis=1, kind="stable")
    return np.take_along_axis(part, order, axis=1)


def _select_bounded(s: np.ndarray, k: int, m: int) -> np.ndarray:
    """Top-k indices of every row of ``s`` (no NaN, n_c >= 2m) by
    (score desc, index asc), sorting only the scores at or above a
    lower bound on the row's k-th best. When those are not few (more
    than m per row on average), ``_select_partition`` takes the call."""
    n_q, n_c = s.shape
    w = n_c // m
    group_max = s[:, : w * m].reshape(n_q, w, m).max(axis=1)
    bound = np.partition(group_max, m - k, axis=1)[:, m - k]
    cand = s >= bound[:, None]
    if np.count_nonzero(cand) > n_q * m:  # constant or heavily tied rows
        return _select_partition(s, k)
    rows, cols = np.divmod(np.flatnonzero(cand), n_c)
    order = np.lexsort((-s[rows, cols], rows))  # stable: row, score desc, index asc
    counts = np.bincount(rows, minlength=n_q)
    return cols[order][(np.cumsum(counts) - counts)[:, None] + np.arange(k)]


def topk_select(scores: np.ndarray, k: int, higher: bool) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-k (indices, scores), best first. k is clamped to
    n_corpus [src/matmul.rs:443].

    Bounded select, the analog of the reference's quickselect
    [src/topk.rs:6-75] with a threshold prune: the row's columns split
    into m = 16k disjoint strided groups (column j in group j mod m);
    the k-th largest group max t is a lower bound on the row's k-th
    best score, since k groups each hold a score >= t. Only the scores
    >= t (about k per row on untied data) are sorted, and exact ties
    among them come out by index ascending. When they are not few (more
    than m per row on average: constant or heavily tied rows), the call
    takes a full-row argpartition instead (``_select_partition``, tie
    order arbitrary); so does every call with n_corpus < 2m.

    NaN never wins and never raises: non-finite scores are ranked
    through ``np.nan_to_num(nan=-inf)``, so NaN ranks below -inf.
    """
    n_q, n_c = scores.shape
    k = min(k, n_c)
    if k <= 0 or n_q == 0:
        return (np.empty((n_q, 0), dtype=np.int64), np.empty((n_q, 0), dtype=scores.dtype))
    s = scores if higher else -scores
    if not np.isfinite(s).all():
        s = np.nan_to_num(s, nan=-np.inf)  # NaN never wins, never panics
    m = GROUPS_PER_K * k
    idx = _select_partition(s, k) if n_c < 2 * m else _select_bounded(s, k, m)
    return idx, np.take_along_axis(scores, idx, axis=1)


def topk(Q: np.ndarray, C: np.ndarray, k: int, metric: str = "cosine") -> tuple[np.ndarray, np.ndarray]:
    """Fused similarity top-k: metric matrix + per-row selection.

    Returns (indices int64 (n_q, k'), scores ALWAYS f64 (n_q, k')) with
    k' = min(k, n_corpus). [src/matmul.rs:419-519]
    """
    metric = _canonical_metric(metric)
    if C.shape[0] == 0:
        raise ValueError("Empty series: corpus has no rows")
    if Q.shape[0] == 0:
        return (np.empty((0, 0), dtype=np.int64), np.empty((0, 0), dtype=np.float64))
    S = similarity_matrix(Q, C, metric)
    idx, sc = topk_select(S, k, higher_is_better(metric))
    return idx, sc.astype(np.float64, copy=False)  # score always f64 [src/matmul.rs:446-447]
