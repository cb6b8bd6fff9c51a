"""Random projection over embedding columns — the dimensionality lever.

Johnson-Lindenstrauss: a seeded Gaussian projection to ``out_dim``
dimensions preserves pairwise distances within (1 +- eps) for
eps ~ sqrt(8 ln n / out_dim), independent of the input dimension. At
100 TB that converts directly into scan/shuffle/broadcast bytes: a
256-d f32 embedding projected to 64-d is a 4x cut on the widest
column in the table, and every downstream operator in this repo (IVF,
PQ, exact top-k, near-dup blocking) runs unchanged on the projected
column — only cheaper. The classic recipe is project -> shortlist ->
exact-rerank in the original space, the same shape as
``quantize.quantized_topk_rerank``.

Everything here is row-local (no shuffle) and seeded (two runs, any
partitioning, same output):

- ``gaussian_matrix``: the (out_dim, in_dim) N(0, 1/out_dim) matrix.
- ``random_project``: one ``mapInArrow`` batch GEMM against the
  broadcast matrix — flat Arrow buffers in and out, zero per-row
  Python, all other columns pass through.
- ``srp_bits``: signed random projection packed to ONE int64 — a
  hamming-space fingerprint of the embedding (the embedding-side
  analogue of the text SimHash in ``dedup.simhash``). sign bits of
  the same GEMM, so it shares all the plumbing.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from polars_matmul_spark.functions.similarity import (
    map_arrow_batches,
    rows_to_list_array,
)

__all__ = [
    "gaussian_matrix",
    "random_project",
    "srp_bits",
    "srp_band_plan",
    "srp_signature",
    "srp_neardup",
    "pstable_params",
    "pstable_lsh_join",
    "build_pstable_index",
    "pstable_new_vs_index",
    "projected_topk_rerank",
    "hamming_expr",
    "hamming_topk",
]


def gaussian_matrix(in_dim: int, out_dim: int, seed: int = 7) -> np.ndarray:
    """Seeded (out_dim, in_dim) Gaussian JL matrix, entries
    N(0, 1/out_dim) so projected squared norms are unbiased."""
    if in_dim <= 0 or out_dim <= 0:
        raise ValueError("gaussian_matrix dims must be positive")
    rng = np.random.default_rng(seed)
    return (
        rng.standard_normal((out_dim, in_dim)) / np.sqrt(out_dim)
    ).astype(np.float32)


def _project(df, emb_col, P, emit, out_field, row_width=1) -> DataFrame:
    """Batch GEMM against the broadcast ``P`` through the shared
    mapInArrow plumbing; ``emit(Y)`` turns the (n, out_dim) float32
    projection block into the output Arrow array."""
    return map_arrow_batches(
        df,
        emb_col,
        P,
        lambda Q, P: emit(Q @ P.T),
        out_field,
        dtype=np.float32,
        row_width=row_width,
    )


def random_project(
    df: DataFrame,
    emb_col: str = "embedding",
    out_dim: int = 64,
    seed: int = 7,
    out_col: str | None = None,
) -> DataFrame:
    """Project ``emb_col`` to ``out_dim`` dimensions with a seeded
    Gaussian matrix. Default ``out_col=emb_col`` REPLACES the column,
    so the result drops straight into every embedding operator in the
    repo (ann/pq/similarity) at the reduced width.

    Row-local and seeded: the matrix is regenerated from the seed,
    never persisted, so two sessions agree. Across DIFFERENT
    partitionings the outputs agree to within f32 GEMM reassociation
    (~1 ulp — BLAS blocks the multiply differently for different batch
    row counts); identical partitioning gives bit-identical output.
    Anything consuming the projection for exact-match semantics (e.g.
    hash-bucketing on the value) should quantize first — ``srp_bits``
    is the sign-quantized form and IS partitioning-exact away from the
    measure-zero case of a projection landing exactly on 0.
    """
    out_col = emb_col if out_col is None else out_col
    in_dim = _peek_dim(df, emb_col)
    P = gaussian_matrix(in_dim, out_dim, seed)

    out_type = T.ArrayType(T.FloatType(), containsNull=False)
    list_type = to_arrow_type(out_type)

    def emit(Y):
        return rows_to_list_array(pa.array(Y.ravel(), type=pa.float32()), len(Y), list_type)

    field = T.StructField(out_col, out_type, False)
    return _project(df, emb_col, P, emit, field, row_width=out_dim)


def srp_bits(
    df: DataFrame,
    emb_col: str = "embedding",
    n_bits: int = 32,
    seed: int = 7,
    out_col: str = "srp_sig",
) -> DataFrame:
    """Signed-random-projection fingerprint: ``n_bits`` sign bits of
    the Gaussian projection packed into one BIGINT (bit i set iff
    projection i > 0). Hamming distance between signatures estimates
    angular distance — the embedding-side SimHash, usable for
    banded near-dup blocking exactly like ``dedup.simhash``.

    ``n_bits`` <= 63 so the packed value stays positive in an int64
    (engine-portable: DuckDB and Spark agree on the arithmetic).
    """
    if not 1 <= n_bits <= 63:
        raise ValueError("srp_bits needs 1 <= n_bits <= 63")
    in_dim = _peek_dim(df, emb_col)
    P = gaussian_matrix(in_dim, n_bits, seed)
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    def emit(Y):
        sig = (Y > 0).astype(np.int64) @ weights
        return pa.array(sig, type=pa.int64())

    field = T.StructField(out_col, T.LongType(), False)
    return _project(df, emb_col, P, emit, field)


def srp_band_plan(
    n_rows: int,
    n_bands: int | None = None,
    band_bits: int | None = None,
    bit_agree: float = 0.90,
    target_recall: float = 0.99,
    candidate_factor: int = 16,
) -> tuple[int, int]:
    """Derive an SRP banding config (n_bands, band_bits) for ``n_rows``
    such that the EXPECTED number of random (uncorrelated-pair) band
    collisions stays under ``candidate_factor * n_rows`` — linear in n,
    never the silent quadratic a fixed config hits when n grows — while
    holding candidate recall >= ``target_recall`` for pairs whose
    per-bit agreement probability is ``bit_agree`` (0.90 ~ cosine 0.95).

    Arithmetic: random pairs collide on some band with probability
    ~ n_bands * 2^-band_bits, so expected random candidates ~=
    n^2/2 * n_bands / 2^band_bits <= candidate_factor * n requires
    band_bits >= log2(n * n_bands / (2 * candidate_factor)); recall
    1-(1-bit_agree^band_bits)^n_bands then fixes n_bands up the
    S-curve. The two interlock (weakly, through a log), so a short
    fixed-point iteration settles both. Pass either knob explicitly to
    pin it and derive only the other.
    """
    import math

    n = max(int(n_rows), 2)

    def _bits(nb: int) -> int:
        return max(
            1,
            min(63, math.ceil(math.log2(n * nb / (2 * candidate_factor)))),
        )

    def _bands(bits: int) -> int:
        p_band = bit_agree**bits
        if p_band >= 1.0:
            return 1
        return max(
            1,
            math.ceil(math.log(1 - target_recall) / math.log(1 - p_band)),
        )

    if n_bands is not None and band_bits is not None:
        return n_bands, band_bits
    if n_bands is not None:
        return n_bands, _bits(n_bands)
    if band_bits is not None:
        return _bands(band_bits), band_bits
    nb = 16
    for _ in range(10):
        bits = _bits(nb)
        needed = _bands(bits)
        if needed == nb:
            break
        nb = needed
    return nb, _bits(nb)


def srp_signature(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_bands: int = 16,
    band_bits: int = 12,
    seed: int = 7,
    out_col: str = "srp_sig",
    catalyst: bool = False,
) -> DataFrame:
    """(id, ``out_col`` array<long>) — the banded SRP sign signature:
    ``n_bands`` independent blocks of ``band_bits`` sign bits of one
    seeded Gaussian projection, each block packed into its own int64.

    This is the shared signature pass behind :func:`srp_neardup`
    (band equi-join blocking) and :func:`hamming_topk` (multi-word
    Hamming ranking) — build it once, persist it as its own dataset,
    and both consumers scan 8*n_bands bytes per row instead of the
    float vectors.

    ``catalyst=True`` computes the SAME sign bits with the
    sequential-f64 fold expression and the projection matrix riding
    as broadcast DATA — bit-identical to DuckDB's
    ``list_dot_product`` on DOUBLE[], so external engines replay the
    signature exactly (the oracle-parity form). Default is the f32
    Arrow batch GEMM (the throughput form; a measure-zero sign flip
    near 0 is possible under f32 reassociation).

    Row-local in both forms: no shuffle, all other plans unchanged.
    """
    from pyspark.sql import functions as F

    if not 1 <= band_bits <= 63:
        raise ValueError("band_bits must be in [1, 63] (one int64 per band)")
    if n_bands < 1:
        raise ValueError(f"n_bands must be positive, got {n_bands}")
    in_dim = _peek_dim(df, emb_col)
    P = gaussian_matrix(in_dim, n_bands * band_bits, seed)
    weights = 1 << np.arange(band_bits, dtype=np.int64)

    out_type = T.ArrayType(T.LongType(), containsNull=False)
    list_type = to_arrow_type(out_type)

    def emit(Y):
        bits = (Y > 0).astype(np.int64)
        # (n, n_bands, band_bits) -> one packed int64 per band
        vals = bits.reshape(len(bits), n_bands, band_bits) @ weights
        return rows_to_list_array(pa.array(vals.ravel(), type=pa.int64()), len(bits), list_type)

    if catalyst:
        # the projection matrix rides as DATA (one broadcast row), not
        # as plan literals: n_bands*band_bits separate fold-dots with
        # 64-literal rows made Catalyst spend ~2 s PLANNING the
        # signature pass (optimizer passes over a ~2048-leaf tree —
        # a 10-row LIMIT took the same wall as the full table), which
        # dominated the whole query at bench scale. One nested
        # transform over the broadcast matrix keeps the tree tiny and
        # is bit-identical: each dot is the same sequential f64 fold
        # (== DuckDB list_dot_product), measured 2.3x faster end to
        # end at sf0.01. The per-dot fold stays interpreted either
        # way (nested HOFs never codegen), so only plan size changes.
        mat = df.sparkSession.createDataFrame(
            [([[float(x) for x in row] for row in P],)],
            "__P array<array<double>>",
        )
        # promote per ELEMENT inside the lambda rather than casting the
        # whole array up front: an array-level cast expression would
        # sit inside the interpreted transform over __P and re-allocate
        # a d-element double array once per projection row (the
        # shared-subexpression HOF trap, and CollapseProject inlines
        # single-use aliases so staging alone cannot prevent it);
        # (double)x * y is bit-identical arithmetic with zero extra
        # allocations
        e = F.col(emb_col)
        dots = F.transform(
            F.col("__P"),
            lambda row: F.aggregate(
                F.zip_with(e, row, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda s, x: s + x,
            ),
        )
        # __dots is expensive and referenced n_bands*band_bits times
        # below — the select boundary keeps CollapseProject from
        # inlining it per reference (the winnow __hs discipline)
        staged = df.crossJoin(F.broadcast(mat)).select(
            F.col(id_col), dots.alias("__dots")
        )
        d = F.col("__dots")
        band_exprs = []
        for b in range(n_bands):
            val = F.lit(0).cast("long")
            for j in range(band_bits):
                val = val + F.when(
                    d[b * band_bits + j] > 0, F.lit(1 << j)
                ).otherwise(F.lit(0)).cast("long")
            band_exprs.append(val)
        return staged.select(F.col(id_col), F.array(*band_exprs).alias(out_col))
    field = T.StructField(out_col, out_type, False)
    return _project(df.select(id_col, emb_col), emb_col, P, emit, field, row_width=n_bands)


def srp_neardup(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int | None = None,
    band_bits: int | None = None,
    seed: int = 7,
    expected_rows: int | None = None,
    catalyst_signature: bool = False,
) -> DataFrame:
    """Embedding near-dup pairs via SRP banding — the KMeans-free
    blocked path (the embedding-side analogue of MinHash-LSH banding
    over text shingles, ``dedup.neardup_minhash_lsh``).

    Signature = ``n_bands`` independent blocks of ``band_bits`` sign
    bits of one seeded Gaussian projection (each band packed into its
    own int64, so band width is NOT capped by a shared 63-bit budget);
    a candidate pair must agree on ALL bits of at least one band. For
    vectors at angle theta each bit agrees with probability
    1 - theta/pi, giving the classic hyperplane-LSH S-curve: per-band
    match (1-theta/pi)^band_bits, table recall 1-(1-p_band)^n_bands.
    At the 16x12 default, cosine 0.95 (theta ~ 18deg, bit-agree 0.90)
    gives candidate recall ~0.995.

    Honest scale envelope: an UNCORRELATED pair collides on some band
    with probability ~ n_bands * 2^-band_bits, so the candidate count
    is ~ n^2/2 x that rate PLUS the genuinely-similar pairs. The
    banding config therefore AUTO-SCALES with n by default: when
    ``n_bands``/``band_bits`` are not given, :func:`srp_band_plan`
    derives them from ``expected_rows`` (or one ``df.count()`` when
    that too is omitted) so expected random candidates stay under a
    documented ~16n ceiling at recall >= 0.99 — a naive caller cannot
    silently run a 16x12 config (fine at 1e4 rows, quadratic at 1e8)
    on a huge corpus. The bucket join stays uniform as bits grow
    because sign bits of random projections are balanced coin flips.
    For the billion-row regime the trained paths (``semdedup`` cluster
    blocking, ``ann`` IVF) remain preferable — bucket geometry adapts
    to the data. Every candidate is verified by EXACT cosine >=
    ``threshold`` — precision 1.0 by construction, banding only
    affects recall.

    Scale shape: one row-local signature pass (batch GEMM vs the
    broadcast matrix), one explode to ``n_bands`` slim
    (band, value, id) rows, one equi-join on (band, value) — pairwise
    work only within buckets, no unblocked O(n^2) pass, no training.
    Returns (id_a, id_b, cosine) with id_a < id_b, distinct.

    ``catalyst_signature=True`` computes the SAME sign bits with a
    sequential-f64 fold expression against the projection matrix
    riding as broadcast DATA (see :func:`srp_signature` — plan-literal
    rows cost ~2 s of Catalyst planning per run), instead of the f32
    NumPy batch GEMM — bit-identical to DuckDB's ``list_dot_product``
    on DOUBLE[], so an external engine can replay the ENTIRE operator
    (sign-pack, band join, verify) exactly. This is the oracle-parity form; the Arrow
    GEMM is the throughput form (f32 reassociation can flip a
    measure-zero sign near 0, which exact-verify mostly — not
    provably — absorbs). Both share the banding/join/verify plan.
    """
    from pyspark.sql import functions as F

    from polars_matmul_spark.operators.similarity_join import (
        _fold_dot as _jvm_fold_dot,
    )

    if n_bands is None or band_bits is None:
        n_rows = expected_rows if expected_rows is not None else df.count()
        n_bands, band_bits = srp_band_plan(n_rows, n_bands, band_bits)
    if not 1 <= band_bits <= 63:
        raise ValueError("band_bits must be in [1, 63] (one int64 per band)")
    sig = srp_signature(
        df,
        id_col=id_col,
        emb_col=emb_col,
        n_bands=n_bands,
        band_bits=band_bits,
        seed=seed,
        out_col="__bands",
        catalyst=catalyst_signature,
    )
    # materialize the slim signature frame (id + n_bands longs) ONCE:
    # it feeds BOTH sides of the band self-join, and the duplicated
    # subplan would otherwise re-run the projection per side (measured
    # ~2x the signature cost; Catalyst's exchange reuse does not kick
    # in across the explode). This is the standard "build the LSH
    # index, then join it to itself" materialization — at scale the
    # signature table persists as its own dataset anyway.
    sig = sig.localCheckpoint(eager=False)
    bands = sig.select(
        id_col, F.posexplode(F.col("__bands")).alias("band", "band_val")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # norms once per DOC, not per pair (the semdedup/_embedding_neardup
    # pattern — oracle-parity preserved: sqrt(fold(e, e)) is the same
    # deterministic value wherever it is computed, so per-pair verify
    # folds drop 3 -> 1)
    emb = df.select(
        F.col(id_col), F.col(emb_col).cast("array<double>").alias("__e")
    ).withColumn("__n", F.sqrt(_jvm_fold_dot(F.col("__e"), F.col("__e"))))
    cos = F.when(
        (F.col("__na") > 1e-10) & (F.col("__nb") > 1e-10),
        _jvm_fold_dot(F.col("__ea"), F.col("__eb"))
        / (F.col("__na") * F.col("__nb")),
    ).otherwise(F.lit(0.0))
    verified = (
        cand.join(
            emb.select(
                F.col(id_col).alias("id_a"),
                F.col("__e").alias("__ea"),
                F.col("__n").alias("__na"),
            ),
            "id_a",
        )
        .join(
            emb.select(
                F.col(id_col).alias("id_b"),
                F.col("__e").alias("__eb"),
                F.col("__n").alias("__nb"),
            ),
            "id_b",
        )
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    return verified


def pstable_params(
    in_dim: int,
    n_tables: int,
    hashes_per_table: int,
    bucket_width: float,
    seed: int = 7,
) -> tuple[np.ndarray, np.ndarray]:
    """The seeded parameter set of a p-stable Euclidean LSH family
    (Datar, Immorlica, Indyk, Mirrokni, SoCG 2004): ``n_tables *
    hashes_per_table`` raw N(0, 1) projection vectors ``A`` (NOT the
    JL-normalized :func:`gaussian_matrix` — the 2-stable property needs
    unit-variance entries so a.(u-v) ~ N(0, ||u-v||)) and matching
    offsets ``B`` ~ Uniform[0, bucket_width).

    Exposed separately so an external engine can regenerate the EXACT
    same family and replay every bucket: h_i(v) = floor((a_i.v + b_i)
    / w) is plain double arithmetic once A and B are shared data."""
    if in_dim <= 0 or n_tables < 1 or hashes_per_table < 1:
        raise ValueError("pstable_params dims/tables must be positive")
    if not bucket_width > 0:
        raise ValueError("bucket_width must be positive")
    rng = np.random.default_rng(seed)
    n = n_tables * hashes_per_table
    A = rng.standard_normal((n, in_dim))
    B = rng.uniform(0.0, bucket_width, size=n)
    return A, B


def _pstable_keys(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    n_tables: int,
    hashes_per_table: int,
    bucket_width: float,
    seed: int,
) -> DataFrame:
    """(id, ``__keys`` array<string>) — one ':'-joined floor-bucket key
    per table. The A matrix rides as ONE broadcast data row (the
    ``srp_signature`` Catalyst-planning lesson); floors are staged
    behind a select boundary so CollapseProject cannot inline the
    expensive fold once per table (the srp ``__dots`` discipline)."""
    from pyspark.sql import functions as F

    in_dim = _peek_dim(df, emb_col)
    A, B = pstable_params(in_dim, n_tables, hashes_per_table, bucket_width, seed)
    mat = df.sparkSession.createDataFrame(
        [(
            [[float(x) for x in row] for row in A],
            [float(b) for b in B],
        )],
        "__A array<array<double>>, __B array<double>",
    )
    e = F.col(emb_col)
    dots = F.transform(
        F.col("__A"),
        lambda row: F.aggregate(
            F.zip_with(e, row, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
    )
    floors = F.zip_with(
        dots,
        F.col("__B"),
        lambda d, b: F.floor((d + b) / F.lit(float(bucket_width))),
    )
    staged = df.crossJoin(F.broadcast(mat)).select(
        F.col(id_col), floors.alias("__fl")
    )
    m = hashes_per_table
    keys = [
        F.array_join(
            F.transform(
                F.slice(F.col("__fl"), t * m + 1, m),
                lambda v: v.cast("string"),
            ),
            ":",
        )
        for t in range(n_tables)
    ]
    return staged.select(F.col(id_col), F.array(*keys).alias("__keys"))


def build_pstable_index(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_tables: int = 6,
    hashes_per_table: int = 5,
    bucket_width: float = 1.0,
    seed: int = 7,
) -> DataFrame:
    """The persistable Euclidean-LSH index: one slim (id, tbl, key) row
    per (point, table). At 100 TB write it partitioned/bucketed by
    (tbl, key) so :func:`pstable_new_vs_index` probes are bucket-local
    scans; the float vectors stay in their own table, joined only for
    the per-candidate exact verify. Parameters must match between
    index build and probe (same seed = same family)."""
    from pyspark.sql import functions as F

    sig = _pstable_keys(
        df, id_col, emb_col, n_tables, hashes_per_table, bucket_width, seed
    )
    return sig.select(
        id_col, F.posexplode(F.col("__keys")).alias("tbl", "key")
    )


def pstable_new_vs_index(
    new_batch: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    n_tables: int = 6,
    hashes_per_table: int = 5,
    bucket_width: float = 1.0,
    seed: int = 7,
    new_id: str = "new_id",
    old_id: str = "old_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Incremental Euclidean near-neighbor check: which rows of a NEW
    batch fall within ``threshold`` of an already-indexed corpus — the
    Euclidean analogue of ``ann.embedding_neardup_new_vs_index`` and
    the incremental form of :func:`pstable_lsh_join`.

    ``index`` is the persisted output of :func:`build_pstable_index`
    over ``corpus`` (same family parameters — the seed IS the
    contract); ``corpus`` holds (old_id, emb). The batch is hashed
    with the SAME seeded family, its slim exploded (tbl, key) rows
    BROADCAST into the index scan — the index is never shuffled; only
    candidate ids flow out — then every candidate pair is verified by
    exact distance. Equals the self-join's answer restricted to
    crossing (new x old) pairs (pytest-pinned), because both sides
    hash with the identical family. Returns (new_id, old_id, dist).
    """
    from pyspark.sql import functions as F

    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold}")
    nb = _pstable_keys(
        new_batch.select(F.col(new_id), F.col(emb_col)),
        new_id, emb_col, n_tables, hashes_per_table, bucket_width, seed,
    ).localCheckpoint(eager=False)
    bands_new = nb.select(
        new_id, F.posexplode(F.col("__keys")).alias("tbl", "key")
    )
    cand = (
        index.join(F.broadcast(bands_new), ["tbl", "key"])
        .select(F.col(index.columns[0]).alias(old_id), new_id)
        .distinct()
    )
    from polars_matmul_spark.operators.similarity_join import (
        _fold_dot as _jvm_fold_dot,
    )

    def _pts(df, idc):
        return df.select(
            F.col(idc), F.col(emb_col).cast("array<double>").alias("__e")
        ).withColumn("__nn", _jvm_fold_dot(F.col("__e"), F.col("__e")))

    newp = _pts(new_batch, new_id).select(
        F.col(new_id), F.col("__e").alias("__ea"), F.col("__nn").alias("__na")
    )
    oldp = _pts(corpus, old_id).select(
        F.col(old_id), F.col("__e").alias("__eb"), F.col("__nn").alias("__nb")
    )
    dist = F.sqrt(
        F.greatest(
            F.col("__na")
            - 2 * _jvm_fold_dot(F.col("__ea"), F.col("__eb"))
            + F.col("__nb"),
            F.lit(0.0),
        )
    )
    return (
        cand.join(F.broadcast(newp), new_id)
        .join(oldp, old_id)
        .withColumn("dist", dist)
        .filter(F.col("dist") <= threshold)
        .select(new_id, old_id, "dist")
    )


def pstable_lsh_join(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.5,
    n_tables: int = 6,
    hashes_per_table: int = 5,
    bucket_width: float = 1.0,
    seed: int = 7,
) -> DataFrame:
    """Euclidean near-neighbor self-join via p-stable LSH — the
    engine-replayable alternative to MLlib's
    ``ann.brp_lsh_similarity_join`` (whose projection vectors come from
    a JVM-private RNG and so can never be replayed outside Spark; this
    operator ships its own seeded family as broadcast DATA, the
    ``srp_neardup`` recipe at Euclidean granularity).

    Mechanics (Datar et al. 2004): hash h_i(v) = floor((a_i.v + b_i)/w)
    with a_i ~ N(0, I), b_i ~ U[0, w); a table's bucket key is the
    ':'-joined tuple of its ``hashes_per_table`` hashes (AND-
    amplification), a candidate pair must share the FULL key of at
    least one of ``n_tables`` tables (OR-amplification). Every
    candidate is verified by EXACT Euclidean distance <= ``threshold``
    — precision 1.0 by construction, the family only affects recall
    (gated in tests/test_ann_recall.py on planted near-pairs).

    Oracle parity: each dot is the sequential-f64 fold (== DuckDB
    ``list_dot_product`` on DOUBLE[]), floor/divide/concat are exact
    IEEE/string ops, and the verify distance is
    sqrt(greatest(n_a - 2*dot + n_b, 0)) — every stage replays
    bit-identically in any SQL engine given the same A/B data
    (:func:`pstable_params`). The A matrix rides as ONE broadcast row,
    not plan literals (the ``srp_signature`` Catalyst-planning lesson).

    Scale shape: one row-local signature pass, one explode to
    ``n_tables`` slim (table, key, id) rows, one equi-join on
    (table, key) — pairwise work only inside buckets, no unblocked
    O(n^2) pass, no training step, index side never re-shuffled
    full-width (only ids + keys move; vectors rejoin for the verify).
    Tuning rule of thumb: w ~ the interesting distance scale; raise
    ``hashes_per_table`` to cut random collisions (each hash multiplies
    the random-pair rate by p(c_far) < 1), raise ``n_tables`` to buy
    recall back. Returns (id_a, id_b, dist) with id_a < id_b, distinct.
    """
    from pyspark.sql import functions as F

    from polars_matmul_spark.operators.similarity_join import (
        _fold_dot as _jvm_fold_dot,
    )

    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold}")
    sig = _pstable_keys(
        df, id_col, emb_col, n_tables, hashes_per_table, bucket_width, seed
    ).localCheckpoint(eager=False)
    bands = sig.select(
        id_col, F.posexplode(F.col("__keys")).alias("tbl", "key")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # norms once per POINT, not per pair (the srp_neardup pattern);
    # dist = sqrt(greatest(nn_a - 2*dot + nn_b, 0)) keeps the verify to
    # one per-pair fold and is the exact association both engines share
    pts = df.select(
        F.col(id_col), F.col(emb_col).cast("array<double>").alias("__e")
    ).withColumn("__nn", _jvm_fold_dot(F.col("__e"), F.col("__e")))
    dist = F.sqrt(
        F.greatest(
            F.col("__na")
            - 2 * _jvm_fold_dot(F.col("__ea"), F.col("__eb"))
            + F.col("__nb"),
            F.lit(0.0),
        )
    )
    return (
        cand.join(
            pts.select(
                F.col(id_col).alias("id_a"),
                F.col("__e").alias("__ea"),
                F.col("__nn").alias("__na"),
            ),
            "id_a",
        )
        .join(
            pts.select(
                F.col(id_col).alias("id_b"),
                F.col("__e").alias("__eb"),
                F.col("__nn").alias("__nb"),
            ),
            "id_b",
        )
        .withColumn("dist", dist)
        .filter(F.col("dist") <= threshold)
        .select("id_a", "id_b", "dist")
    )


def projected_topk_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    out_dim: int = 32,
    seed: int = 7,
    rerank_factor: int = 4,
    q_id: str = "query_id",
    c_id: str = "corpus_id",
) -> DataFrame:
    """The classic JL search pipeline: shortlist in the PROJECTED
    space, exact-rerank in the original — same two-stage shape as
    ``quantize.quantized_topk_rerank``, trading width (``out_dim``
    floats per vector in the scan) instead of precision (int8 codes).

    Both sides are projected with the SAME seeded matrix (cosines are
    only comparable inside one projection). Stage 1 keeps the top
    ``k*rerank_factor`` per query by projected cosine; stage 2 joins
    those k*factor rows — not the corpus — back to full-precision
    embeddings and reranks exactly. Returns (q_id, rank, c_id, score)
    with EXACT scores; the projection only affects which candidates
    make the shortlist (recall gated in tests).

    At 100 TB: the corpus is projected once at ingest and stored, so
    the brute-force scan moves out_dim/d of the bytes. The full-width
    corpus is never shuffled — queries broadcast into stage 1's scan,
    the per-query argselect exchanges only slim (q_id, c_id, approx)
    rows, and stage 2's corpus join builds on the tiny shortlist side
    (AQE broadcast), not the corpus.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from polars_matmul_spark.operators.similarity_join import score_expr

    pq_ = random_project(
        queries.select(q_id, "embedding"), out_dim=out_dim, seed=seed, out_col="__pq"
    ).select(q_id, "__pq")
    pc_ = random_project(
        corpus.select(c_id, "embedding"), out_dim=out_dim, seed=seed, out_col="__pc"
    ).select(c_id, "__pc")
    scored = pc_.crossJoin(F.broadcast(pq_)).select(
        q_id, c_id, score_expr(F.col("__pq"), F.col("__pc"), "cosine").alias("__approx")
    )
    w1 = Window.partitionBy(q_id).orderBy(F.desc("__approx"), F.asc(c_id))
    shortlist = (
        scored.withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= k * rerank_factor)
        .select(q_id, c_id)
    )
    exact = (
        shortlist.join(
            F.broadcast(queries.select(q_id, F.col("embedding").alias("__qe"))), q_id
        )
        .join(corpus.select(c_id, F.col("embedding").alias("__ce")), c_id)
        .withColumn("score", score_expr(F.col("__qe"), F.col("__ce"), "cosine"))
    )
    w2 = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        exact.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select(q_id, "rank", c_id, "score")
    )


def _peek_dim(df: DataFrame, emb_col: str) -> int:
    """Input dimension from one row (the matrix shape must be fixed
    before the plan is built; a scan of one row is the only way Spark
    exposes it). Raises on an empty frame — a projection of nothing
    has no defined width."""
    row = df.select(emb_col).limit(1).collect()
    if not row or row[0][0] is None:
        raise ValueError(f"Cannot infer dimension of '{emb_col}': no non-null rows")
    return len(row[0][0])


def hamming_expr(a, b, packed_array: bool = False):
    """Hamming distance between two packed sign-bit signatures —
    ``bit_count(a XOR b)``, summed across words when the signatures
    are ``array<long>`` (``packed_array=True``, the ``srp_neardup``
    band layout) rather than one BIGINT (the ``srp_bits`` layout).
    Pure integer Catalyst, engine-portable (DuckDB:
    ``bit_count(xor(a, b))``)."""
    from pyspark.sql import functions as F

    if not packed_array:
        return F.bit_count(a.bitwiseXOR(b)).cast("long")
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda s, d: s + d,
    )


def hamming_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "query_id",
    c_id: str = "corpus_id",
    sig_col: str = "srp_sig",
) -> DataFrame:
    """Rerank-free approximate top-k by Hamming distance over packed
    SRP signatures: (query_id, rank, corpus_id, hamming), ascending
    distance, corpus-id tiebreak.

    This is the cheapest search in the embedding family: after
    :func:`srp_bits` the corpus is ONE BIGINT per row (or a few words
    via the band layout), so the scan is 8-bytes-per-row tight, the
    distance is two integer instructions, and nothing ever touches
    the float vectors — the candidate generator for
    ``projected_topk_rerank``-style exact reranking, or a standalone
    coarse search when ~n_bits-resolution angular ordering suffices
    (Charikar 2002: E[hamming] = n_bits * theta / pi).

    Scale shape: queries broadcast into the corpus scan (the corpus
    never shuffles full-width — only slim (q, c, dist) triples move
    for the per-query top-k window). Same plan skeleton as
    ``topk_join_exact``, integer arithmetic instead of float folds.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    packed = dict(corpus.dtypes)[sig_col].startswith("array")
    q = queries.select(F.col(q_id), F.col(sig_col).alias("__qs"))
    c = corpus.select(F.col(c_id), F.col(sig_col).alias("__cs"))
    dist = hamming_expr(F.col("__qs"), F.col("__cs"), packed_array=packed)
    scored = c.crossJoin(F.broadcast(q)).select(
        q_id, c_id, dist.alias("hamming")
    )
    w = Window.partitionBy(q_id).orderBy(F.asc("hamming"), F.asc(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, "rank", c_id, "hamming")
    )
