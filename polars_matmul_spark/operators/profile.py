"""One-pass table profiling: per-column stats for data-quality checks
before a training run touches 100 TB.

``profile_table`` computes, in a SINGLE aggregation over one scan
(every stat is an agg expression — Catalyst fuses them into one
partial-agg + one 1-row final agg, so the cost is the scan):

- ``n_rows``, ``n_nulls`` (exact)
- ``n_distinct_approx`` (HLL ``approx_count_distinct``, mergeable
  fixed-size state — the exact form would be one shuffle PER COLUMN)
- ``min`` / ``max`` (exact, rendered as strings so one long-format
  frame covers every input type)
- ``mean`` / ``stddev`` for numeric columns (exact within double)

Output is long format: one row per column — the shape a validation
harness diffs between pipeline runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "profile_table",
    "profile_pair_one_scan",
    "corr_matrix",
    "frequent_items",
    "profile_diff",
]

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _profile_aggs(fields: dict, cols: list[str], p: str) -> list:
    """The agg-expression list behind :func:`profile_table` for columns
    ``{p}{c}`` of the input, aliased under the same prefix so two
    sides can share one aggregation (``profile_pair_one_scan``)."""
    aggs = []
    for c in cols:
        pc = p + c
        dt = fields[pc]
        simple = not isinstance(dt, (T.ArrayType, T.MapType, T.StructType))
        aggs.append(
            F.sum(F.when(F.col(pc).isNull(), 1).otherwise(0)).alias(
                f"__nulls_{pc}"
            )
        )
        if simple:
            # rsd 0.02: ~double the default's sketch (still KBs/column,
            # mergeable) for 2% relative error instead of 5%
            aggs.append(F.approx_count_distinct(pc, 0.02).alias(f"__dist_{pc}"))
            aggs.append(F.min(pc).cast("string").alias(f"__min_{pc}"))
            aggs.append(F.max(pc).cast("string").alias(f"__max_{pc}"))
        if isinstance(dt, _NUMERIC):
            aggs.append(F.avg(F.col(pc).cast("double")).alias(f"__mean_{pc}"))
            aggs.append(F.stddev(F.col(pc).cast("double")).alias(f"__std_{pc}"))
    return aggs


def _profile_rows(fields: dict, cols: list[str], p: str) -> list:
    """The per-column output structs over a 1-row frame produced from
    :func:`_profile_aggs` with the same prefix; the reported ``column``
    name is the UNPREFIXED name."""
    rows = []
    for c in cols:
        pc = p + c
        dt = fields[pc]
        simple = not isinstance(dt, (T.ArrayType, T.MapType, T.StructType))
        numeric = isinstance(dt, _NUMERIC)
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dt.simpleString()).alias("dtype"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nulls_{pc}").alias("n_nulls"),
                (F.col(f"__dist_{pc}") if simple else F.lit(None).cast("long")).alias(
                    "n_distinct_approx"
                ),
                (F.col(f"__min_{pc}") if simple else F.lit(None).cast("string")).alias(
                    "min"
                ),
                (F.col(f"__max_{pc}") if simple else F.lit(None).cast("string")).alias(
                    "max"
                ),
                (F.col(f"__mean_{pc}") if numeric else F.lit(None).cast("double")).alias(
                    "mean"
                ),
                (F.col(f"__std_{pc}") if numeric else F.lit(None).cast("double")).alias(
                    "stddev"
                ),
            )
        )
    return rows


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """-> (column, dtype, n_rows, n_nulls, n_distinct_approx, min, max,
    mean, stddev) — one row per profiled column, one scan total.

    Array/map/struct columns are profiled on null-count only (min/max
    over complex types is not meaningful); numeric moments are null for
    non-numeric columns.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = columns if columns is not None else list(fields)
    unknown = [c for c in cols if c not in fields]
    if unknown:
        raise ValueError(f"no such columns: {unknown}")

    one = df.agg(F.count(F.lit(1)).alias("__n"), *_profile_aggs(fields, cols, ""))
    rows = _profile_rows(fields, cols, "")
    return one.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def profile_pair_one_scan(
    ab: DataFrame,
    a_cols: list[str],
    b_cols: list[str],
    a_prefix: str = "__a_",
    b_prefix: str = "__b_",
) -> tuple[DataFrame, DataFrame]:
    """``(profile_table(a), profile_table(b))`` computed in ONE
    aggregation over ONE scan, for two sides that are row-wise
    projections of the same source (round 13, guide §1.2): ``ab``
    carries side a's columns as ``__a_<name>`` and side b's as
    ``__b_<name>``. Bit-identical to the two-scan form — every stat is
    the same agg expression over the same rows (one shared row count;
    the HLL sketch is deterministic for identical input) — while the
    source is scanned once instead of once per side. The 1-row agg is
    lazily pinned so both returned frames read one materialization."""
    fields = {f.name: f.dataType for f in ab.schema.fields}
    a_names = [a_prefix + c for c in a_cols]
    b_names = [b_prefix + c for c in b_cols]
    unknown = [c for c in a_names + b_names if c not in fields]
    if unknown:
        raise ValueError(f"no such columns: {unknown}")
    shared = sorted(set(a_names) & set(b_names))
    if shared:
        raise ValueError(f"columns on both sides: {shared}")
    one = ab.agg(
        F.count(F.lit(1)).alias("__n"),
        *_profile_aggs(fields, a_cols, a_prefix),
        *_profile_aggs(fields, b_cols, b_prefix),
    ).localCheckpoint(eager=False)
    prof_a = one.select(
        F.explode(F.array(*_profile_rows(fields, a_cols, a_prefix))).alias("p")
    ).select("p.*")
    prof_b = one.select(
        F.explode(F.array(*_profile_rows(fields, b_cols, b_prefix))).alias("p")
    ).select("p.*")
    return prof_a, prof_b


def profile_diff(
    prof_a: DataFrame,
    prof_b: DataFrame,
    null_rate_jump: float = 0.05,
    mean_shift_sigmas: float = 3.0,
    distinct_ratio: float = 2.0,
) -> DataFrame:
    """Drift findings between two :func:`profile_table` outputs — the
    ingest gate that catches a corrupt batch BEFORE it joins a 100 TB
    corpus (an upstream schema change, a feed suddenly emitting nulls,
    an id column collapsing to one value).

    ``prof_a`` is the reference (yesterday's batch / the accepted
    corpus), ``prof_b`` the candidate. Returns a findings frame
    (column, check, a_value, b_value) — EMPTY means no drift. Checks:

    - ``column_removed`` / ``column_added``: present in only one side.
    - ``dtype_changed``: same name, different type.
    - ``null_rate``: null fraction moved by more than
      ``null_rate_jump`` (absolute).
    - ``mean_shift``: numeric mean moved more than
      ``mean_shift_sigmas`` standard deviations (of the reference; a
      constant reference column uses the candidate's sigma, and two
      constants differ on any mean change).
    - ``distinct_ratio``: approximate distinct count grew or shrank by
      more than ``distinct_ratio`` x (both sides non-zero). The HLL
      rsd is 2%, so leave the default at 2x unless columns are near-
      constant.

    Both inputs are n_cols-row frames, so every join here is trivially
    broadcast — cost is the two profile scans that produced them, not
    this diff.
    """
    a = prof_a.select([F.col(c).alias(f"a_{c}") for c in prof_a.columns])
    b = prof_b.select([F.col(c).alias(f"b_{c}") for c in prof_b.columns])
    j = a.join(
        b, a["a_column"] == b["b_column"], "full_outer"
    )

    def finding(check, a_val, b_val):
        return F.struct(
            F.coalesce(F.col("a_column"), F.col("b_column")).alias("column"),
            F.lit(check).alias("check"),
            a_val.cast("string").alias("a_value"),
            b_val.cast("string").alias("b_value"),
        )

    a_null_rate = F.col("a_n_nulls") / F.col("a_n_rows")
    b_null_rate = F.col("b_n_nulls") / F.col("b_n_rows")
    sigma = F.when(F.col("a_stddev") > 0, F.col("a_stddev")).otherwise(
        F.col("b_stddev")
    )
    mean_moved = F.when(
        sigma > 0,
        F.abs(F.col("b_mean") - F.col("a_mean")) > mean_shift_sigmas * sigma,
    ).otherwise(F.col("b_mean") != F.col("a_mean"))
    dist_ratio = F.greatest(
        F.col("a_n_distinct_approx") / F.col("b_n_distinct_approx"),
        F.col("b_n_distinct_approx") / F.col("a_n_distinct_approx"),
    )

    checks = [
        (
            F.col("b_column").isNull(),
            finding("column_removed", F.col("a_dtype"), F.lit(None)),
        ),
        (
            F.col("a_column").isNull(),
            finding("column_added", F.lit(None), F.col("b_dtype")),
        ),
        (
            F.col("a_dtype") != F.col("b_dtype"),
            finding("dtype_changed", F.col("a_dtype"), F.col("b_dtype")),
        ),
        (
            F.abs(b_null_rate - a_null_rate) > null_rate_jump,
            finding("null_rate", F.round(a_null_rate, 6), F.round(b_null_rate, 6)),
        ),
        (
            mean_moved,
            finding("mean_shift", F.col("a_mean"), F.col("b_mean")),
        ),
        (
            (F.col("a_n_distinct_approx") > 0)
            & (F.col("b_n_distinct_approx") > 0)
            & (dist_ratio > distinct_ratio),
            finding(
                "distinct_ratio",
                F.col("a_n_distinct_approx"),
                F.col("b_n_distinct_approx"),
            ),
        ),
    ]
    findings = F.array_compact(
        F.array(*[F.when(cond, row) for cond, row in checks])
    )
    return (
        j.select(F.explode(findings).alias("f"))
        .select("f.*")
        .orderBy("column", "check")
    )


def corr_matrix(df: DataFrame, columns: list[str]) -> DataFrame:
    """Pairwise Pearson correlations of numeric columns in ONE fused
    aggregation (one scan): -> (col_a, col_b, corr) for every unordered
    pair, the data-QA companion to :func:`profile_table`.

    n columns -> n*(n-1)/2 agg expressions; fine for the dozens-of-
    columns regime a table profile targets. All JVM-side.
    """
    if len(columns) < 2:
        raise ValueError(f"corr_matrix needs at least two columns, got {columns}")
    fields = {f.name: f.dataType for f in df.schema.fields}
    unknown = [c for c in columns if c not in fields]
    if unknown:
        raise ValueError(f"no such columns: {unknown}")
    non_num = [c for c in columns if not isinstance(fields[c], _NUMERIC)]
    if non_num:
        raise ValueError(f"non-numeric columns: {non_num}")

    pairs = [
        (a, b) for i, a in enumerate(columns) for b in columns[i + 1 :]
    ]
    aggs = [
        F.corr(F.col(a).cast("double"), F.col(b).cast("double")).alias(
            f"__c_{i}"
        )
        for i, (a, b) in enumerate(pairs)
    ]
    one = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(f"__c_{i}").alias("corr"),
        )
        for i, (a, b) in enumerate(pairs)
    ]
    return one.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def frequent_items(
    df: DataFrame, column: str, min_share: float = 0.01
) -> DataFrame:
    """Heavy hitters: every value of ``column`` whose share of rows is
    >= ``min_share``, with exact counts — (value, n, share), share
    descending.

    Exact two-phase form (partial agg then one shuffled agg on the
    value): at 100 TB the map-side combine means the shuffle carries at
    most (distinct values x partitions) rows; for the heavy-hitter
    regime (low-cardinality hot values) that is tiny. For unbounded-
    cardinality columns where even that is too much, Spark's
    ``df.stat.freqItems`` (one-pass, superset guarantee, no shuffle) is
    the sketch alternative — this exact form is the oracle-friendly
    default.
    """
    import math

    if not 0 < min_share <= 1:
        raise ValueError(f"min_share must be in (0, 1], got {min_share}")
    total = df.count()
    # ceil, not floor: with total=1010 and min_share=0.05 a value with
    # n=50 has share 0.0495 < 0.05 and must NOT pass
    threshold = math.ceil(total * min_share)
    return (
        df.groupBy(F.col(column).alias("value"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= F.greatest(F.lit(1), F.lit(threshold)))
        .withColumn("share", F.col("n") / F.lit(float(total)))
        .orderBy(F.desc("n"), F.asc("value"))
    )
