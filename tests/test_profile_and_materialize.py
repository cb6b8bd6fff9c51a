"""Table profiling vs a DuckDB oracle (exact stats), and physical bin
materialization invariants (every doc appears once, order pinned)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from polars_matmul_spark.operators.packing import materialize_bins, pack_sequences
from polars_matmul_spark.operators.profile import profile_pair_one_scan, profile_table
from polars_matmul_spark.operators.text import token_count
from polars_matmul_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


class TestProfile:
    def test_exact_stats_vs_duckdb(self, spark):
        li = load_table(spark, "lineitem", SF_DIR)
        cols = ["l_orderkey", "l_quantity", "l_shipdate", "l_returnflag"]
        got = profile_table(li, cols).toPandas().set_index("column")
        con = duckdb.connect()
        con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{SF_DIR}/lineitem.parquet'")
        for c in cols:
            want = con.sql(
                f"""SELECT count(*) AS n, sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS nulls,
                           min({c})::VARCHAR AS mn, max({c})::VARCHAR AS mx
                    FROM lineitem"""
            ).fetchone()
            row = got.loc[c]
            assert row["n_rows"] == want[0]
            assert row["n_nulls"] == (want[1] or 0)
            assert row["min"] == want[2] and row["max"] == want[3], c
        # numeric moments exact-ish
        mean, std = con.sql(
            "SELECT avg(l_quantity), stddev_samp(l_quantity) FROM lineitem"
        ).fetchone()
        np.testing.assert_allclose(got.loc["l_quantity", "mean"], mean, rtol=1e-9)
        np.testing.assert_allclose(got.loc["l_quantity", "stddev"], std, rtol=1e-9)

    def test_approx_distinct_within_5pct(self, spark):
        li = load_table(spark, "lineitem", SF_DIR)
        got = profile_table(li, ["l_orderkey"]).collect()[0]
        exact = li.select("l_orderkey").distinct().count()
        assert abs(got["n_distinct_approx"] - exact) / exact < 0.05

    def test_one_scan_one_agg(self, spark):
        li = load_table(spark, "lineitem", SF_DIR)
        plan = (
            profile_table(li)._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Scan parquet") == 1, plan

    def test_complex_and_unknown_columns(self, spark):
        emb = load_table(spark, "embeddings", SF_DIR)
        prof = profile_table(emb).toPandas().set_index("column")
        assert prof.loc["embedding", "min"] is None  # complex type: nulls only
        assert prof.loc["embedding", "n_nulls"] == 0
        with pytest.raises(ValueError, match="no such columns"):
            profile_table(emb, ["nope"])

    def test_pair_one_scan_rejects_missing_column(self, spark):
        ab = spark.createDataFrame([(1, 2)], "__a_x long, __b_x long")
        with pytest.raises(ValueError, match=r"no such columns: \['__b_y'\]"):
            profile_pair_one_scan(ab, ["x"], ["y"])

    def test_pair_one_scan_rejects_overlapping_sides(self, spark):
        ab = spark.createDataFrame([(1, 2)], "p_x long, p_y long")
        with pytest.raises(ValueError, match="columns on both sides"):
            profile_pair_one_scan(ab, ["x", "y"], ["y"], a_prefix="p_", b_prefix="p_")


class TestMaterializeBins:
    def test_every_doc_once_order_pinned(self, spark):
        docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
        counted = docs.withColumn("n_tokens", token_count(F.col("text")))
        packed = pack_sequences(counted, budget=512)
        out = materialize_bins(packed, docs, sep="␞")  # unlikely separator
        pdf = out.toPandas()
        assert len(pdf) == packed.select("bin_id").distinct().count()
        # each bin's text has exactly n_seqs segments
        assert (
            pdf["text"].str.split("␞").str.len() == pdf["n_seqs"]
        ).all()
        # reassemble: every document body appears exactly once overall
        all_segments = [s for t in pdf["text"] for s in t.split("␞")]
        assert len(all_segments) == docs.count()
        texts = [r["text"] for r in docs.collect()]
        assert sorted(all_segments) == sorted(texts)
        # order pinned: segments within a bin follow ascending doc_id
        assign = packed.toPandas()
        by_doc = {r["text"]: r["doc_id"] for r in docs.collect()}
        bins = assign.sort_values(["bin_id", "doc_id"]).groupby("bin_id")["doc_id"]
        expected = {b: list(g) for b, g in bins}
        for _, row in pdf.iterrows():
            got_ids = [by_doc[s] for s in row["text"].split("␞")]
            assert got_ids == expected[row["bin_id"]]


class TestCorrAndFreq:
    def test_corr_matrix_vs_duckdb(self, spark):
        import duckdb
        import numpy as np

        from polars_matmul_spark.operators.profile import corr_matrix
        from polars_matmul_spark.sources.tables import load_table

        sf = "/root/testdata/sf0.001"
        li = load_table(spark, "lineitem", sf)
        cols = ["l_quantity", "l_extendedprice", "l_discount"]
        got = (
            corr_matrix(li, cols)
            .toPandas()
            .sort_values(["col_a", "col_b"])
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet'")
        for _, r in got.iterrows():
            want = con.sql(
                f"SELECT corr({r.col_a}, {r.col_b}) FROM lineitem"
            ).fetchone()[0]
            np.testing.assert_allclose(r["corr"], want, rtol=1e-9)
        assert len(got) == 3  # C(3,2)

    def test_corr_matrix_one_scan(self, spark):
        from polars_matmul_spark.operators.profile import corr_matrix
        from polars_matmul_spark.sources.tables import load_table

        li = load_table(spark, "lineitem", "/root/testdata/sf0.001")
        plan = (
            corr_matrix(li, ["l_quantity", "l_discount"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Scan parquet") == 1, plan

    def test_corr_rejects_non_numeric(self, spark):
        import pytest

        from polars_matmul_spark.operators.profile import corr_matrix
        from polars_matmul_spark.sources.tables import load_table

        li = load_table(spark, "lineitem", "/root/testdata/sf0.001")
        with pytest.raises(ValueError, match="non-numeric"):
            corr_matrix(li, ["l_quantity", "l_returnflag"])

    def test_frequent_items_exact(self, spark):
        import duckdb

        from polars_matmul_spark.operators.profile import frequent_items
        from polars_matmul_spark.sources.tables import load_table

        sf = "/root/testdata/sf0.001"
        ev = load_table(spark, "events", sf)
        got = frequent_items(ev, "event_type", 0.05).toPandas()
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
        want = con.sql(
            """SELECT event_type AS value, count(*) AS n FROM events
               GROUP BY 1 HAVING count(*) >= (SELECT 0.05*count(*) FROM events)
               ORDER BY n DESC, value"""
        ).df()
        assert list(got["value"]) == list(want["value"])
        assert list(got["n"]) == list(want["n"])
        assert (got["share"] >= 0.05).all()


class TestProfileDiff:
    """profile_diff drift findings between two profile_table outputs."""

    def _profiles(self, spark, mutate):
        """Reference frame vs a mutated candidate; both profiled."""
        from polars_matmul_spark.operators.profile import profile_diff, profile_table

        base = spark.range(1_000).select(
            F.col("id"),
            (F.col("id") % 50).cast("double").alias("x"),
            F.concat(F.lit("u"), (F.col("id") % 200).cast("string")).alias("cat"),
        )
        return profile_diff(profile_table(base), profile_table(mutate(base)))

    def test_identical_profiles_no_findings(self, spark):
        out = self._profiles(spark, lambda df: df)
        assert out.count() == 0

    def test_schema_changes_flagged(self, spark):
        out = self._profiles(
            spark,
            lambda df: df.drop("cat").withColumn("extra", F.lit(1)),
        ).collect()
        checks = {(r["column"], r["check"]) for r in out}
        assert ("cat", "column_removed") in checks
        assert ("extra", "column_added") in checks

    def test_dtype_change_flagged(self, spark):
        out = self._profiles(
            spark, lambda df: df.withColumn("x", F.col("x").cast("string"))
        ).collect()
        assert any(r["check"] == "dtype_changed" and r["column"] == "x" for r in out)

    @pytest.mark.slow
    def test_null_rate_jump_flagged(self, spark):
        out = self._profiles(
            spark,
            lambda df: df.withColumn(
                "x", F.when(F.col("id") % 5 == 0, None).otherwise(F.col("x"))
            ),
        ).collect()
        hit = [r for r in out if r["check"] == "null_rate" and r["column"] == "x"]
        assert hit and float(hit[0]["b_value"]) == pytest.approx(0.2)

    def test_mean_shift_flagged_and_small_shift_not(self, spark):
        # x ~ uniform(0..49): mean 24.5, std ~14.4 -> +100 is ~7 sigma
        out = self._profiles(
            spark, lambda df: df.withColumn("x", F.col("x") + 100.0)
        ).collect()
        assert any(r["check"] == "mean_shift" and r["column"] == "x" for r in out)
        small = self._profiles(
            spark, lambda df: df.withColumn("x", F.col("x") + 1.0)
        ).collect()
        assert not any(r["check"] == "mean_shift" for r in small)

    def test_distinct_collapse_flagged(self, spark):
        # cat: 200 distinct -> 1 distinct (the classic broken-feed id)
        out = self._profiles(
            spark, lambda df: df.withColumn("cat", F.lit("u0"))
        ).collect()
        assert any(
            r["check"] == "distinct_ratio" and r["column"] == "cat" for r in out
        )

    @pytest.mark.slow
    def test_constant_reference_uses_candidate_sigma(self, spark):
        from polars_matmul_spark.operators.profile import profile_diff, profile_table

        a = spark.range(100).select(F.lit(5.0).alias("v"))
        # candidate has spread; mean moved < 3 of ITS sigmas -> no flag
        b = spark.range(100).select((F.lit(5.0) + F.col("id") % 10).alias("v"))
        out = profile_diff(profile_table(a), profile_table(b)).collect()
        assert not any(r["check"] == "mean_shift" for r in out)
        # two constants differing -> flagged on any change
        c = spark.range(100).select(F.lit(6.0).alias("v"))
        out2 = profile_diff(profile_table(a), profile_table(c)).collect()
        assert any(r["check"] == "mean_shift" for r in out2)
