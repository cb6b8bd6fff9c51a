"""Gates for the skew/balance diagnostics and random-projection ops.

Oracles are NumPy / plain-Spark recomputation (both operators are
deterministic row-local or single-agg constructs — nothing here needs
DuckDB's SQL surface, and the registry sits at the 50-row driver cap).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from polars_matmul_spark.operators.diagnose import key_skew_report, partition_balance
from polars_matmul_spark.operators.projection import (
    gaussian_matrix,
    projected_topk_rerank,
    random_project,
    srp_bits,
    srp_neardup,
)


# ---------------------------------------------------------------- diagnose


def _skewed_df(spark, n=10_000, hot_share=0.5):
    """n rows; one key ('hot') owns hot_share of them, the rest spread
    over 100 uniform keys."""
    n_hot = int(n * hot_share)
    return spark.range(n).select(
        F.when(F.col("id") < n_hot, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 100).cast("string")))
        .alias("key"),
        F.col("id"),
    )


class TestKeySkewReport:
    def test_hot_key_tops_report_with_share_and_ratio(self, spark):
        df = _skewed_df(spark, n=10_000, hot_share=0.5)
        rep = key_skew_report(df, ["key"], top_n=5).collect()
        assert rep[0]["key"] == "hot"
        assert rep[0]["n_rows"] == 5_000
        assert rep[0]["share"] == pytest.approx(0.5)
        # 101 distinct keys, mean = 10000/101
        assert rep[0]["skew_ratio"] == pytest.approx(5_000 / (10_000 / 101))
        # remaining rows are the uniform keys at ~50 rows each
        assert all(r["n_rows"] == 50 for r in rep[1:])

    def test_counts_match_plain_groupby_oracle(self, spark):
        df = _skewed_df(spark, n=3_000, hot_share=0.2)
        rep = {r["key"]: r["n_rows"] for r in key_skew_report(df, ["key"], 200).collect()}
        oracle = {
            r["key"]: r["n"]
            for r in df.groupBy("key").agg(F.count("*").alias("n")).collect()
        }
        assert rep == oracle

    def test_null_keys_group_together(self, spark):
        df = spark.range(100).select(
            F.when(F.col("id") < 60, F.lit(None).cast("string"))
            .otherwise(F.lit("x"))
            .alias("key")
        )
        rep = key_skew_report(df, ["key"], top_n=2).collect()
        assert rep[0]["key"] is None and rep[0]["n_rows"] == 60
        assert rep[1]["key"] == "x" and rep[1]["n_rows"] == 40

    def test_multi_key_and_empty_keys_error(self, spark):
        df = spark.range(20).select(
            (F.col("id") % 2).alias("a"), (F.col("id") % 5).alias("b")
        )
        rep = key_skew_report(df, ["a", "b"], top_n=100).collect()
        assert len(rep) == 10 and all(r["n_rows"] == 2 for r in rep)
        with pytest.raises(ValueError, match="at least one key"):
            key_skew_report(df, [])

    def test_plan_is_takeordered_not_global_sort(self, spark):
        df = _skewed_df(spark, n=1_000)
        plan = key_skew_report(df, ["key"], 10)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestPartitionBalance:
    def test_single_partition_is_perfectly_balanced(self, spark):
        row = partition_balance(spark.range(1_000).coalesce(1)).collect()[0]
        assert row["n_partitions"] == 1
        assert row["total_rows"] == 1_000
        assert row["cv"] == pytest.approx(0.0)
        assert row["imbalance"] == pytest.approx(1.0)

    def test_even_range_partitions_read_balanced(self, spark):
        row = partition_balance(spark.range(0, 8_000, 1, 8)).collect()[0]
        assert row["n_partitions"] == 8
        assert row["min_rows"] == row["max_rows"] == 1_000
        assert row["imbalance"] == pytest.approx(1.0)

    def test_planted_straggler_shows_in_imbalance(self, spark):
        # 90% of rows hash to one key -> repartition(4, key) makes one
        # partition the straggler
        df = spark.range(10_000).select(
            F.when(F.col("id") < 9_000, F.lit(0)).otherwise(F.col("id")).alias("k")
        ).repartition(4, "k")
        row = partition_balance(df).collect()[0]
        assert row["total_rows"] == 10_000
        assert row["imbalance"] > 2.0
        assert row["cv"] > 0.5


# --------------------------------------------------------------- projection


def _emb_df(spark, n=64, dim=16, seed=0, n_parts=4):
    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [(i, X[i].tolist()) for i in range(n)]
    return (
        spark.createDataFrame(rows, "id: long, embedding: array<float>")
        .repartition(n_parts),
        X,
    )


class TestRandomProject:
    def test_matches_numpy_gemm_exactly(self, spark):
        df, X = _emb_df(spark, n=32, dim=16)
        out = random_project(df, "embedding", out_dim=8, seed=11).orderBy("id")
        got = np.array(out.toPandas()["embedding"].tolist(), dtype=np.float32)
        P = gaussian_matrix(16, 8, seed=11)
        # f32 GEMM blocking differs between the per-partition batches
        # and the single full-matrix oracle call — allow one-ulp-ish
        # absolute slack near zero
        np.testing.assert_allclose(got, X @ P.T, rtol=1e-5, atol=1e-5)

    def test_partitioning_invariant_and_deterministic(self, spark):
        # across different partitionings f32 GEMM reassociates (~1 ulp)
        # — allclose, not bit-equal; see the random_project docstring
        df1, _ = _emb_df(spark, n=48, dim=12, n_parts=7)
        df2, _ = _emb_df(spark, n=48, dim=12, n_parts=2)
        a = random_project(df1, out_dim=6, seed=3).orderBy("id").toPandas()
        b = random_project(df2, out_dim=6, seed=3).orderBy("id").toPandas()
        np.testing.assert_allclose(
            np.array(a["embedding"].tolist()),
            np.array(b["embedding"].tolist()),
            rtol=1e-5,
            atol=1e-5,
        )
        # same partitioning twice -> bit-identical (seeded, no RNG state)
        c = random_project(df1, out_dim=6, seed=3).orderBy("id").toPandas()
        np.testing.assert_array_equal(
            np.array(a["embedding"].tolist()), np.array(c["embedding"].tolist())
        )

    def test_out_col_replaces_and_schema_width(self, spark):
        df, _ = _emb_df(spark, n=8, dim=16)
        out = random_project(df, out_dim=4, seed=1)
        assert set(out.columns) == {"id", "embedding"}
        assert all(len(v) == 4 for v in out.toPandas()["embedding"])

    def test_jl_distance_preservation(self, spark):
        # 128 -> 64: squared pairwise distances should be preserved on
        # average (unbiased) with bounded relative spread. Seeded, so
        # this is a deterministic check, not a flaky statistical one.
        # NB: matrix seed must differ from the data seed — identical
        # seeds make default_rng emit the SAME normal stream for both,
        # i.e. the projection rows literally equal the first data rows
        # (maximally correlated, wildly biased ratios)
        df, X = _emb_df(spark, n=100, dim=128, seed=5)
        out = random_project(df, out_dim=64, seed=77).orderBy("id")
        Y = np.array(out.toPandas()["embedding"].tolist(), dtype=np.float64)
        Xd = X.astype(np.float64)

        def pdist2(M):
            G = M @ M.T
            d = np.diag(G)
            return d[:, None] + d[None, :] - 2 * G

        dx, dy = pdist2(Xd), pdist2(Y)
        iu = np.triu_indices(100, k=1)
        ratio = dy[iu] / dx[iu]
        assert abs(ratio.mean() - 1.0) < 0.1
        assert ratio.max() < 2.0 and ratio.min() > 0.4

    def test_topk_recall_survives_projection(self, spark):
        # planted clusters: each query's true neighbor set is its
        # cluster; exact top-k on the PROJECTED vectors must recover it
        rng = np.random.default_rng(9)
        centers = rng.standard_normal((10, 64)).astype(np.float32) * 5
        X = np.repeat(centers, 10, axis=0) + rng.standard_normal((100, 64)).astype(
            np.float32
        ) * 0.1
        df = spark.createDataFrame(
            [(i, X[i].tolist()) for i in range(100)],
            "id: long, embedding: array<float>",
        )
        out = random_project(df, out_dim=16, seed=2).orderBy("id")
        Y = np.array(out.toPandas()["embedding"].tolist(), dtype=np.float64)
        # cosine top-9 neighbors in projected space == cluster mates
        Yn = Y / np.linalg.norm(Y, axis=1, keepdims=True)
        S = Yn @ Yn.T
        np.fill_diagonal(S, -np.inf)
        hits = 0
        for i in range(100):
            top = np.argpartition(-S[i], 9)[:9]
            hits += sum(1 for j in top if j // 10 == i // 10)
        assert hits / (100 * 9) >= 0.9

    def test_empty_and_bad_dims(self, spark):
        df = spark.createDataFrame([], "id: long, embedding: array<float>")
        with pytest.raises(ValueError, match="no non-null rows"):
            random_project(df, out_dim=4)
        with pytest.raises(ValueError, match="positive"):
            gaussian_matrix(16, 0)


class TestProjectedTopkRerank:
    def _data(self, spark, n_q=20, n_c=200, dim=64, seed=31):
        # clustered corpus + queries perturbed off corpus points: the
        # true neighbors are meaningfully closer than the bulk (pure
        # iid-Gaussian data has near-tie cosines everywhere, which no
        # approximate shortlist — JL, int8, IVF — can rank; that would
        # gate noise, not the operator)
        rng = np.random.default_rng(seed)
        if n_c >= 10:
            centers = rng.standard_normal((10, dim)).astype(np.float32) * 3
            C = (
                np.repeat(centers, n_c // 10, axis=0)
                + rng.standard_normal((n_c, dim)).astype(np.float32)
            )
        else:
            C = rng.standard_normal((n_c, dim)).astype(np.float32)
        base = rng.integers(0, n_c, size=n_q)
        Q = C[base] + rng.standard_normal((n_q, dim)).astype(np.float32) * 0.3
        qdf = spark.createDataFrame(
            [(i, Q[i].tolist()) for i in range(n_q)],
            "query_id: long, embedding: array<float>",
        )
        cdf = spark.createDataFrame(
            [(i, C[i].tolist()) for i in range(n_c)],
            "corpus_id: long, embedding: array<float>",
        )
        return qdf, cdf, Q, C

    def test_recall_vs_exact_and_scores_are_exact(self, spark):
        qdf, cdf, Q, C = self._data(spark)
        k = 5
        got = projected_topk_rerank(qdf, cdf, k=k, out_dim=32, seed=77).toPandas()
        # exact oracle
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        S = Qn @ Cn.T
        hits = total = 0
        for qid, grp in got.groupby("query_id"):
            true_top = set(np.argsort(-S[qid])[:k])
            hits += len(true_top & set(grp["corpus_id"]))
            total += k
            # returned scores must be EXACT cosines, not projected ones
            for _, r in grp.iterrows():
                assert r["score"] == pytest.approx(
                    float(S[int(qid), int(r["corpus_id"])]), abs=1e-6
                )
            # ranks ordered by exact score desc
            g = grp.sort_values("rank")
            assert list(g["score"]) == sorted(g["score"], reverse=True)
            assert list(g["rank"]) == list(range(1, k + 1))
        assert hits / total >= 0.9

    def test_shapes_and_k_clamp(self, spark):
        qdf, cdf, _, _ = self._data(spark, n_q=3, n_c=8)
        out = projected_topk_rerank(qdf, cdf, k=20, out_dim=8, seed=1).toPandas()
        # k beyond corpus: every corpus row returned per query
        assert len(out) == 3 * 8


class TestSrpBits:
    def test_matches_numpy_sign_pack(self, spark):
        df, X = _emb_df(spark, n=40, dim=16)
        got = (
            srp_bits(df, n_bits=32, seed=13)
            .orderBy("id")
            .toPandas()["srp_sig"]
            .to_numpy()
        )
        P = gaussian_matrix(16, 32, seed=13)
        want = ((X @ P.T) > 0).astype(np.int64) @ (1 << np.arange(32, dtype=np.int64))
        np.testing.assert_array_equal(got, want)

    def test_near_vectors_have_small_hamming(self, spark):
        rng = np.random.default_rng(21)
        base = rng.standard_normal((20, 32)).astype(np.float32)
        near = base + rng.standard_normal((20, 32)).astype(np.float32) * 0.01
        far = rng.standard_normal((20, 32)).astype(np.float32)
        rows = [(i, v.tolist()) for i, v in enumerate(np.vstack([base, near, far]))]
        df = spark.createDataFrame(rows, "id: long, embedding: array<float>")
        sig = (
            srp_bits(df, n_bits=48, seed=4)
            .orderBy("id")
            .toPandas()["srp_sig"]
            .to_numpy()
        )
        ham = lambda a, b: bin(int(a) ^ int(b)).count("1")  # noqa: E731
        near_d = np.mean([ham(sig[i], sig[i + 20]) for i in range(20)])
        far_d = np.mean([ham(sig[i], sig[i + 40]) for i in range(20)])
        assert near_d < 5
        assert far_d > 12

    def test_bits_bounds(self, spark):
        df, _ = _emb_df(spark, n=4, dim=8)
        with pytest.raises(ValueError, match="1 <= n_bits <= 63"):
            srp_bits(df, n_bits=64)


class TestSrpNeardup:
    def _corpus(self, spark, n=200, dim=64, n_dups=20, seed=17):
        """n base vectors + n_dups planted near-dups (tiny
        perturbation of base i -> id 10_000+i)."""
        rng = np.random.default_rng(seed)
        X = rng.standard_normal((n, dim)).astype(np.float64)
        dups = X[:n_dups] + rng.standard_normal((n_dups, dim)) * 0.02
        rows = [(i, X[i].tolist()) for i in range(n)] + [
            (10_000 + i, dups[i].tolist()) for i in range(n_dups)
        ]
        return (
            spark.createDataFrame(rows, "vec_id: long, embedding: array<double>"),
            X,
            dups,
        )

    def test_planted_dups_recovered_with_exact_scores(self, spark):
        df, X, dups = self._corpus(spark)
        out = srp_neardup(df, threshold=0.95).toPandas()
        found = set(zip(out["id_a"], out["id_b"]))
        # recall on the planted pairs
        hits = sum(1 for i in range(len(dups)) if (i, 10_000 + i) in found)
        assert hits / len(dups) >= 0.9
        # every returned cosine is the EXACT cosine and >= threshold
        for _, r in out.iterrows():
            a = X[int(r["id_a"])] if r["id_a"] < 10_000 else dups[int(r["id_a"]) - 10_000]
            b = X[int(r["id_b"])] if r["id_b"] < 10_000 else dups[int(r["id_b"]) - 10_000]
            want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            assert r["cosine"] == pytest.approx(want, abs=1e-9)
            assert r["cosine"] >= 0.95

    def test_precision_one_no_false_pairs(self, spark):
        # corpus with NO near-dups: exact verify must return nothing
        rng = np.random.default_rng(23)
        X = rng.standard_normal((150, 64))
        df = spark.createDataFrame(
            [(i, X[i].tolist()) for i in range(150)],
            "vec_id: long, embedding: array<double>",
        )
        assert srp_neardup(df, threshold=0.95).count() == 0

    def test_matches_blocked_exact_on_crossing_pairs(self, spark):
        # against the exact all-pairs oracle: srp_neardup output must be
        # a SUBSET (banding loses recall, never precision) and >= 90%
        df, X, dups = self._corpus(spark, n=100, n_dups=15)
        A = np.vstack([X, dups])
        ids = list(range(100)) + [10_000 + i for i in range(15)]
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        S = An @ An.T
        exact = {
            (ids[i], ids[j])
            for i in range(len(ids))
            for j in range(i + 1, len(ids))
            if S[i, j] >= 0.95
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in srp_neardup(df, threshold=0.95).collect()
        }
        assert got <= exact
        assert len(got) >= 0.9 * len(exact)

    def test_band_budget_guard(self, spark):
        df, _, _ = self._corpus(spark, n=10, n_dups=1)
        with pytest.raises(ValueError, match=r"\[1, 63\]"):
            srp_neardup(df, n_bands=4, band_bits=64)

    def test_wide_bands_cut_random_collisions(self, spark):
        # candidate count on pure-noise data must FALL as band_bits
        # grows (2^-band_bits collision rate) — the knob that keeps the
        # bucket join subquadratic at larger n
        rng = np.random.default_rng(31)
        X = rng.standard_normal((300, 64))
        df = spark.createDataFrame(
            [(i, X[i].tolist()) for i in range(300)],
            "vec_id: long, embedding: array<double>",
        )

        def n_cand(band_bits, n_bands):
            # count candidates via the operator with threshold -1 so
            # the verify filter keeps every banded pair
            return srp_neardup(
                df, threshold=-1.0, n_bands=n_bands, band_bits=band_bits
            ).count()

        narrow = n_cand(6, 8)
        wide = n_cand(12, 8)
        assert wide < narrow / 4

    def test_no_unblocked_cross_join_in_plan(self, spark):
        df, _, _ = self._corpus(spark, n=50, n_dups=5)
        plan = (
            srp_neardup(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestSrpBandPlan:
    def test_random_candidates_stay_linear(self):
        """The auto-derived banding keeps EXPECTED random (uncorrelated
        -pair) band collisions under the documented 16n ceiling while
        holding candidate recall >= 0.99 at bit-agreement 0.90
        (~cosine 0.95) — at any corpus size, including the 1e6/1e8
        regimes where the old fixed 16x12 default went quadratic."""
        from polars_matmul_spark.operators.projection import srp_band_plan

        for n in (10_000, 1_000_000, 100_000_000):
            nb, bits = srp_band_plan(n)
            assert 1 <= bits <= 63 and nb >= 1
            exp_random = (n * n / 2) * nb / (2.0**bits)
            assert exp_random <= 16 * n
            p_band = 0.90**bits
            recall = 1 - (1 - p_band) ** nb
            assert recall >= 0.99

    def test_explicit_knobs_honored(self):
        from polars_matmul_spark.operators.projection import srp_band_plan

        assert srp_band_plan(10**6, n_bands=16, band_bits=12) == (16, 12)
        nb, bits = srp_band_plan(10**6, band_bits=20)
        assert bits == 20 and nb >= 1
        nb2, bits2 = srp_band_plan(10**6, n_bands=32)
        assert nb2 == 32 and 1 <= bits2 <= 63


# --- hamming top-k over packed SRP signatures -------------------------------


def test_hamming_topk_matches_numpy_popcount(spark, sf_dir):
    import numpy as np

    from polars_matmul_spark.operators.projection import hamming_topk, srp_bits
    from polars_matmul_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    sigs = srp_bits(emb, n_bits=48).select("vec_id", "srp_sig")
    rows = {r["vec_id"]: r["srp_sig"] for r in sigs.collect()}
    q = sigs.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    c = sigs.filter(F.col("vec_id") >= 5).withColumnRenamed("vec_id", "corpus_id")
    got = hamming_topk(q, c, k=7)
    ids = sorted(rows)
    for r in got.collect():
        expect = bin(rows[r["query_id"]] ^ rows[r["corpus_id"]]).count("1")
        assert r["hamming"] == expect
    # full ranking oracle for one query
    q0 = min(ids)
    oracle = sorted(
        ((bin(rows[q0] ^ rows[c_]).count("1"), c_) for c_ in ids if c_ >= 5)
    )[:7]
    got0 = [
        (r["hamming"], r["corpus_id"])
        for r in got.filter(F.col("query_id") == q0).orderBy("rank").collect()
    ]
    assert got0 == oracle


def test_hamming_topk_replays_in_duckdb(spark):
    import duckdb

    from polars_matmul_spark.operators.projection import hamming_topk

    rows = [(i, (i * 2654435761) % (1 << 48)) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, srp_sig long")
    q = df.filter(F.col("vec_id") < 4).withColumnRenamed("vec_id", "query_id")
    c = df.filter(F.col("vec_id") >= 4).withColumnRenamed("vec_id", "corpus_id")
    got = sorted(
        map(tuple, hamming_topk(q, c, k=5).collect())
    )
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE sigs AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {v}::BIGINT)" for i, v in rows)
        + ") t(vec_id, sig)"
    )
    oracle = sorted(
        map(
            tuple,
            con.sql("""
SELECT query_id, rank, corpus_id, hamming FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         bit_count(xor(q.sig::BIT, c.sig::BIT)) AS hamming,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY bit_count(xor(q.sig::BIT, c.sig::BIT)) ASC,
                                     c.vec_id ASC) AS rank
  FROM sigs q JOIN sigs c ON q.vec_id < 4 AND c.vec_id >= 4
) WHERE rank <= 5
""").fetchall(),
        )
    )
    assert got == oracle


def test_hamming_topk_multiword_and_plan(spark):
    from polars_matmul_spark.operators.projection import hamming_expr, hamming_topk
    from polars_matmul_spark.plans.inspect import explain_str, uses_python_worker

    rows = [(i, [i * 7 % 255, i * 13 % 255]) for i in range(32)]
    df = spark.createDataFrame(rows, "vec_id long, srp_sig array<long>")
    q = df.filter(F.col("vec_id") < 2).withColumnRenamed("vec_id", "query_id")
    c = df.filter(F.col("vec_id") >= 2).withColumnRenamed("vec_id", "corpus_id")
    got = hamming_topk(q, c, k=3)
    # multi-word distance == popcount over concatenated words
    vals = {r["vec_id"]: r["srp_sig"] for r in df.collect()}
    for r in got.collect():
        a, b = vals[r["query_id"]], vals[r["corpus_id"]]
        assert r["hamming"] == sum(bin(x ^ y).count("1") for x, y in zip(a, b))
    plan = explain_str(got, "simple")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert not uses_python_worker(got)
    with pytest.raises(ValueError):
        hamming_topk(q, c, k=0)


def test_hamming_tracks_angle(spark):
    # planted near-duplicate must be the hamming-nearest neighbor
    import numpy as np

    from polars_matmul_spark.operators.projection import hamming_topk, srp_bits

    rng = np.random.default_rng(3)
    base = rng.standard_normal((40, 64)).astype("float32")
    dup = base[7] + 0.01 * rng.standard_normal(64).astype("float32")
    rows = [(i, v.tolist()) for i, v in enumerate(base)] + [(100, dup.tolist())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sigs = srp_bits(df, n_bits=63).select("vec_id", "srp_sig")
    q = sigs.filter(F.col("vec_id") == 100).withColumnRenamed("vec_id", "query_id")
    c = sigs.filter(F.col("vec_id") != 100).withColumnRenamed("vec_id", "corpus_id")
    [top] = hamming_topk(q, c, k=1).collect()
    assert top["corpus_id"] == 7
