"""Unit tests for the pure-NumPy kernels — no Spark needed.

Ports the reference's Rust unit tests (src/matmul.rs:521-554,
src/metrics.rs:395-435, src/topk.rs:77-126) and the NumPy-equivalence
suite (tests/test_polars_matmul.py:261-296).
"""

import numpy as np
import pytest

from polars_matmul_spark import kernels as K


class TestMetrics:
    # hand-checked tiny matrices [src/metrics.rs:395-435]
    def test_dot(self):
        Q = np.array([[1.0, 2.0], [3.0, 4.0]])
        C = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
        S = K.similarity_matrix(Q, C, "dot")
        np.testing.assert_allclose(S, [[1, 2, 3], [3, 4, 7]])

    def test_cosine_identical_vector(self):
        Q = np.array([[1.0, 2.0, 3.0]])
        S = K.similarity_matrix(Q, Q, "cosine")
        np.testing.assert_allclose(S, [[1.0]], rtol=1e-12)

    def test_cosine_orthogonal(self):
        Q = np.array([[1.0, 0.0]])
        C = np.array([[0.0, 1.0]])
        np.testing.assert_allclose(K.similarity_matrix(Q, C, "cosine"), [[0.0]])

    def test_cosine_zero_norm_guard(self):
        # zero vector -> score exactly 0.0 [src/metrics.rs:277-288]
        Q = np.array([[0.0, 0.0]])
        C = np.array([[1.0, 1.0]])
        assert K.similarity_matrix(Q, C, "cosine")[0, 0] == 0.0
        assert K.similarity_matrix(C, Q, "cosine")[0, 0] == 0.0

    def test_cosine_guard_is_per_norm_not_product(self):
        # qn = 5e-11 (< eps) but qn*cn = 5e-9 (> eps): the reference
        # zeroes the score because EACH norm is guarded independently
        # [src/metrics.rs:276-288]; a product guard would emit ~1.0 here
        Q = np.array([[5e-11, 0.0]])
        C = np.array([[100.0, 0.0]])
        assert K.similarity_matrix(Q, C, "cosine")[0, 0] == 0.0
        assert K.similarity_matrix(C, Q, "cosine")[0, 0] == 0.0
        # both norms just above eps -> computed normally, not zeroed
        Q2 = np.array([[2e-10, 0.0]])
        np.testing.assert_allclose(
            K.similarity_matrix(Q2, C, "cosine"), [[1.0]], rtol=1e-9
        )

    def test_euclidean(self):
        Q = np.array([[0.0, 0.0]])
        C = np.array([[3.0, 4.0]])
        np.testing.assert_allclose(K.similarity_matrix(Q, C, "euclidean"), [[5.0]])

    def test_euclidean_self_zero_with_clamp(self):
        # identical vectors: float cancellation could go negative; clamp
        # guarantees sqrt(max(0, .)) [src/metrics.rs:305]
        rng = np.random.default_rng(42)
        Q = rng.standard_normal((5, 16))
        S = K.similarity_matrix(Q, Q, "euclidean")
        assert np.all(np.diag(S) >= 0.0)
        np.testing.assert_allclose(np.diag(S), 0.0, atol=1e-5)

    def test_l2_alias(self):
        Q = np.array([[1.0, 0.0]])
        np.testing.assert_allclose(
            K.similarity_matrix(Q, Q, "l2"), K.similarity_matrix(Q, Q, "euclidean")
        )

    def test_unknown_metric(self):
        with pytest.raises(ValueError, match="Unknown metric: 'bogus'. Supported: cosine, dot, euclidean"):
            K.similarity_matrix(np.ones((1, 2)), np.ones((1, 2)), "bogus")

    def test_higher_is_better(self):
        assert K.higher_is_better("cosine")
        assert K.higher_is_better("dot")
        assert not K.higher_is_better("euclidean")
        assert not K.higher_is_better("l2")


class TestDtypeDispatch:
    # [src/matmul.rs:13-19, 307-314]; tests/test_polars_matmul.py:366-464
    def test_both_f32_stays_f32(self):
        Q = np.ones((2, 3), dtype=np.float32)
        assert K.similarity_matrix(Q, Q, "dot").dtype == np.float32

    def test_mixed_promotes_f64(self):
        Q32 = np.ones((2, 3), dtype=np.float32)
        Q64 = np.ones((2, 3), dtype=np.float64)
        assert K.similarity_matrix(Q32, Q64, "dot").dtype == np.float64
        assert K.similarity_matrix(Q64, Q32, "dot").dtype == np.float64

    def test_f32_cosine_eps(self):
        # tiny-but-nonzero norms under f32 use the looser 1e-6 guard
        Q = np.full((1, 2), 1e-4, dtype=np.float32)
        C = np.ones((1, 2), dtype=np.float32)
        s = K.similarity_matrix(Q, C, "cosine")
        assert s.dtype == np.float32

    def test_topk_score_always_f64(self):
        Q = np.ones((2, 3), dtype=np.float32)
        _, scores = K.topk(Q, Q, k=1)
        assert scores.dtype == np.float64

    def test_to_matrix_preserves_input_float_width(self):
        # dtype=None must NOT promote f32 rows to f64 — otherwise a
        # both-f32 pipeline can never reach the f32 kernel
        # [src/matmul.rs:307-314]
        rows32 = [np.ones(4, dtype=np.float32), np.zeros(4, dtype=np.float32)]
        assert K.to_matrix(rows32).dtype == np.float32
        rows64 = [np.ones(4), np.zeros(4)]
        assert K.to_matrix(rows64).dtype == np.float64
        # Python lists / ints default to f64
        assert K.to_matrix([[1.0, 2.0]]).dtype == np.float64
        assert K.to_matrix([[1, 2]]).dtype == np.float64
        # explicit dtype always wins
        assert K.to_matrix(rows32, dtype=np.float64).dtype == np.float64
        assert K.to_matrix(rows64, dtype=np.float32).dtype == np.float32


class TestTopkSelect:
    # [src/topk.rs:77-126]
    def test_basic_higher(self):
        S = np.array([[1.0, 5.0, 3.0, 2.0]])
        idx, sc = K.topk_select(S, 2, higher=True)
        assert idx.tolist() == [[1, 2]]
        assert sc.tolist() == [[5.0, 3.0]]

    def test_basic_lower(self):
        S = np.array([[1.0, 5.0, 3.0, 2.0]])
        idx, sc = K.topk_select(S, 2, higher=False)
        assert idx.tolist() == [[0, 3]]
        assert sc.tolist() == [[1.0, 2.0]]

    def test_k_clamped(self):
        # k > n_corpus clamps silently [src/matmul.rs:443]
        S = np.array([[2.0, 1.0]])
        idx, sc = K.topk_select(S, 10, higher=True)
        assert idx.shape == (1, 2)
        assert sc.tolist() == [[2.0, 1.0]]

    def test_nan_never_wins_never_raises(self):
        S = np.array([[np.nan, 1.0, 2.0]])
        idx, _ = K.topk_select(S, 2, higher=True)
        assert set(idx[0].tolist()) == {1, 2}

    def test_all_rows(self):
        rng = np.random.default_rng(0)
        S = rng.standard_normal((20, 50))
        idx, sc = K.topk_select(S, 5, higher=True)
        ref = np.sort(S, axis=1)[:, ::-1][:, :5]
        np.testing.assert_allclose(sc, ref)


class TestTopkFused:
    def test_cosine_prefers_aligned(self):
        # tests/test_polars_matmul.py:33-53 analog
        Q = np.array([[1.0, 0.0]])
        C = np.array([[0.0, 1.0], [1.0, 0.1], [-1.0, 0.0]])
        idx, sc = K.topk(Q, C, k=1, metric="cosine")
        assert idx[0, 0] == 1

    def test_euclidean_lower_is_better(self):
        Q = np.array([[0.0, 0.0]])
        C = np.array([[3.0, 4.0], [1.0, 1.0], [10.0, 0.0]])
        idx, _ = K.topk(Q, C, k=2, metric="euclidean")
        assert idx[0].tolist() == [1, 0]

    def test_empty_queries(self):
        # empty query side -> typed empty, no error [src/matmul.rs:479-487]
        idx, sc = K.topk(np.empty((0, 0)), np.ones((3, 2)), k=2)
        assert idx.shape[0] == 0 and sc.shape[0] == 0

    def test_empty_corpus_raises(self):
        with pytest.raises(ValueError, match="Empty"):
            K.topk(np.ones((2, 3)), np.empty((0, 0)), k=1)

    def test_dim_mismatch(self):
        with pytest.raises(ValueError, match=r"Dimension mismatch: left has 2 dimensional vectors, right has 3 dimensional vectors"):
            K.topk(np.ones((1, 2)), np.ones((1, 3)), k=1)


class TestNumpyEquivalence:
    # randomized oracle, seed 42 [tests/test_polars_matmul.py:261-296]
    def test_cosine_vs_handrolled(self):
        np.random.seed(42)
        Q = np.random.randn(5, 16)
        C = np.random.randn(20, 16)
        S = K.similarity_matrix(Q, C, "cosine")
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        np.testing.assert_allclose(S, Qn @ Cn.T, rtol=1e-5)

    @pytest.mark.parametrize("dtype", [np.float32, np.float64])
    def test_cosine_bit_equal_to_guarded_where_formula(self, dtype):
        # the per-norm guard written out with full-size temporaries is
        # the reference; one zero-norm query row and one zero-norm
        # corpus row exercise both zeroed directions
        rng = np.random.default_rng(11)
        Q = rng.standard_normal((7, 16)).astype(dtype)
        C = rng.standard_normal((9, 16)).astype(dtype)
        Q[2] = 0.0
        C[4] = 0.0
        eps = K.EPS_F32 if dtype == np.float32 else K.EPS_F64
        qn, cn = np.linalg.norm(Q, axis=1), np.linalg.norm(C, axis=1)
        valid = (qn > eps)[:, None] & (cn > eps)[None, :]
        denom = np.where(valid, np.outer(qn, cn), 1.0)
        expected = np.where(valid, (Q @ C.T) / denom, 0.0).astype(dtype, copy=False)
        S = K.similarity_matrix(Q, C, "cosine")
        assert S.dtype == dtype
        assert np.array_equal(S, expected)
        assert not S[2].any() and not S[:, 4].any()

    @staticmethod
    def _topk_select_nan_to_num(scores, k, higher):
        # the selection with its unconditional NaN/inf mapping copy:
        # the reference the finite-input shortcut must match bit for bit
        n_q, n_c = scores.shape
        k = min(k, n_c)
        s = np.nan_to_num(scores if higher else -scores, nan=-np.inf)
        part = np.argpartition(s, n_c - k, axis=1)[:, n_c - k:]
        part_scores = np.take_along_axis(s, part, axis=1)
        order = np.argsort(-part_scores, axis=1, kind="stable")
        idx = np.take_along_axis(part, order, axis=1)
        return idx, np.take_along_axis(scores, idx, axis=1)

    @pytest.mark.parametrize("metric", ["dot", "euclidean"])
    @pytest.mark.parametrize("case", ["finite", "nan", "inf", "all_nan"])
    def test_topk_select_bit_equal_to_nan_to_num_formula(self, metric, case):
        rng = np.random.default_rng(13)
        S = K.similarity_matrix(
            rng.standard_normal((6, 8)).astype(np.float32),
            rng.standard_normal((40, 8)).astype(np.float32),
            metric,
        )
        if case == "nan":
            S[1, [3, 17, 30]] = np.nan
        elif case == "inf":
            S[2, 5], S[2, 9], S[4, 0] = np.inf, -np.inf, np.inf
        elif case == "all_nan":
            S[3, :] = np.nan
        higher = K.higher_is_better(metric)
        idx, sc = K.topk_select(S, 5, higher)
        want_idx, want_sc = self._topk_select_nan_to_num(S, 5, higher)
        assert np.array_equal(idx, want_idx)
        assert np.array_equal(sc, want_sc, equal_nan=True)

    def test_matmul_vs_npdot(self):
        np.random.seed(42)
        Q = np.random.randn(10, 32)
        C = np.random.randn(20, 32)
        np.testing.assert_allclose(K.similarity_matrix(Q, C, "dot"), Q @ C.T, rtol=1e-5)


class TestToMatrix:
    def test_null_elements_become_zero(self):
        # [src/matmul.rs:251, 282]
        M = K.to_matrix([[1.0, None], [2.0, 3.0]])
        np.testing.assert_allclose(M, [[1.0, 0.0], [2.0, 3.0]])

    def test_first_null_raises(self):
        with pytest.raises(ValueError, match="First element is null"):
            K.to_matrix([None, [1.0, 2.0]])

    def test_ragged_raises(self):
        with pytest.raises(ValueError, match="Dimension mismatch"):
            K.to_matrix([[1.0, 2.0], [1.0, 2.0, 3.0]])
