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


def _partition_select(scores, k, higher):
    # the select before the bound, with its unconditional NaN/inf
    # mapping copy: a full-row argpartition, then a stable sort of the k
    # survivors (order among exact ties arbitrary); the reference the
    # fallback and the finite-input shortcut must match bit for bit
    n_c = scores.shape[1]
    s = np.nan_to_num(scores if higher else -scores, nan=-np.inf)
    part = np.argpartition(s, n_c - k, axis=1)[:, n_c - k:]
    order = np.argsort(-np.take_along_axis(s, part, axis=1), axis=1, kind="stable")
    idx = np.take_along_axis(part, order, axis=1)
    return idx, np.take_along_axis(scores, idx, axis=1)


def _stable_sort_select(scores, k, higher):
    # the selection as a full stable sort after the same mapping: the
    # reference the bounded path must match bit for bit (ties by index
    # ascending; NaN scores tie with each other)
    k = min(k, scores.shape[1])
    s = np.nan_to_num(scores if higher else -scores, nan=-np.inf)
    idx = np.argsort(-s, axis=1, kind="stable")[:, :k]
    return idx, np.take_along_axis(scores, idx, axis=1)


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
        want_idx, want_sc = _partition_select(S, 5, higher)
        assert np.array_equal(idx, want_idx)
        assert np.array_equal(sc, want_sc, equal_nan=True)

    def test_matmul_vs_npdot(self):
        np.random.seed(42)
        Q = np.random.randn(10, 32)
        C = np.random.randn(20, 32)
        np.testing.assert_allclose(K.similarity_matrix(Q, C, "dot"), Q @ C.T, rtol=1e-5)


@pytest.fixture
def fallback_rows(monkeypatch):
    """Records how many rows each ``_select_partition`` call gets."""
    calls = []
    real = K._select_partition

    def spy(s, k):
        calls.append(s.shape[0])
        return real(s, k)

    monkeypatch.setattr(K, "_select_partition", spy)
    return calls


class TestBoundedSelect:
    # k = 10 -> m = 160 groups; n_c >= 320 takes the bounded path, which
    # falls back when a call has more than 160 candidates per row
    K_ = 10

    @pytest.mark.parametrize("higher", [True, False])
    @pytest.mark.parametrize("dtype", [np.float32, np.float64])
    def test_bit_equal_to_argpartition_formula(self, dtype, higher, fallback_rows):
        rng = np.random.default_rng(17)
        S = K.similarity_matrix(
            rng.standard_normal((64, 32)).astype(dtype),
            rng.standard_normal((5000, 32)).astype(dtype),
            "cosine",
        )
        idx, sc = K.topk_select(S, self.K_, higher)
        want_idx, want_sc = _partition_select(S, self.K_, higher)
        assert fallback_rows == []  # every row took the bound
        assert idx.dtype == want_idx.dtype
        assert np.array_equal(idx, want_idx)
        assert sc.dtype == dtype and np.array_equal(sc, want_sc)

    @pytest.mark.parametrize("n_c", [2000, 5000])
    def test_exact_ties_come_out_index_ascending(self, n_c, fallback_rows):
        rng = np.random.default_rng(3)
        S = rng.standard_normal((3, n_c))
        S[0, [n_c - 1, 5, 17, n_c // 2]] = 9.0  # a 4-way tie for first
        S[1, [n_c - 2, 3, 11]] = 7.0  # ties straddling k = 2
        S[2] = np.round(S[2], 1)  # ties everywhere
        idx, sc = K.topk_select(S, 2, higher=True)
        assert idx[0].tolist() == [5, 17]
        assert idx[1].tolist() == [3, 11]
        assert np.array_equal(idx, _stable_sort_select(S, 2, True)[0])
        idx, _ = K.topk_select(-S, 3, higher=False)
        assert idx[0].tolist() == [5, 17, n_c // 2]
        assert np.array_equal(idx, _stable_sort_select(S, 3, True)[0])
        assert fallback_rows == []

    def test_constant_rows_take_the_fallback(self, fallback_rows):
        S = np.random.default_rng(4).standard_normal((50, 3000))
        S[[3, 7]] = 0.0
        idx, sc = K.topk_select(S, self.K_, higher=True)
        assert fallback_rows == []  # two rows of candidates are still few
        assert idx[3].tolist() == idx[7].tolist() == list(range(self.K_))
        S[:10] = 0.25
        idx, sc = K.topk_select(S, self.K_, higher=True)
        assert fallback_rows == [50]  # the whole call, with the old tie order
        want_idx, want_sc = _partition_select(S, self.K_, True)
        assert np.array_equal(idx, want_idx) and np.array_equal(sc, want_sc)
        assert (sc[:10] == 0.25).all()
        S[:] = -1.0
        idx, _ = K.topk_select(S, self.K_, higher=False)
        assert fallback_rows == [50, 50]
        assert np.array_equal(idx, _partition_select(S, self.K_, False)[0])

    def test_best_scores_sharing_one_group(self, fallback_rows):
        # column j sits in group j mod m: lifting all of group 0 puts
        # its 100 scores above the bound, far more than k. One such row
        # among eight keeps the call under m candidates per row; eight
        # such rows do not, and the call falls back
        k, m = 3, 48
        S = np.random.default_rng(6).standard_normal((8, 100 * m))
        S[1, ::m] += 10.0
        idx, _ = K.topk_select(S, k, higher=True)
        assert fallback_rows == []
        assert np.array_equal(idx, _stable_sort_select(S, k, True)[0])
        S[:, ::m] += 10.0
        idx, _ = K.topk_select(S, k, higher=True)
        assert fallback_rows == [8]
        assert np.array_equal(idx, _stable_sort_select(S, k, True)[0])

    @pytest.mark.parametrize("higher", [True, False])
    def test_non_finite_scores_on_the_bound(self, higher, fallback_rows):
        rng = np.random.default_rng(8)
        S = rng.standard_normal((40, 3000)).astype(np.float32)
        S[0, rng.choice(3000, 500, replace=False)] = np.nan
        S[1, [10, 20, 30]] = np.inf
        S[2, [11, 21]] = -np.inf
        S[6, : 3000 - 4] = np.nan  # fewer finite scores than k
        idx, sc = K.topk_select(S, self.K_, higher)
        assert fallback_rows == []
        want_idx, want_sc = _stable_sort_select(S, self.K_, higher)
        assert np.array_equal(idx, want_idx)
        assert np.array_equal(sc, want_sc, equal_nan=True)
        assert sorted(idx[6, :4].tolist()) == [2996, 2997, 2998, 2999]
        assert idx[6, 4:].tolist() == list(range(self.K_ - 4))  # NaN ties

    @pytest.mark.parametrize("higher", [True, False])
    def test_non_finite_rows_take_the_fallback(self, higher, fallback_rows):
        rng = np.random.default_rng(9)
        S = rng.standard_normal((8, 3000)).astype(np.float32)
        S[0, [10, 20, 30]] = np.inf
        S[3, :] = np.nan
        S[4, :] = np.inf
        S[5, :] = -np.inf
        idx, sc = K.topk_select(S, self.K_, higher)
        assert fallback_rows == [8]
        want_idx, want_sc = _partition_select(S, self.K_, higher)
        assert np.array_equal(idx, want_idx)
        assert np.array_equal(sc, want_sc, equal_nan=True)
        assert np.isnan(sc[3]).all()

    @pytest.mark.parametrize("n_c,k", [(319, 10), (320, 10), (7, 7), (5, 9), (1, 1)])
    def test_small_corpus_and_k_at_or_past_n_c(self, n_c, k, fallback_rows):
        S = np.random.default_rng(n_c).standard_normal((6, n_c))
        idx, sc = K.topk_select(S, k, higher=True)
        kk = min(k, n_c)
        assert idx.shape == sc.shape == (6, kk)
        assert fallback_rows == ([] if n_c >= 2 * 16 * kk else [6])
        assert np.array_equal(idx, _stable_sort_select(S, k, True)[0])
        assert np.array_equal(sc, np.sort(S, axis=1)[:, ::-1][:, :kk])

    def test_zero_row_at_k_equal_n_c(self, fallback_rows):
        # a zero query under cosine is a constant row; at k = n_c every
        # row is a full stable sort, so its ties come out index-ascending
        S = K.similarity_matrix(
            np.vstack([np.zeros((1, 16)), np.random.default_rng(5).standard_normal((5, 16))]),
            np.random.default_rng(6).standard_normal((2000, 16)),
            "cosine",
        )
        idx, sc = K.topk_select(S, 2000, higher=True)
        assert fallback_rows == [6]
        assert idx[0].tolist() == list(range(2000)) and not sc[0].any()
        assert np.array_equal(idx, _stable_sort_select(S, 2000, True)[0])


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
