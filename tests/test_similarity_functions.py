"""Integration tests for the broadcast-corpus similarity surface, porting
the reference's test suite (tests/test_polars_matmul.py, 6 classes) to
Spark: semantics per metric, explode/unnest composition, k-clamp,
join-back, NumPy oracle, error surface, f32 support, and composition
with filter/select/sort/limit/group-by under the lazy optimizer. The
Column forms are Arrow UDFs and the DataFrame forms projections over
them (``mapInArrow`` only for batches too wide for one Arrow list); they
share one decoder and one per-batch function per operator, and
``TestArrowPaths`` and ``TestNullRule`` pin that they agree.
``TestBroadcastReuse`` pins one shared broadcast for calls against one corpus.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from polars_matmul_spark.functions import matmul, matmul_flatten, topk, topk_exploded
from polars_matmul_spark.functions import similarity as S

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture(scope="module")
def queries_df(spark):
    # tests/test_polars_matmul.py:14-21 analog
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [0, 1],
                "embedding": [[1.0, 0.0], [0.0, 1.0]],
            }
        )
    )


CORPUS = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
LABELS = ["a", "b", "c"]


class TestTopk:
    def test_cosine_semantics(self, queries_df):
        rows = (
            queries_df.withColumn("matches", topk(F.col("embedding"), CORPUS, k=1))
            .orderBy("query_id")
            .collect()
        )
        assert rows[0].matches[0]["index"] == 0  # [1,0] most cosine-similar to itself
        assert rows[1].matches[0]["index"] == 1
        assert rows[0].matches[0].score == pytest.approx(1.0)

    def test_k_clamped_to_corpus(self, queries_df):
        # k > n_corpus silently clamps (src/matmul.rs:443)
        rows = queries_df.withColumn(
            "m", topk(F.col("embedding"), CORPUS, k=10)
        ).collect()
        assert all(len(r.m) == 3 for r in rows)

    def test_sorted_best_first(self, queries_df):
        rows = queries_df.withColumn(
            "m", topk(F.col("embedding"), CORPUS, k=3, metric="dot")
        ).collect()
        for r in rows:
            scores = [m["score"] for m in r.m]
            assert scores == sorted(scores, reverse=True)

    def test_euclidean_ascending(self, queries_df):
        rows = queries_df.withColumn(
            "m", topk(F.col("embedding"), CORPUS, k=3, metric="euclidean")
        ).collect()
        for r in rows:
            scores = [m["score"] for m in r.m]
            assert scores == sorted(scores)

    def test_explode_unnest_join_back(self, spark, queries_df):
        # the README retrieval pattern (README.md:110-124)
        meta = spark.createDataFrame(
            pd.DataFrame({"index": range(3), "label": LABELS})
        )
        out = (
            topk_exploded(queries_df, F.col("embedding"), CORPUS, k=2, keep=["query_id"])
            .join(F.broadcast(meta), "index", "left")
            .orderBy("query_id", F.desc("score"))
            .collect()
        )
        assert len(out) == 4
        assert out[0].label == "a" and out[0].query_id == 0

    def test_score_always_double(self, queries_df):
        df = queries_df.withColumn(
            "m", topk(F.col("embedding").cast("array<float>"), CORPUS.astype(np.float32), k=1)
        )
        field = df.schema["m"].dataType.elementType["score"].dataType.simpleString()
        assert field == "double"  # src/matmul.rs:446-447


class TestMatmul:
    def test_values_vs_npdot(self, spark):
        np.random.seed(42)
        Q = np.random.randn(10, 32)
        C = np.random.randn(20, 32)
        df = spark.createDataFrame(
            pd.DataFrame({"i": range(10), "embedding": list(Q)})
        )
        rows = df.withColumn("s", matmul(F.col("embedding"), C)).orderBy("i").collect()
        got = np.array([r.s for r in rows])
        np.testing.assert_allclose(got, Q @ C.T, rtol=1e-5)

    def test_flatten_row_major(self, spark):
        # flatten order is row-major (tests/test_polars_matmul.py:204-222)
        Q = np.array([[1.0, 0.0], [0.0, 1.0]])
        df = spark.createDataFrame(pd.DataFrame({"i": [0, 1], "embedding": list(Q)}))
        out = (
            matmul_flatten(df, F.col("embedding"), CORPUS, keep=["i"])
            .orderBy("i", "corpus_index")
            .collect()
        )
        flat = [r.score for r in out]
        expected = (Q @ CORPUS.T).ravel().tolist()
        assert flat == pytest.approx(expected)
        assert len(flat) == 6  # n_q * n_c

    def test_flatten_series_ports_reference_test(self, spark):
        # the reference flatten-mode test ported 1:1
        # (tests/test_polars_matmul.py:204-222): 3 queries x 2 corpus ->
        # 6 flat double scores in row-major order
        from polars_matmul_spark.functions import matmul_flatten_series

        df = spark.createDataFrame(
            pd.DataFrame({"embedding": [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]})
        ).coalesce(1)
        corpus = [[1.0, 0.0], [0.0, 1.0]]
        out = matmul_flatten_series(df, F.col("embedding"), corpus, out_col="flat")
        assert out.columns == ["flat"]
        assert out.schema["flat"].dataType.simpleString() == "double"
        flat = [r.flat for r in out.collect()]
        assert len(flat) == 6
        assert flat == pytest.approx([1.0, 0.0, 0.0, 1.0, 1.0, 1.0])

    def test_output_width_promotion(self, spark):
        # f32 iff both sides f32 (fixes SURVEY §1.2 wrinkle)
        df = spark.createDataFrame(
            pd.DataFrame({"embedding": [[1.0, 2.0]]})
        ).withColumn("emb32", F.col("embedding").cast("array<float>"))
        c32 = CORPUS.astype(np.float32)
        t1 = df.withColumn("s", matmul(F.col("emb32"), c32, input_is_f32=True)).schema["s"]
        assert t1.dataType.elementType.simpleString() == "float"
        t2 = df.withColumn("s", matmul(F.col("embedding"), c32)).schema["s"]
        assert t2.dataType.elementType.simpleString() == "double"
        t3 = df.withColumn("s", matmul(F.col("emb32"), CORPUS, input_is_f32=True)).schema["s"]
        assert t3.dataType.elementType.simpleString() == "double"


class TestErrorHandling:
    def test_empty_corpus(self, queries_df):
        with pytest.raises(ValueError, match="Empty"):
            topk(F.col("embedding"), np.empty((0, 2)), k=1)

    def test_unknown_metric(self, queries_df):
        with pytest.raises(ValueError, match="Unknown metric"):
            topk(F.col("embedding"), CORPUS, k=1, metric="invalid_metric")

    def test_corpus_must_be_materialized(self, queries_df):
        # reference raises TypeError on Expr corpus
        with pytest.raises(TypeError, match="materialized"):
            topk(F.col("embedding"), F.col("embedding"), k=1)

    def test_dim_mismatch_at_execution(self, queries_df):
        bad = np.ones((2, 3))
        df = queries_df.withColumn("m", topk(F.col("embedding"), bad, k=1))
        with pytest.raises(PythonException, match="Dimension mismatch"):
            df.collect()


class TestFloat32:
    def test_f32_path_values(self, spark):
        np.random.seed(42)
        Q = np.random.randn(5, 16).astype(np.float32)
        C = np.random.randn(11, 16).astype(np.float32)
        df = spark.createDataFrame(
            pd.DataFrame({"i": range(5), "embedding": list(Q)})
        ).withColumn("embedding", F.col("embedding").cast("array<float>"))
        rows = (
            df.withColumn("m", topk(F.col("embedding"), C, k=3, metric="cosine"))
            .orderBy("i")
            .collect()
        )
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        S = Qn @ Cn.T
        for i, r in enumerate(rows):
            expect = np.sort(S[i])[::-1][:3]
            got = [m["score"] for m in r.m]
            np.testing.assert_allclose(got, expect, rtol=1e-4)

    def test_pmm_namespace_mirrors_reference_call_shape(self, spark):
        # the reference's documented call shape (README.md:50-52):
        #   queries.with_columns(pl.col("embedding").pmm.topk(corpus, k=2))
        # runs verbatim modulo the Spark spelling after package import
        import polars_matmul_spark  # noqa: F401 — registers .pmm

        queries = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
            "id long, embedding array<double>",
        )
        corpus = [[0.9, 0.1, 0.0], [0.1, 0.9, 0.0], [0.0, 0.1, 0.9]]
        rows = (
            queries.withColumn("matches", F.col("embedding").pmm.topk(corpus, k=2))
            .orderBy("id")
            .collect()
        )
        assert [r.matches[0]["index"] for r in rows] == [0, 1, 2]
        assert all(len(r.matches) == 2 for r in rows)
        # matmul through the namespace too: one score-array per row
        m = queries.withColumn("s", F.col("embedding").pmm.matmul(corpus)).first()
        assert len(m.s) == 3
        # flatten through the namespace: the reference's flatten-mode
        # test (tests/test_polars_matmul.py:204-222) 1:1 in the
        # Column-expression spelling — explode(matmul) is a generator
        # expression, so the single select changes the row count just
        # like Polars map_batches(is_elementwise=False)
        fdf = spark.createDataFrame(
            pd.DataFrame({"embedding": [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]})
        ).coalesce(1)
        fout = fdf.select(
            F.col("embedding").pmm.matmul([[1.0, 0.0], [0.0, 1.0]], flatten=True).alias("flat")
        )
        assert fout.schema["flat"].dataType.simpleString() == "double"
        flat = [r.flat for r in fout.collect()]
        assert len(flat) == 6  # 3 queries x 2 corpus
        assert flat == pytest.approx([1.0, 0.0, 0.0, 1.0, 1.0, 1.0])

    def test_flagship_corpus_materializes_f32(self, spark, sf_dir):
        # the entry() flagship path: the f32 embeddings parquet must
        # reach the kernel as f32 on BOTH sides so the both-f32 rule
        # [src/matmul.rs:307-314] actually triggers (round-1 finding:
        # to_matrix silently promoted the corpus to f64)
        from polars_matmul_spark.kernels import promote_dtype, to_matrix
        from polars_matmul_spark.sources.tables import load_table

        emb = load_table(spark, "embeddings", sf_dir)
        pdf = emb.filter(F.col("vec_id") >= 50).select("embedding").limit(32).toPandas()
        corpus = to_matrix(pdf["embedding"].tolist())
        assert corpus.dtype == np.float32
        # the query batch arrives from Arrow as f32 too; both-f32 -> f32
        assert promote_dtype(np.float32, corpus.dtype) == np.float32


class TestArrowPaths:
    """The DataFrame kernel forms must equal the Column (Arrow UDF)
    forms exactly (same batch function, same promotion, same element
    types), on the projection path and on the ``mapInArrow`` path alike
    — they are the perf path, not a semantic variant."""

    @pytest.fixture(scope="class")
    def f32_df(self, spark):
        rng = np.random.default_rng(7)
        self.Q = rng.standard_normal((40, 16)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, q.tolist()) for i, q in enumerate(self.Q)],
            "query_id long, embedding array<float>",
        ).coalesce(2)
        return df.cache()

    def test_topk_arrow_equals_column_topk(self, spark, f32_df):
        from polars_matmul_spark.functions import topk_arrow

        rng = np.random.default_rng(8)
        C = rng.standard_normal((30, 16)).astype(np.float32)
        old = (
            f32_df.withColumn("m", topk(F.col("embedding"), C, k=4))
            .select("query_id", "m").toPandas().sort_values("query_id")
        )
        new = (
            topk_arrow(f32_df, "embedding", C, k=4, out_col="m")
            .select("query_id", "m").toPandas().sort_values("query_id")
        )
        for a, b in zip(old["m"], new["m"]):
            assert [(d["index"], d["score"]) for d in a] == [
                (d["index"], d["score"]) for d in b
            ]

    def test_matmul_arrow_equals_column_matmul_and_dtype(self, spark, f32_df):
        from polars_matmul_spark.functions import matmul_arrow

        rng = np.random.default_rng(9)
        C = rng.standard_normal((13, 16)).astype(np.float32)
        old = (
            f32_df.withColumn("s", matmul(F.col("embedding"), C, input_is_f32=True))
            .select("query_id", "s").toPandas().sort_values("query_id")
        )
        df_new = matmul_arrow(f32_df, "embedding", C, input_is_f32=True, out_col="s")
        # both-f32 keeps the declared f32 output element type
        assert dict(df_new.dtypes)["s"] == "array<float>"
        new = df_new.select("query_id", "s").toPandas().sort_values("query_id")
        for a, b in zip(old["s"], new["s"]):
            assert np.array_equal(np.asarray(a), np.asarray(b))

    def test_arrow_paths_empty_input(self, spark):
        from polars_matmul_spark.functions import matmul_arrow, topk_arrow

        C = np.ones((3, 4), dtype=np.float32)
        empty = spark.createDataFrame([], "query_id long, embedding array<float>")
        # read the output column: a count() prunes the kernel away
        assert topk_arrow(empty, "embedding", C, k=2).select("matches").collect() == []
        assert matmul_arrow(empty, "embedding", C).select("scores").collect() == []

    def test_topk_arrow_null_vector_and_k_clamp(self, spark):
        from polars_matmul_spark.functions import topk_arrow

        C = np.eye(3, dtype=np.float64)
        df = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (1, None)],
            "query_id long, embedding array<double>",
        )
        rows = (
            topk_arrow(df, "embedding", C, k=99, metric="dot")
            .orderBy("query_id").collect()
        )
        # k clamps to n_corpus; a null row falls back to the zero vector
        assert all(len(r.matches) == 3 for r in rows)
        assert rows[0].matches[0]["score"] == 1.0
        assert all(m["score"] == 0.0 for m in rows[1].matches)

    @pytest.mark.parametrize("trigger", ["list_limit", "batch_conf"])
    def test_wide_batches_take_map_path_with_same_rows(self, spark, f32_df, monkeypatch, trigger):
        # a batch whose output could pass Spark's 32-bit list offsets
        # cannot come back from an Arrow UDF: the forms fall back to the
        # row-slicing mapInArrow plumbing and return the same rows
        from polars_matmul_spark.functions import matmul_arrow, topk_arrow
        from polars_matmul_spark.plans.inspect import explain_str

        rng = np.random.default_rng(10)
        C = rng.standard_normal((5, 16)).astype(np.float32)

        def build():
            return [
                topk_arrow(f32_df, "embedding", C, k=3, out_col="m"),
                matmul_arrow(f32_df, "embedding", C, input_is_f32=True, out_col="m"),
            ]

        def matches(df):
            # (index, score) per match in query_id order; a matmul row's
            # index is the position
            rows = [r.m for r in sorted(df.collect())]
            return np.array(
                [[(j, m) if isinstance(m, float) else tuple(m) for j, m in enumerate(r)] for r in rows]
            )

        projected = build()
        assert all("ArrowEvalPython" in explain_str(df, "simple") for df in projected)
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(conf)
        try:
            if trigger == "list_limit":
                # 7 list elements per emitted batch: 2 top-k rows, 1 matmul row
                monkeypatch.setattr(S, "_LIST_LIMIT", 8)
            else:
                spark.conf.set(conf, "0")
            mapped = build()
            for a, b in zip(projected, mapped):
                assert "MapInArrow" in explain_str(b, "simple")
                # one schema whichever path a call takes
                assert a.schema == b.schema and a.schema["m"].nullable
                a, b = matches(a), matches(b)
                assert np.array_equal(a[..., 0], b[..., 0])
                # sliced rows may take another f32 GEMM path (~1 ulp apart)
                np.testing.assert_allclose(a[..., 1], b[..., 1], rtol=1e-5, atol=1e-6)
        finally:
            spark.conf.set(conf, old)

    def test_encoder_refuses_offsets_past_the_list_limit(self, monkeypatch):
        # a batch wider than Spark's 32-bit list offsets fails loudly
        # instead of wrapping its offsets
        import pyarrow as pa

        monkeypatch.setattr(S, "_LIST_LIMIT", 8)
        list_type = pa.list_(pa.int64())
        assert S.rows_to_list_array(pa.array(range(8)), 4, list_type).to_pylist()[3] == [6, 7]
        with pytest.raises(ValueError, match="32-bit Arrow list offsets"):
            S.rows_to_list_array(pa.array(range(9)), 3, list_type)


class _Handle:
    """A broadcast handle that a weak reference can watch."""


class _FakeContext:
    """Stands in for a SparkContext: counts the broadcasts it makes,
    and calls ``wait`` inside each one if given."""

    def __init__(self, wait=None):
        self.made, self.wait = 0, wait

    def broadcast(self, value):
        self.made += 1
        if self.wait is not None:
            self.wait()
        return _Handle()


class TestBroadcastReuse:
    """Calls against one corpus share one broadcast per SparkContext,
    in every entry form; a matrix changed in place gets a new one, and
    only the last matrix's broadcast is held."""

    @pytest.fixture()
    def ids(self, monkeypatch):
        made = []
        real = S._broadcast

        def spy(sc, M):
            bc = real(sc, M)
            made.append(bc)
            return bc

        monkeypatch.setattr(S, "_broadcast", spy)
        return made

    @pytest.fixture(scope="class")
    def qdf(self, spark):
        rng = np.random.default_rng(20)
        return spark.createDataFrame(
            [(i, rng.standard_normal(6).astype(np.float32).tolist()) for i in range(5)],
            "query_id long, embedding array<float>",
        )

    def test_entry_forms_share_one_broadcast(self, spark, qdf, ids, monkeypatch):
        from polars_matmul_spark.functions import matmul_arrow, topk_arrow

        sc = spark.sparkContext
        made = []
        real_broadcast = sc.broadcast
        monkeypatch.setattr(sc, "broadcast", lambda v: made.append(v) or real_broadcast(v))
        C = np.random.default_rng(21).standard_normal((12, 6)).astype(np.float32)
        emb = F.col("embedding")
        outs = [
            qdf.select(topk(emb, C, k=3)),
            qdf.select(emb.pmm.topk(C.copy(), k=3)),
            qdf.select(matmul(emb, C.copy(), input_is_f32=True)),
            topk_arrow(qdf, "embedding", list(C), k=3),
            matmul_arrow(qdf, "embedding", C.copy(), input_is_f32=True),
        ]
        for out in outs:
            assert len(out.collect()) == 5
        assert len(ids) == 5 and all(bc is ids[0] for bc in ids)
        assert len(made) == 1

    def test_in_place_write_gets_new_broadcast_and_scores(self, spark, ids):
        from polars_matmul_spark.functions import topk_arrow

        df = spark.createDataFrame([(0, [1.0, 0.0, 0.0])], "query_id long, embedding array<double>")
        C = np.abs(np.random.default_rng(22).standard_normal((4, 3))) + 1.0

        def best():
            m = topk_arrow(df, "embedding", C, k=1, metric="dot").collect()[0].matches[0]
            return m["index"], m["score"]

        assert best() == (int(np.argmax(C[:, 0])), float(C[:, 0].max()))
        C[:] = 0.0
        C[2, 0] = 5.0
        assert best() == (2, 5.0)
        assert len(ids) == 2 and ids[0] is not ids[1]

    def test_only_the_last_matrix_is_held(self, spark):
        import gc
        import weakref

        sc = _FakeContext()
        first, second = (np.full((512, 512), v) for v in (1.0, 2.0))  # 2 MB each
        held = weakref.ref(S._broadcast(sc, first))
        assert S._broadcast(sc, first.copy()) is held()
        last = S._broadcast(sc, second)
        gc.collect()
        # the first corpus's broadcast is no longer referenced by the cache
        assert held() is None and sc._pmm_broadcast[1] is last
        assert S._broadcast(sc, second.copy()) is last and sc.made == 2
        # same bytes under another dtype or shape is a new matrix
        S._broadcast(sc, second.view(np.int64))
        S._broadcast(sc, second.reshape(256, 1024))
        assert sc.made == 4
        # a new context starts empty
        fresh = _FakeContext()
        assert S._broadcast(fresh, second) is not last and fresh.made == 1
        assert isinstance(spark.sparkContext.__dict__.get("_pmm_broadcast", ()), tuple)

    def test_distinct_matrices_broadcast_concurrently(self):
        # the cache adds no lock around sc.broadcast: two threads with
        # different corpora are inside their broadcasts at the same time
        import threading

        both_inside = threading.Barrier(2, timeout=10)
        sc = _FakeContext(wait=both_inside.wait)
        errors = []

        def call(v):
            try:
                S._broadcast(sc, np.full((3, 3), v))
            except threading.BrokenBarrierError as e:
                errors.append(e)

        threads = [threading.Thread(target=call, args=(v,)) for v in (1.0, 2.0)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not errors and sc.made == 2

    def test_reused_worker_keeps_its_loaded_copy(self, spark):
        import pyarrow as pa

        C = np.random.default_rng(23).standard_normal((50, 4))

        def run():
            bc = S._broadcast(spark.sparkContext, C.copy())

            def probe(batches):
                import os

                for _ in batches:
                    pass
                yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "copy": [id(bc.value)]})

            return spark.range(1, numPartitions=1).mapInArrow(probe, "pid long, copy long").collect()[0]

        # idle workers are taken in turn, so single-task jobs come back
        # to a worker once they have cycled through the idle pool (which
        # earlier, wider jobs may have grown); that worker must still
        # hold the copy it loaded before
        copies = {}
        for _ in range(200):
            r = run()
            if r.pid in copies:
                assert r.copy == copies[r.pid]
                break
            copies[r.pid] = r.copy
        else:
            pytest.fail(f"no worker came back in 200 jobs: {len(copies)} workers")


class TestNullRule:
    """One null rule for every kernel entry form, the Arrow decoder's:
    a null vector is the zero vector (src/matmul.rs:251) and a data NaN
    propagates into the NaN-safe top-k as in the reference
    (src/topk.rs:19-29) — also when a batch starts with a null row."""

    Q = [None, [1.0, 2.0, 0.5], [0.5, float("nan"), 1.0], [-1.0, 0.0, 2.0]]
    C = np.array(
        [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0], [1.0, 1.0, 1.0]]
    )
    TOP_K = 2

    def _run(self, spark, path):
        from polars_matmul_spark.functions import topk_arrow
        from polars_matmul_spark.operators.similarity_join import topk_join_blocked

        # one partition, so the kernel's batch starts with the null row
        df = spark.createDataFrame(
            list(enumerate(self.Q)), "query_id long, embedding array<double>"
        ).coalesce(1)
        if path == "topk_join_blocked":
            corpus = spark.createDataFrame(
                [(i, c.tolist()) for i, c in enumerate(self.C)],
                "corpus_id long, embedding array<double>",
            )
            pdf = (
                topk_join_blocked(df, corpus, k=self.TOP_K, metric="dot")
                .toPandas()
                .sort_values(["query_id", "rank"])
            )
            shape = (len(self.Q), self.TOP_K)
            return (
                pdf["corpus_id"].to_numpy().reshape(shape),
                pdf["score"].to_numpy().reshape(shape),
            )
        if path == "pmm_topk":
            out = df.select(
                "query_id",
                F.col("embedding").pmm.topk(self.C, k=self.TOP_K, metric="dot").alias("m"),
            )
        else:
            out = topk_arrow(df, "embedding", self.C, k=self.TOP_K, metric="dot", out_col="m")
        rows = out.orderBy("query_id").collect()
        idx = np.array([[m["index"] for m in r.m] for r in rows])
        sc = np.array([[m["score"] for m in r.m] for r in rows])
        return idx, sc

    @pytest.mark.parametrize("path", ["pmm_topk", "topk_arrow", "topk_join_blocked"])
    def test_agrees_with_kernel(self, spark, path):
        from polars_matmul_spark import kernels as K

        ref_q = np.array([[0.0, 0.0, 0.0]] + self.Q[1:])
        ref_idx, ref_sc = K.topk(ref_q, self.C, self.TOP_K, "dot")
        idx, sc = self._run(spark, path)
        # the NaN row's scores stay NaN (not zeroed); the null row scores 0
        assert np.isnan(sc[2]).all()
        assert (sc[0] == 0.0).all()
        np.testing.assert_array_equal(sc, ref_sc)
        # rows 1 and 3 have distinct scores, so their order is defined
        np.testing.assert_array_equal(idx[[1, 3]], ref_idx[[1, 3]])


class TestLazyComposition:
    """Kernel composed with the host-engine surface under Catalyst
    (tests/test_polars_matmul.py:467-768 analog)."""

    @pytest.fixture(scope="class")
    def flagged(self, spark):
        np.random.seed(7)
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": range(8),
                    "embedding": list(np.random.randn(8, 2)),
                    "active": [True, False] * 4,
                }
            )
        )

    def test_filter_before_kernel(self, flagged):
        out = (
            flagged.filter(F.col("active"))
            .withColumn("m", topk(F.col("embedding"), CORPUS, k=1))
            .collect()
        )
        assert len(out) == 4

    def test_filter_after_kernel_on_score(self, flagged):
        out = (
            flagged.withColumn("m", topk(F.col("embedding"), CORPUS, k=1))
            .withColumn("best", F.col("m")[0]["score"])
            .filter(F.col("best") > 0.9)
            .collect()
        )
        for r in out:
            assert r.best > 0.9

    def test_select_prunes(self, flagged):
        out = (
            flagged.withColumn("m", topk(F.col("embedding"), CORPUS, k=1))
            .select("query_id", "m")
            .columns
        )
        assert out == ["query_id", "m"]

    def test_sort_and_limit(self, flagged):
        out = (
            flagged.withColumn("m", topk(F.col("embedding"), CORPUS, k=1))
            .withColumn("best", F.col("m")[0]["score"])
            .orderBy(F.desc("best"))
            .limit(3)
            .collect()
        )
        assert len(out) == 3
        assert out[0].best >= out[-1].best

    def test_groupby_after_kernel(self, flagged):
        out = (
            topk_exploded(flagged, F.col("embedding"), CORPUS, k=2, keep=["active"])
            .groupBy("active")
            .agg(F.avg("score").alias("avg_score"), F.countDistinct("index").alias("n_idx"))
            .collect()
        )
        assert len(out) == 2

    def test_two_kernels_one_plan(self, flagged):
        out = flagged.withColumn(
            "m1", topk(F.col("embedding"), CORPUS, k=1, metric="cosine")
        ).withColumn("m2", topk(F.col("embedding"), CORPUS, k=1, metric="euclidean"))
        assert out.count() == 8

    def test_empty_input_typed_result(self, spark, flagged):
        out = (
            flagged.filter(F.lit(False))
            .withColumn("m", topk(F.col("embedding"), CORPUS, k=2))
            .collect()
        )
        assert out == []

    def test_window_over_scores(self, flagged):
        ex = topk_exploded(flagged, F.col("embedding"), CORPUS, k=3, keep=["query_id"])
        w = Window.partitionBy("query_id").orderBy(F.desc("score"))
        out = ex.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
        assert len(out) == 8
