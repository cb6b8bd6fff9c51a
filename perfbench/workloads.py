"""The benchmark's two workloads and the front-door probe.

Each workload generates its raw inputs from a seed once, sets up
(session inputs plus a warm-up where it has one), runs one operation at
a time and checks every operation's output. ``run_op`` is timed; ``check`` is not. ``probe``
runs only in the traced run and measures layer floors outside the op.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K_TOP = 10


def _list_array(M: np.ndarray) -> pa.ListArray:
    n, d = M.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(M.ravel()))


def _unit_rows(M: np.ndarray) -> np.ndarray:
    M = M.astype(np.float64)
    return M / np.maximum(np.linalg.norm(M, axis=-1, keepdims=True), 1e-10)


def _topk_ok(idx, sc, Qn, C, ref_sc, tol=1e-4) -> bool:
    """A valid exact top-k: scores equal the reference's within f32
    tolerance, no index repeats in a row, and every returned index
    really has the score reported for it (so index sets may differ
    from the reference only among tied scores)."""
    if idx.shape != ref_sc.shape or sc.shape != ref_sc.shape:
        return False
    if not np.allclose(sc, ref_sc, rtol=0, atol=tol):
        return False
    if (np.diff(np.sort(idx, axis=1), axis=1) == 0).any():
        return False
    true = np.einsum("ij,ikj->ik", Qn, _unit_rows(C[idx]))
    return bool(np.allclose(true, sc, rtol=0, atol=tol))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    def final_probe(self, spark, ledger):
        """Runs once at the end of a traced run; returns whether its
        output checked out, or None when there is none."""
        return None


class RefShape(Workload):
    """The reference's canonical shape: 1000 queries x 10000 corpus x
    256 dims, f32, k=10 cosine. One op is a round of three calls on a
    cached query frame, each building its own plan (corpus broadcast
    included) and fetching its output to the driver."""

    name = "ref_shape"
    N_Q, N_C, DIM, N_SAMPLE = 1000, 10000, 256, 16
    CALLS = ("topk", "pmm_topk", "matmul")

    def __init__(self, seed: int, tmp: str, cpus: int):
        self.seed, self.cpus = seed, cpus
        self.kernel_shape = (math.ceil(self.N_Q / cpus), self.N_C, self.DIM)
        self.front_door = FrontDoor(seed, tmp)

    def generate(self):
        rng = np.random.default_rng(self.seed)
        self.Q = rng.standard_normal((self.N_Q, self.DIM), dtype=np.float32)
        self.C = rng.standard_normal((self.N_C, self.DIM), dtype=np.float32)
        self.sample = sorted(int(i) for i in rng.choice(self.N_Q, self.N_SAMPLE, replace=False))

    def setup(self, spark, ledger):
        tbl = pa.table({"qid": pa.array(np.arange(self.N_Q, dtype=np.int64)), "emb": _list_array(self.Q)})
        self.qdf = spark.createDataFrame(tbl).repartition(self.cpus, "qid").cache()
        self.qdf.count()
        self.run_op(ledger)

    def release(self):
        self.qdf.unpersist()

    def prepare_check(self):
        from polars_matmul_spark import kernels as K

        _, self.ref_sc = K.topk(self.Q, self.C, K_TOP, "cosine")
        self.Qn = _unit_rows(self.Q)
        self.mm_want = self.Q[self.sample].astype(np.float64) @ self.C.T.astype(np.float64)

    def _build(self, call):
        from pyspark.sql import functions as F

        from polars_matmul_spark.functions import similarity as S

        if call == "topk":
            return S.topk_arrow(self.qdf, "emb", self.C, K_TOP)
        if call == "pmm_topk":
            return self.qdf.select("qid", F.col("emb").pmm.topk(self.C, k=K_TOP).alias("matches"))
        return S.matmul_arrow(self.qdf, "emb", self.C, input_is_f32=True).filter(
            F.col("qid").isin(self.sample)
        )

    def run_op(self, ledger):
        out = {}
        for call in self.CALLS:
            with ledger.span(f"similarity.{call}"):
                with ledger.span(f"similarity.{call}.build"):
                    df = self._build(call)
                with ledger.span(f"similarity.{call}.action"):
                    out[call] = df.toArrow()
        return out

    def check(self, out) -> bool:
        for call in ("topk", "pmm_topk"):
            tbl = out[call].sort_by("qid")
            if tbl.column("qid").to_pylist() != list(range(self.N_Q)):
                return False
            flat = tbl.column("matches").combine_chunks().flatten()
            idx = flat.field("index").to_numpy().reshape(self.N_Q, -1)
            sc = flat.field("score").to_numpy().reshape(self.N_Q, -1)
            if not _topk_ok(idx, sc, self.Qn, self.C, self.ref_sc):
                return False
        tbl = out["matmul"].sort_by("qid")
        if tbl.column("qid").to_pylist() != self.sample:
            return False
        got = tbl.column("scores").combine_chunks().flatten().to_numpy().reshape(len(self.sample), self.N_C)
        return bool(np.allclose(got, self.mm_want, rtol=1e-4, atol=1e-3))

    def probe(self, spark, ledger):
        """Identity mapInArrow floors over the same cached input: one
        reads the embeddings and emits only ids (the exchange floor of
        the top-k calls), one emits matmul-shaped zero rows (the
        output floor of the matmul call)."""
        from pyspark.sql import functions as F

        n_c = self.N_C

        def ids_only(batches):
            for rb in batches:
                rb.column(rb.schema.get_field_index("emb")).flatten()
                yield pa.RecordBatch.from_arrays([rb.column(rb.schema.get_field_index("qid"))], ["qid"])

        def zero_rows(batches):
            for rb in batches:
                n = rb.num_rows
                offs = pa.array(np.arange(0, n * n_c + 1, n_c, dtype=np.int32))
                rows = pa.ListArray.from_arrays(offs, pa.array(np.zeros(n * n_c, dtype=np.float32)))
                yield pa.RecordBatch.from_arrays(
                    [rb.column(rb.schema.get_field_index("qid")), rows], ["qid", "scores"]
                )

        with ledger.span("similarity.floor_in"):
            self.qdf.mapInArrow(ids_only, "qid long").toArrow()
        with ledger.span("similarity.floor_out"):
            self.qdf.mapInArrow(zero_rows, "qid long, scores array<float>").filter(
                F.col("qid").isin(self.sample)
            ).toArrow()

    def final_probe(self, spark, ledger):
        """The two-epoch front door, once: no similarity kernel on its
        path, so a kernel or exchange change should leave it alone."""
        return self.front_door.run(spark, ledger)

    def layer_metrics(self, ledger, op_counters) -> dict[str, float]:
        n_q, d, n_c = self.N_Q, self.DIM, self.N_C
        frame = (n_q + 1) * 4 + n_q * 8  # list offsets + qid column
        out = {
            "similarity.floor_in_s": _median(ledger.walls("similarity.floor_in")),
            "similarity.floor_out_s": _median(ledger.walls("similarity.floor_out")),
            "similarity.arrow_bytes_in": n_q * d * 4 + frame,
            "similarity.topk_arrow_bytes_out": n_q * K_TOP * 16 + frame,
            "similarity.matmul_arrow_bytes_out": n_q * n_c * 4 + frame,
        }
        for call in self.CALLS:
            for part in ("build", "action"):
                out[f"similarity.{call}_{part}_s"] = _median(ledger.walls(f"similarity.{call}.{part}"))
        out.update(self.front_door.layer_metrics(ledger))
        return out


class BlockedCorpus(Workload):
    """``topk_join_blocked``: 200 queries against a 250k x 64 f32 corpus
    that is written to parquet in setup and scanned, uncached, by every
    op."""

    name = "blocked_corpus"
    N_Q, N_C, DIM, N_FILES = 200, 250_000, 64, 8
    BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch of plans.session

    def __init__(self, seed: int, tmp: str, cpus: int):
        self.seed = seed
        self.path = os.path.join(tmp, "blocked_corpus")
        self.kernel_shape = (self.N_Q, self.BATCH, self.DIM)

    def generate(self):
        rng = np.random.default_rng(self.seed)
        self.Q = rng.standard_normal((self.N_Q, self.DIM), dtype=np.float32)
        self.C = rng.standard_normal((self.N_C, self.DIM), dtype=np.float32)
        os.makedirs(self.path, exist_ok=True)
        step = self.N_C // self.N_FILES
        for f in range(self.N_FILES):
            lo = f * step
            part = pa.table(
                {
                    "corpus_id": pa.array(np.arange(lo, lo + step, dtype=np.int64)),
                    "embedding": _list_array(self.C[lo : lo + step]),
                }
            )
            pq.write_table(part, os.path.join(self.path, f"part-{f:02d}.parquet"), compression="none")

    def setup(self, spark, ledger):
        self.spark = spark
        self.qdf = spark.createDataFrame(
            pa.table({"query_id": pa.array(np.arange(self.N_Q, dtype=np.int64)), "embedding": _list_array(self.Q)})
        ).cache()
        self.qdf.count()
        self.run_op(ledger)

    def release(self):
        self.qdf.unpersist()

    def prepare_check(self):
        """Exact cosine top-k in f64, merged over corpus blocks."""
        self.Qn = _unit_rows(self.Q)
        best_s = np.full((self.N_Q, 0), -np.inf)
        best_i = np.zeros((self.N_Q, 0), dtype=np.int64)
        for lo in range(0, self.N_C, 50_000):
            S = self.Qn @ _unit_rows(self.C[lo : lo + 50_000]).T
            part = np.argpartition(S, -K_TOP, axis=1)[:, -K_TOP:]
            best_s = np.hstack([best_s, np.take_along_axis(S, part, 1)])
            best_i = np.hstack([best_i, part + lo])
            keep = np.argsort(-best_s, axis=1)[:, :K_TOP]
            best_s = np.take_along_axis(best_s, keep, 1)
            best_i = np.take_along_axis(best_i, keep, 1)
        self.ref_sc = best_s

    def run_op(self, ledger):
        from polars_matmul_spark.operators.similarity_join import topk_join_blocked

        with ledger.span("similarity_join.build"):
            corpus = self.spark.read.parquet(self.path)
            df = topk_join_blocked(self.qdf, corpus, k=K_TOP, metric="cosine")
        with ledger.span("similarity_join.action"):
            return df.select("query_id", "corpus_id", "score", "rank").toArrow()

    def check(self, tbl) -> bool:
        tbl = tbl.sort_by([("query_id", "ascending"), ("rank", "ascending")])
        if tbl.num_rows != self.N_Q * K_TOP:
            return False
        qid = tbl.column("query_id").to_numpy().reshape(self.N_Q, K_TOP)
        if not (qid == np.arange(self.N_Q)[:, None]).all():
            return False
        idx = tbl.column("corpus_id").to_numpy().reshape(self.N_Q, K_TOP)
        sc = tbl.column("score").to_numpy().reshape(self.N_Q, K_TOP)
        return _topk_ok(idx, sc, self.Qn, self.C, self.ref_sc)

    def probe(self, spark, ledger):
        with ledger.span("sources.scan"):
            spark.read.parquet(self.path).write.format("noop").mode("overwrite").save()

    def layer_metrics(self, ledger, op_counters) -> dict[str, float]:
        cand = _median([c["shuffle_write_records"] for c in op_counters])
        return {
            "similarity_join.build_s": _median(ledger.walls("similarity_join.build")),
            "similarity_join.action_s": _median(ledger.walls("similarity_join.action")),
            "similarity_join.candidate_rows": cand,
            "similarity_join.kept_ratio": self.N_Q * K_TOP / cand if cand else 0.0,
            "sources.scan_s": _median(ledger.walls("sources.scan")),
        }


_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "group filter stream big vector"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "zh")


class FrontDoor:
    """``queries_pipeline._front_door_epochs`` over a seeded 5000-document
    table: the two-epoch streaming curation chain, checked against the
    package's DuckDB oracle. It runs once, as a probe at the end of the
    traced ``ref_shape`` run: one call takes about 60 s on a 4-core host,
    too long to repeat in every run of the benchmark."""

    N_DOCS = 5000
    STAGES = ("head", "quota", "line_strip", "excise", "bloom", "minhash", "decontaminate", "readback")

    def __init__(self, seed: int, tmp: str):
        self.seed = seed
        self.sf_dir = os.path.join(tmp, "front_door")
        self.epochs: list[dict] = []
        self.counters: dict[str, float] = {}

    def generate(self):
        rng = np.random.default_rng(self.seed)
        lengths = rng.integers(8, 91, self.N_DOCS)
        words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
        texts, pos = [], 0
        for n in lengths:
            texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + n]))
            pos += n
        os.makedirs(self.sf_dir, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(np.arange(self.N_DOCS, dtype=np.int64)),
                    "text": texts,
                    "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), self.N_DOCS)],
                    "source": [f"src{i % 3}" for i in range(self.N_DOCS)],
                    "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
                }
            ),
            os.path.join(self.sf_dir, "documents.parquet"),
        )

    @staticmethod
    def _normalize(pdf):
        """Rows as sorted (column, value) tuples, rows sorted: the
        order-insensitive comparison of the oracle-parity tests."""
        rows = []
        for rec in pdf.to_dict("records"):
            vals = []
            for c in sorted(rec):
                v = rec[c]
                if isinstance(v, float) and math.isnan(v):
                    v = "NaN"
                vals.append((c, v))
            rows.append(tuple(vals))
        rows.sort(key=repr)
        return rows

    def _oracle(self):
        import duckdb

        from polars_matmul_spark.queries_pipeline import _fde_oracle

        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "documents.parquet")
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            return self._normalize(con.sql(_fde_oracle()).df())
        finally:
            con.close()

    def run(self, spark, ledger) -> bool:
        """One traced call, checked against the oracle.
        ``streaming.front_door.front_door_batch`` is wrapped for the
        call: ``_front_door_epochs`` imports that name at call time, so
        each epoch gets a span, its sub-stage walls (the function's own
        ``timings=`` hook) and its job count."""
        from polars_matmul_spark.queries_pipeline import _front_door_epochs
        from polars_matmul_spark.streaming import front_door as fd

        self.generate()
        want = self._oracle()
        orig = fd.front_door_batch

        def traced(spark, batch_df, epoch_id, *args, **kwargs):
            timings: dict = {}
            before = ledger.job_ids()
            with ledger.span(f"streaming.epoch{epoch_id}"):
                orig(spark, batch_df, epoch_id, *args, timings=timings, **kwargs)
            jobs = len(ledger.job_ids() - before)
            self.epochs.append({"epoch": epoch_id, "jobs": jobs, "timings": timings})

        fd.front_door_batch = traced
        before, t_wall = ledger.job_ids(), time.time()
        try:
            with ledger.span("queries_pipeline.front_door"):
                pdf = _front_door_epochs(spark, self.sf_dir).toPandas()
        finally:
            fd.front_door_batch = orig
        t_end = t_wall + ledger.walls("queries_pipeline.front_door")[-1]
        self.counters = ledger.counters(ledger.job_ids() - before, t_wall, t_end)
        return len(want) > 0 and self._normalize(pdf) == want

    def layer_metrics(self, ledger) -> dict[str, float]:
        ep0, ep1 = ledger.walls("streaming.epoch0"), ledger.walls("streaming.epoch1")
        calls = ledger.walls("queries_pipeline.front_door")
        out = {
            "streaming.epoch0_s": _median(ep0),
            "streaming.epoch1_s": _median(ep1),
            "streaming.jobs_per_epoch": _median([e["jobs"] for e in self.epochs]),
            "queries_pipeline.outside_epochs_s": _median([c - a - b for c, a, b in zip(calls, ep0, ep1)]),
        }
        for st in self.STAGES:
            total = sum(sum(e["timings"].get(st, [])) for e in self.epochs)
            out[f"streaming.{st}_s"] = total / max(len(calls), 1)
        # the whole call's Spark counters, for the record only
        for k in ("jobs", "stages", "skipped_stages", "tasks", "shuffle_write_bytes"):
            out[f"queries_pipeline.front_door_{k}"] = self.counters.get(k, 0.0)
        return out


WORKLOADS = {w.name: w for w in (RefShape, BlockedCorpus)}
