"""Streaming dedup-on-ingest: the accepted corpus is pairwise
non-duplicate, counts conserve, and epoch replay is idempotent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_matmul_spark.operators.dedup import neardup_pairs_minhash
from polars_matmul_spark.sources.tables import load_table
from polars_matmul_spark.streaming.ingest import (
    ingest_documents_batch,
    run_dedup_ingest_stream,
)

SF_DIR = "/root/testdata/sf0.001"
SPLIT = 400


@pytest.fixture(scope="module")
def ingest_dirs(spark, tmp_path_factory):
    """Run the full ingest stream once over two file-batches of the
    sf0.001 documents; yield (input, index, corpus) dirs."""
    root = tmp_path_factory.mktemp("ingest")
    inp, index, corpus, ckpt = (
        str(root / d) for d in ("in", "index", "corpus", "ckpt")
    )
    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    # two input files -> two micro-batches (maxFilesPerTrigger=1)
    docs.filter(F.col("doc_id") < SPLIT).coalesce(1).write.parquet(f"{inp}/a")
    docs.filter(F.col("doc_id") >= SPLIT).coalesce(1).write.parquet(f"{inp}/b")
    import glob
    import shutil

    flat = sorted(glob.glob(f"{inp}/*/part-*.parquet"))
    for i, f in enumerate(flat):
        shutil.move(f, f"{inp}/batch{i}.parquet")
    shutil.rmtree(f"{inp}/a"), shutil.rmtree(f"{inp}/b")

    run_dedup_ingest_stream(spark, inp, index, corpus, ckpt)
    return inp, index, corpus


class TestDedupIngest:
    def test_accepted_corpus_pairwise_unique(self, spark, ingest_dirs):
        _, _, corpus_dir = ingest_dirs
        accepted = spark.read.parquet(corpus_dir).select("doc_id", "text")
        n = accepted.count()
        total = load_table(spark, "documents", SF_DIR).count()
        assert 0 < n < total, "some docs must be accepted and some rejected"
        # completeness: no near-dup pair should survive ingestion
        leftover = neardup_pairs_minhash(accepted, threshold=0.8)
        assert leftover.count() == 0

    def test_index_matches_corpus(self, spark, ingest_dirs):
        _, index_dir, corpus_dir = ingest_dirs
        idx_ids = spark.read.parquet(index_dir).select("doc_id").distinct()
        doc_ids = spark.read.parquet(corpus_dir).select("doc_id").distinct()
        assert idx_ids.exceptAll(doc_ids).count() == 0
        assert doc_ids.exceptAll(idx_ids).count() == 0

    def test_epoch_replay_idempotent(self, spark, ingest_dirs):
        _, index_dir, corpus_dir = ingest_dirs
        before = spark.read.parquet(corpus_dir).count()
        # crash-replay epoch 1: re-ingest the second batch with the
        # same epoch id — counts must not change
        docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
        batch2 = docs.filter(F.col("doc_id") >= SPLIT)
        ingest_documents_batch(spark, batch2, 1, index_dir, corpus_dir)
        after = spark.read.parquet(corpus_dir).count()
        assert after == before

    def test_corrupt_index_fails_loudly(self, spark, tmp_path):
        # a corrupt index parquet must abort the batch, not be silently
        # treated as "no history" (which would re-accept every dup)
        import pytest

        from polars_matmul_spark.streaming.ingest import _read_or_empty

        bad = tmp_path / "index"
        bad.mkdir()
        (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
        with pytest.raises(Exception):
            df = _read_or_empty(spark, str(bad), "doc_id long, band_idx int, band_hash long")
            df.count() if df is not None else None

    def test_missing_index_is_empty_history(self, spark, tmp_path):
        from polars_matmul_spark.streaming.ingest import _read_or_empty

        df = _read_or_empty(
            spark, str(tmp_path / "never-written"), "doc_id long, band_idx int, band_hash long"
        )
        assert df is not None and df.count() == 0
        assert _read_or_empty(spark, str(tmp_path / "nope2"), None) is None


def test_stage_union_missing_stage_dirs_are_no_rows(spark, tmp_path):
    # a stage that never wrote its root emitted nothing: zero rows
    from polars_matmul_spark.queries_pipeline import _fd_stage_union_epochs

    assert _fd_stage_union_epochs(spark, str(tmp_path)).count() == 0


@pytest.mark.parametrize(
    "name, payload",
    [
        ("part-00000.parquet", b"this is not parquet"),  # corrupt footer
        ("_SUCCESS", b""),  # committed marker, no data: no schema to infer
    ],
)
def test_stage_union_unreadable_stage_dir_raises(spark, tmp_path, name, payload):
    # only a missing path means "no rows": a stage root that exists but
    # cannot be read must fail the union, not read as an empty stage
    from polars_matmul_spark.queries_pipeline import _fd_stage_union_epochs
    from polars_matmul_spark.streaming.front_door import STAGE_DIRS

    bad = tmp_path / STAGE_DIRS["head"] / "epoch=0"
    bad.mkdir(parents=True)
    (bad / name).write_bytes(payload)
    with pytest.raises(Exception):
        _fd_stage_union_epochs(spark, str(tmp_path)).count()



def test_front_door_epochs_on_a_tiny_table_match_the_oracle(spark, tmp_path):
    # the two-epoch front door end to end on 120 synthetic documents:
    # they hold every planted page class (doc_id % 83 in 5..8, % 97 in
    # 1..2) on both sides of the epoch split, so the overlapped probe /
    # WARC writes, both epochs and the one-read stage union all run
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from polars_matmul_spark.queries_pipeline import _FDE_SPLIT, _fde_oracle, _front_door_epochs

    n = 120
    assert 2 + 97 < n and 8 + 83 < n and 8 + 83 >= _FDE_SPLIT
    rng = np.random.default_rng(5)
    words = "the a data row spark join merge sort key value query table batch window stream".split()
    texts = [" ".join(rng.choice(words, size)) for size in rng.integers(8, 60, n)]
    path = tmp_path / "documents.parquet"
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                "text": texts,
                "lang": ["en"] * n,
                "source": [f"src{i % 3}" for i in range(n)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        path,
    )
    got = _front_door_epochs(spark, str(tmp_path)).toPandas()
    assert set(got["epoch"]) == {0, 1}
    assert set(got["stage"]) == {"head", "quota", "hygiene", "unique", "clean", "flagged"}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = con.sql(_fde_oracle()).df()
    con.close()

    def rows(df):
        cols = sorted(df.columns)
        return sorted((tuple(r) for r in df[cols].astype(object).itertuples(index=False)), key=repr)

    assert sorted(got.columns) == sorted(want.columns)
    assert rows(got) == rows(want)

def test_commit_epoch_writes_failure_lets_sibling_finish_then_raises():
    # a failing write does not cancel its sibling: the sibling commits,
    # and the failure surfaces only after both have finished
    import threading
    import time

    from polars_matmul_spark.streaming.hygiene import commit_epoch_writes

    failed = threading.Event()
    finished = []

    def failing_write():
        failed.set()
        raise RuntimeError("epoch dir write failed")

    def sibling_write():
        assert failed.wait(timeout=30)
        time.sleep(0.2)
        finished.append("sibling")

    with pytest.raises(RuntimeError, match="epoch dir write failed"):
        commit_epoch_writes(failing_write, sibling_write)
    assert finished == ["sibling"]
