"""Shared skeleton for the CMS-backed hygiene-on-ingest loops.

Both hygiene modalities (``cms_ingest.py`` line-strip,
``excise_ingest.py`` span excision) run the same epoch protocol; this
module holds it ONCE so the crash-replay guard and commit order cannot
silently diverge between copies:

1. lazily pin the micro-batch (it is read twice — sketch build and
   the clean pass — so it must be computed once; the pin materializes
   inside the first consuming job, the own-sketch commit);
2. build the batch's OWN sketch and COMMIT it first (one job computes
   the sketch and persists it; the merge and clean read the epoch dir
   back), so the clean sees history + current — boilerplate ubiquitous
   within one batch is handled on arrival, not only in hindsight;
3. merge-on-read: one sketch per PRIOR epoch (``epoch != epoch_id`` —
   this epoch's counts enter via ``own``, never via a previously
   half-committed write: the crash-replay guard). The history listing
   is taken AFTER the own commit, so it can never reference files the
   own overwrite just deleted; whether history exists at all is
   decided before the commit, so a first epoch skips the merge
   shuffle outright;
4. clean the batch against the merged sketch;
5. idempotent epoch commits — ``own`` then ``cleaned`` each OVERWRITE
   their ``epoch=N`` directory, so a replayed batch can never
   double-add counters or duplicate output rows.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_matmul_spark.operators.cms import merge_cms

__all__ = [
    "hygiene_ingest_batch",
    "run_hygiene_stream",
    "read_or_empty",
    "commit_epoch_writes",
]

_CMS_SCHEMA = "row long, col long, n long"


def read_or_empty(
    spark: SparkSession, path: str, schema: str | None
) -> DataFrame | None:
    """Load a persisted index/corpus/sketch, treating ONLY a missing
    path (or a column-less read) as "no history yet": a typed empty
    frame when ``schema`` is given, ``None`` otherwise. Any other
    failure (corrupt footer, permission, truncated file) re-raises —
    swallowing it would silently treat real history as empty and
    accept every duplicate in the batch.

    This is THE one copy: every ingest module (minhash, bloom, winnow,
    CMS hygiene) aliases it, so a fix to the missing-path condition
    matching cannot silently miss a sibling.
    """
    from pyspark.errors import AnalysisException

    def _empty():
        return spark.createDataFrame([], schema) if schema else None

    try:
        df = spark.read.parquet(path)
        return df if df.columns else _empty()
    except AnalysisException as e:
        condition = getattr(e, "getCondition", lambda: None)() or ""
        if "PATH_NOT_FOUND" in condition or "Path does not exist" in str(e):
            return _empty()
        raise


_read_or_empty = read_or_empty


def commit_epoch_writes(*thunks) -> None:
    """Run INDEPENDENT idempotent epoch-dir writes of one stage
    concurrently (guide §2.6: actions are only sequential because the
    driver calls them sequentially; a second job's tasks back-fill the
    first's tail). Every write still completes before this returns, so
    the stage's commit point — and with it the crash-replay contract —
    is unchanged: a crash mid-call leaves some subset of the epoch
    dirs half-written in EITHER order, and the replay overwrites all
    of them identically. Callers must pass writes with no data
    dependency on each other; shared lazily-pinned ancestors are safe
    (BlockManager's per-block get-or-compute locking computes each
    partition once).

    A failing thunk does not cancel its siblings: they run to the end,
    then the first failure (in argument order) re-raises. One epoch dir
    can therefore be committed while another failed. That is safe only
    because every write is overwrite-idempotent: the replay of the
    failed epoch rewrites the committed dir identically."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        for f in futures:
            f.result()


def hygiene_ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    cms_dir: str,
    out_dir: str,
    build_fn: Callable[[DataFrame], DataFrame],
    clean_fn: Callable[[DataFrame, DataFrame], DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One epoch of the protocol above. ``build_fn(batch) -> sketch``;
    ``clean_fn(batch, merged_sketch) -> cleaned`` (batch arrives with
    canonical ``doc_id``/``text`` column names)."""
    # lazy pin: the batch is read twice (sketch build, clean pass) so
    # it must be computed once — but the pin can materialize inside
    # the first consuming job (own's write below) instead of paying
    # its own pass up front (round 12; nothing in the batch's lineage
    # reads the dirs this epoch writes)
    batch = batch_df.localCheckpoint(eager=False)

    # schema=None -> None when the sketch dir does not exist yet (the
    # first epoch), KNOWN AT PLAN TIME with no job. merge_cms(empty,
    # own) == own counter-for-counter (a sum over one value), so the
    # first epoch skips the merge's union+groupBy shuffle outright
    # (round 12, guide §2.4: remove shuffles that reshuffle data
    # already in the needed shape). Only the EXISTENCE answer is taken
    # from this pre-commit probe; the history frame itself is
    # re-planned after the own commit below, so its file listing can
    # never reference files the own overwrite just deleted (round-13,
    # r12 ADVICE: the stale pre-overwrite listing was one partition-
    # prune away from FileNotFound on crash-replay).
    had_prior = _read_or_empty(spark, cms_dir, None) is not None

    # own commits FIRST and the merge/clean read the just-written
    # epoch dir back: one job computes the sketch AND persists it,
    # where the former eager-checkpoint-then-write shape paid a
    # second full pass to copy the checkpointed counters to parquet
    # (round 12, guide §1.2 "don't compute things twice"). Replay
    # idempotence is unchanged — the epoch dir is overwritten before
    # anything reads it, so a crash-replay reproduces the same state.
    own_dir = f"{cms_dir}/epoch={epoch_id}"
    build_fn(batch).write.mode("overwrite").parquet(own_dir)
    own = spark.read.parquet(own_dir)

    if not had_prior:
        merged = own
    else:
        # fresh listing post-commit; the epoch!=N guard prunes the
        # just-written partition, so this epoch's counts enter exactly
        # once (via own). On a crash-replay where ONLY epoch=N exists,
        # the pruned history is empty and merge_cms(empty, own) == own.
        prior = spark.read.parquet(cms_dir)
        if "epoch" in prior.columns:
            prior = prior.filter(F.col("epoch") != epoch_id).select(
                "row", "col", "n"
            )
        merged = merge_cms(prior, own)

    cleaned = clean_fn(
        batch.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        merged,
    )
    cleaned.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")


def run_hygiene_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    process: Callable[[DataFrame, int], None],
    schema: str = "doc_id long, text string",
    max_files_per_trigger: int = 1,
):
    """Drive a hygiene-ingest loop over a document file stream
    (availableNow); returns the finished query."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
