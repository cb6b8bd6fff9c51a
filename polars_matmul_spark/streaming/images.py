"""Streaming image ingest with perceptual near-dup rejection — the
TENTH ingest modality, closing the image-dedup triple
(batch ``multimodal.neardup_images_dhash`` + incremental
``image_neardup_new_vs_index`` + this stream): arriving image payloads
are dHashed from their really-decoded pixels, collapsed within the
batch, checked against the persisted hash catalog, and novel rows'
(id, dhash, src_w, src_h) append to the catalog.

Scale/semantics notes:

- Payloads are hashed ONCE on arrival and never stored or shuffled —
  the catalog holds 8-byte hashes plus geometry, so vs-history checks
  are integer band joins no matter how many TB of pixels have flowed
  through.
- Within-batch duplicates collapse greedily by ascending id AGAINST
  SURVIVORS (the chain rule the embedding loop documents: a row drops
  only if similar to a KEPT row).
- Undecodable payloads (anything but a well-formed 24-bit BMP) are
  not silently admitted: they land in the ``rejected`` epoch sink with
  reason 'undecodable' (quarantine, not abort — the rawbytes contract).
- Writes use the idempotent epoch-sink pattern; a replayed batch that
  finds ITSELF in the catalog must not self-reject (self-id guard, as
  in the text/embedding loops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_matmul_spark.operators.multimodal import (
    image_dhash,
    image_neardup_new_vs_index,
)
from polars_matmul_spark.streaming.hygiene import (
    read_or_empty as _read_or_empty,
)

__all__ = ["ingest_images_batch", "run_image_ingest_stream"]


def ingest_images_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    catalog_dir: str,
    rejected_dir: str,
    max_distance: int = 10,
    bands: int = 4,
    id_col: str = "asset_id",
) -> None:
    """Admit one micro-batch of (id, payload): hash decoded pixels,
    collapse within-batch near-dups, reject vs the persisted catalog,
    append novel hash rows to ``catalog_dir/epoch=N`` and rejected ids
    (near-dups + undecodables) to ``rejected_dir/epoch=N``.

    Batch-size assumption: the within-batch greedy collapse pulls the
    batch's near-dup PAIR list (ids only, never pixels) to the driver —
    the greedy keep-lowest-id-against-survivors chain is inherently
    sequential. That list is O(within-batch duplicate pairs); a
    pathological micro-batch of thousands of mutual near-dups (e.g. a
    crawl burst of one identical image) costs O(dups^2) pairs, so size
    micro-batches (maxFilesPerTrigger) accordingly. The dropped-id set
    flows back as a broadcast anti-join, not an IN-list expression, so
    the PLAN stays O(1) regardless of how many rows drop."""
    batch = batch_df.localCheckpoint(eager=True)
    hashes = image_dhash(batch, id_col=id_col).localCheckpoint(eager=True)

    undecodable = batch.join(
        hashes.select(id_col), id_col, "left_anti"
    ).select(
        F.col(id_col).alias("rejected_id"),
        F.lit("undecodable").alias("reason"),
    )

    # within-batch collapse: greedy keep-lowest-id against survivors
    # (exact driver-side pass over the batch-sized pair list)
    self_pairs = image_neardup_new_vs_index(
        batch,
        hashes.select(F.col(id_col), "dhash"),
        id_col=id_col,
        max_distance=max_distance,
        bands=bands,
        new_hashes=hashes,
    ).filter(F.col("new_id") > F.col("index_id"))
    adj: dict[int, set[int]] = {}
    for r in self_pairs.select("new_id", "index_id").collect():
        adj.setdefault(r.new_id, set()).add(r.index_id)
        adj.setdefault(r.index_id, set()).add(r.new_id)
    dropped: list[int] = []
    if adj:
        kept: set[int] = set()
        for i in sorted(adj):
            if adj[i] & kept:
                dropped.append(i)
            else:
                kept.add(i)
    if dropped:
        dropped_df = spark.createDataFrame(
            [(int(i),) for i in dropped], f"{id_col} long"
        )
        survivors = hashes.join(F.broadcast(dropped_df), id_col, "left_anti")
    else:
        survivors = hashes

    # vs everything accepted so far. Crash-replay guard is double:
    # the replayed epoch's own half-committed rows are filtered out of
    # the catalog read, and identity matches are excluded by id
    catalog = _read_or_empty(spark, catalog_dir, None)
    if catalog is not None and "epoch" in catalog.columns:
        catalog = catalog.filter(F.col("epoch") != epoch_id)
    if catalog is not None and catalog.limit(1).count() > 0:
        hist_dups = image_neardup_new_vs_index(
            batch,
            catalog.select(F.col(id_col), "dhash"),
            id_col=id_col,
            max_distance=max_distance,
            bands=bands,
            new_hashes=survivors,
        ).filter(F.col("new_id") != F.col("index_id"))
        survivors = survivors.join(
            hist_dups.select(F.col("new_id").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        )

    neardup_rej = batch.select(id_col).join(
        survivors.select(id_col), id_col, "left_anti"
    ).join(undecodable.select(F.col("rejected_id").alias(id_col)), id_col, "left_anti").select(
        F.col(id_col).alias("rejected_id"), F.lit("near_duplicate").alias("reason")
    )
    rejected = undecodable.unionByName(neardup_rej)

    survivors.write.mode("overwrite").parquet(f"{catalog_dir}/epoch={epoch_id}")
    rejected.write.mode("overwrite").parquet(f"{rejected_dir}/epoch={epoch_id}")


def run_image_ingest_stream(
    spark: SparkSession,
    input_dir: str,
    catalog_dir: str,
    rejected_dir: str,
    checkpoint_dir: str,
    schema: str = "asset_id long, payload binary",
    max_distance: int = 10,
    bands: int = 4,
    max_files_per_trigger: int = 1,
):
    """Drive the image ingest loop over a payload file stream
    (availableNow); returns the finished query."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_images_batch(
            spark, batch_df, epoch_id, catalog_dir, rejected_dir,
            max_distance=max_distance, bands=bands,
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
