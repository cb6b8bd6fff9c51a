"""Streaming image ingest with perceptual near-dup rejection
(streaming/images.py): the accepted catalog a multi-epoch stream
builds equals the batch pipeline's decision over the whole feed
(stream == batch), near-dups arriving AFTER their original are
rejected across epochs, undecodables quarantine with a reason, and
epoch replay is idempotent."""

import glob

import numpy as np
import pytest

from test_image_neardup import _bmp_bytes
from test_multimodal import UNDECODED_IMAGES

from polars_matmul_spark.operators.multimodal import (
    image_dhash,
    neardup_images_dhash,
)
from polars_matmul_spark.streaming.images import (
    ingest_images_batch,
    run_image_ingest_stream,
)


def _gradient(h=24, w=32, seed=3):
    rng = np.random.default_rng(seed)
    x = np.linspace(0, 255, w, dtype=np.float64)[None, :]
    y = np.linspace(0, 120, h, dtype=np.float64)[:, None]
    base = np.clip(x + y + rng.normal(0, 4, (h, w)), 0, 255)
    return np.repeat(base[:, :, None], 3, axis=2).astype(np.uint8)


def _noised(img, seed=9, sigma=3):
    rng = np.random.default_rng(seed)
    out = img.astype(np.int16) + rng.normal(0, sigma, img.shape).astype(np.int16)
    return np.clip(out, 0, 255).astype(np.uint8)


def _far(seed=77):
    return (255 - np.flip(_gradient(seed=seed), axis=1)).astype(np.uint8)


def _checker(h=24, w=32, cell=4):
    yy, xx = np.mgrid[0:h, 0:w]
    base = (((yy // cell) + (xx // cell)) % 2 * 255).astype(np.uint8)
    return np.repeat(base[:, :, None], 3, axis=2)


def _assets(spark, rows):
    return spark.createDataFrame(rows, "asset_id long, payload binary")


@pytest.fixture()
def dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "cat", "rej", "ckpt")}


@pytest.mark.slow
def test_cross_epoch_rejection_and_quarantine(spark, dirs):
    img = _gradient()
    # epoch 0: original + one unrelated
    _assets(spark, [(1, bytearray(_bmp_bytes(img))), (2, bytearray(_bmp_bytes(_far())))]).coalesce(1).write.parquet(f"{dirs['in']}/f0")
    # epoch 1: near-dup of 1 (must reject), a structurally different
    # novel image (accept — a same-generator different-seed image would
    # itself be a near-dup, which is the operator working), garbage
    # bytes and a well-formed GIF (both quarantine: only BMP decodes)
    _assets(
        spark,
        [
            (10, bytearray(_bmp_bytes(_noised(img)))),
            (11, bytearray(_bmp_bytes(_checker()))),
            (12, bytearray(b"not an image")),
            (13, bytearray(UNDECODED_IMAGES["gif"])),
        ],
    ).coalesce(1).write.parquet(f"{dirs['in']}/f1")

    run_image_ingest_stream(
        spark, f"{dirs['in']}/*", dirs["cat"], dirs["rej"], dirs["ckpt"]
    )
    cat_ids = sorted(r.asset_id for r in spark.read.parquet(dirs["cat"]).collect())
    assert cat_ids == [1, 2, 11]
    rej = {r.rejected_id: r.reason for r in spark.read.parquet(dirs["rej"]).collect()}
    assert rej == {10: "near_duplicate", 12: "undecodable", 13: "undecodable"}


def test_within_batch_collapse_keeps_lowest_id(spark, dirs):
    img = _gradient()
    batch = _assets(
        spark,
        [(5, bytearray(_bmp_bytes(img))), (6, bytearray(_bmp_bytes(_noised(img))))],
    )
    ingest_images_batch(spark, batch, 0, dirs["cat"], dirs["rej"])
    cat_ids = [r.asset_id for r in spark.read.parquet(dirs["cat"]).collect()]
    assert cat_ids == [5]
    rej = {r.rejected_id: r.reason for r in spark.read.parquet(dirs["rej"]).collect()}
    assert rej == {6: "near_duplicate"}


@pytest.mark.slow
def test_stream_equals_batch_pipeline(spark, dirs):
    img = _gradient()
    rows = [
        (1, bytearray(_bmp_bytes(img))),
        (2, bytearray(_bmp_bytes(_far()))),
        (3, bytearray(_bmp_bytes(_noised(img)))),
        (4, bytearray(_bmp_bytes(_far(seed=123)))),
    ]
    for i in range(4):  # one row per epoch — worst-case interleaving
        _assets(spark, rows[i : i + 1]).coalesce(1).write.parquet(f"{dirs['in']}/f{i}")
    run_image_ingest_stream(
        spark, f"{dirs['in']}/*", dirs["cat"], dirs["rej"], dirs["ckpt"]
    )
    stream_ids = sorted(r.asset_id for r in spark.read.parquet(dirs["cat"]).collect())

    # batch twin: greedy keep-lowest-id over the full pair set (ids
    # arrive in id order here, so arrival order == id order)
    allb = _assets(spark, rows)
    pairs = neardup_images_dhash(allb, max_distance=10).collect()
    dropped, kept = set(), set()
    adj = {}
    for p in pairs:
        adj.setdefault(max(p.id_a, p.id_b), set()).add(min(p.id_a, p.id_b))
    for r in sorted(x[0] for x in rows):
        if any(w in kept for w in adj.get(r, ())):
            dropped.add(r)
        else:
            kept.add(r)
    assert stream_ids == sorted(kept)


def test_epoch_replay_idempotent(spark, dirs):
    img = _gradient()
    batch = _assets(spark, [(1, bytearray(_bmp_bytes(img)))])
    ingest_images_batch(spark, batch, 0, dirs["cat"], dirs["rej"])
    # replay the SAME epoch: the row must not self-reject
    ingest_images_batch(spark, batch, 0, dirs["cat"], dirs["rej"])
    cat = spark.read.parquet(dirs["cat"]).collect()
    assert [r.asset_id for r in cat] == [1]
    assert len(glob.glob(f"{dirs['cat']}/epoch=*")) == 1
    assert spark.read.parquet(dirs["rej"]).count() == 0


def test_catalog_rows_are_hashes_not_pixels(spark, dirs):
    img = _gradient()
    ingest_images_batch(
        spark, _assets(spark, [(1, bytearray(_bmp_bytes(img)))]), 0,
        dirs["cat"], dirs["rej"],
    )
    cat = spark.read.parquet(dirs["cat"])
    assert "payload" not in cat.columns
    expected = image_dhash(_assets(spark, [(1, bytearray(_bmp_bytes(img)))])).collect()[0]
    got = cat.collect()[0]
    assert got.dhash == expected.dhash and got.src_w == 32
