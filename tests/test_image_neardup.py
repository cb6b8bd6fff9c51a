"""Perceptual image near-dup (multimodal.image_dhash /
neardup_images_dhash): dHash invariants (robustness to mild noise,
separation of unrelated images), the banded
Hamming join's recall guarantee, and plan/partitioning gates."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from polars_matmul_spark.operators.multimodal import (
    image_dhash,
    image_dhash_variance,
    image_neardup_new_vs_index,
    neardup_images_dhash,
    neardup_images_dhash_filtered,
)


def _bmp_bytes(img):
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    data = rows.tobytes()
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + info + data


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


def _assets(spark, rows):
    return spark.createDataFrame(rows, "asset_id long, payload binary")


def _ham(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_dhash_noise_close_unrelated_far(spark):
    img = _gradient()
    near = _noised(img)
    far = np.flip(_gradient(seed=77), axis=1).copy()
    far = (255 - far).astype(np.uint8)  # inverted mirrored gradient
    df = _assets(
        spark,
        [
            (1, bytearray(_bmp_bytes(img))),
            (2, bytearray(_bmp_bytes(near))),
            (3, bytearray(_bmp_bytes(far))),
        ],
    )
    out = {r.asset_id: r.dhash for r in image_dhash(df).collect()}
    assert _ham(out[1], out[2]) <= 10
    assert _ham(out[1], out[3]) > 20


def test_neardup_pairs_found_and_separated(spark):
    img = _gradient()
    rows = [
        (1, bytearray(_bmp_bytes(img))),
        (2, bytearray(_bmp_bytes(img))),          # exact dup, distance 0
        (3, bytearray(_bmp_bytes(_noised(img)))),  # near dup
        (4, bytearray(_bmp_bytes((255 - np.flip(_gradient(seed=77), axis=1)).astype(np.uint8)))),
        (5, bytearray(b"not an image at all")),    # skipped silently
    ]
    out = {
        (r.id_a, r.id_b): r.distance
        for r in neardup_images_dhash(_assets(spark, rows), max_distance=10).collect()
    }
    assert out[(1, 2)] == 0
    assert (1, 3) in out and out[(1, 3)] <= 10
    assert not any(4 in pair for pair in out)


def _flat(h=24, w=32, value=200):
    return np.full((h, w, 3), value, dtype=np.uint8)


def test_flat_images_collide_unfiltered_but_are_prefiltered(spark):
    """The documented dHash degeneracy, now ENFORCED as code: two
    UNRELATED constant-color images hash identically (distance-0 pair
    in the raw operator), and the variance-filtered form drops them
    while keeping a genuine near-dup pair in the same corpus."""
    img = _gradient()
    rows = [
        (1, bytearray(_bmp_bytes(img))),
        (2, bytearray(_bmp_bytes(_noised(img)))),      # real near dup
        (3, bytearray(_bmp_bytes(_flat(value=200)))),  # solid gray
        (4, bytearray(_bmp_bytes(_flat(value=10)))),   # solid near-black
    ]
    df = _assets(spark, rows)
    raw = {
        (r.id_a, r.id_b) for r in neardup_images_dhash(df, max_distance=10).collect()
    }
    assert (3, 4) in raw  # the degeneracy is real: unrelated flats pair
    filt = {
        (r.id_a, r.id_b)
        for r in neardup_images_dhash_filtered(df, max_distance=10).collect()
    }
    assert (3, 4) not in filt and not any(3 in p or 4 in p for p in filt)
    assert (1, 2) in filt  # real content still pairs


def test_dhash_variance_values(spark):
    df = _assets(
        spark,
        [
            (1, bytearray(_bmp_bytes(_flat()))),
            (2, bytearray(_bmp_bytes(_gradient()))),
        ],
    )
    out = {r.asset_id: r for r in image_dhash_variance(df).collect()}
    assert out[1].luma_var == 0.0
    assert out[2].luma_var > 100.0
    # dhash agrees with the variance-less twin bit-for-bit
    plain = {r.asset_id: r.dhash for r in image_dhash(df).collect()}
    assert {k: v.dhash for k, v in out.items()} == plain


def test_banded_join_recall_exact_under_bands(spark):
    # pigeonhole: with 4 bands every pair at distance <= 3 MUST be a
    # candidate. Plant hashes directly via tiny images -> use the
    # operator end-to-end with a pair at distance 0 and assert found;
    # the <bands guarantee on raw hashes is checked arithmetically
    img = _gradient()
    df = _assets(
        spark, [(1, bytearray(_bmp_bytes(img))), (2, bytearray(_bmp_bytes(img)))]
    )
    pairs = neardup_images_dhash(df, max_distance=0, bands=4).collect()
    assert [(p.id_a, p.id_b, p.distance) for p in pairs] == [(1, 2, 0)]


def test_dhash_partitioning_invariance(spark):
    img = _gradient()
    rows = [(i, bytearray(_bmp_bytes(_noised(img, seed=i)))) for i in range(6)]
    a = sorted(tuple(r) for r in image_dhash(_assets(spark, rows).repartition(5)).collect())
    b = sorted(tuple(r) for r in image_dhash(_assets(spark, rows).coalesce(1)).collect())
    assert a == b


def test_dhash_hash_size_bounds(spark):
    df = _assets(spark, [(1, bytearray(b"x"))])
    with pytest.raises(ValueError, match="hash_size"):
        image_dhash(df, hash_size=9)
    with pytest.raises(ValueError, match="bands must divide"):
        neardup_images_dhash(df, bands=5)


def test_incremental_equals_full_restricted(spark):
    img = _gradient()
    other = _gradient(seed=55)
    hist_rows = [
        (1, bytearray(_bmp_bytes(img))),
        (2, bytearray(_bmp_bytes(other))),
    ]
    new_rows = [
        (10, bytearray(_bmp_bytes(_noised(img)))),   # near-dup of 1
        (11, bytearray(_bmp_bytes((255 - np.flip(_gradient(seed=77), axis=1)).astype(np.uint8)))),
    ]
    index = image_dhash(_assets(spark, hist_rows)).select("asset_id", "dhash")
    inc = {
        (r.new_id, r.index_id): r.distance
        for r in image_neardup_new_vs_index(
            _assets(spark, new_rows), index, max_distance=10
        ).collect()
    }
    # full-corpus run restricted to (new x history) crossing pairs
    full = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b)): r.distance
        for r in neardup_images_dhash(
            _assets(spark, hist_rows + new_rows), max_distance=10
        ).collect()
        if (r.id_a < 10) != (r.id_b < 10)
    }
    assert inc == full
    assert (10, 1) in inc


def test_incremental_index_broadcast_plan(spark):
    img = _gradient()
    index = image_dhash(_assets(spark, [(1, bytearray(_bmp_bytes(img)))])).select(
        "asset_id", "dhash"
    )
    plan = (
        image_neardup_new_vs_index(
            _assets(spark, [(2, bytearray(_bmp_bytes(img)))]), index
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the new side broadcasts into the index probe — the index is
    # never the shuffled side of a SortMergeJoin
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_band_join_plan_no_pixels(spark):
    # the banded join must carry only slim long columns — payload
    # never appears past the hash stage
    img = _gradient()
    df = _assets(spark, [(1, bytearray(_bmp_bytes(img)))])
    out = neardup_images_dhash(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the candidate join operates on slim long columns; the payload
    # column must not survive past the hash stage into the join output
    assert "payload" not in out.columns
    assert "Join" in plan
