"""The worker-side zip-directory gate (``plans.session.gate_zip_invalidation``):
an unchanged archive keeps its directory across
``importlib.invalidate_caches()``, a changed or deleted one is handled as
before, and inside real PySpark workers the gate is in place."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pytest

from polars_matmul_spark.plans import session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 invalidates zip importers lazily; no gate"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def gated_archive(monkeypatch, tmp_path):
    """A zip on ``sys.path`` with one imported module, under the gate
    installed as in a worker; the driver's importer is restored after."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(session, "_in_python_worker", lambda: True)
    assert session.gate_zip_invalidation()
    arc = tmp_path / "gated.zip"
    _write_zip(arc, {"pmm_gate_old": "X = 1"})
    monkeypatch.syspath_prepend(str(arc))
    assert importlib.import_module("pmm_gate_old").X == 1
    importer = sys.path_importer_cache[str(arc)]
    importlib.invalidate_caches()  # the first gated call reads and stamps
    yield arc, importer
    for name in ("pmm_gate_old", "pmm_gate_new"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(arc), None)
    zipimport._zip_directory_cache.pop(str(arc), None)


def test_unchanged_archive_keeps_its_directory(gated_archive):
    _, importer = gated_archive
    files = importer._files
    importlib.invalidate_caches()
    assert importer._files is files


def test_rewritten_archive_is_reread(gated_archive):
    arc, importer = gated_archive
    files = importer._files
    _write_zip(arc, {"pmm_gate_old": "X = 1", "pmm_gate_new": "Y = 2"})
    importlib.invalidate_caches()
    assert importer._files is not files
    assert importlib.import_module("pmm_gate_new").Y == 2


def test_deleted_archive_does_not_raise(gated_archive):
    arc, importer = gated_archive
    arc.unlink()
    importlib.invalidate_caches()
    assert importer._files == {}


def test_gate_is_a_no_op_on_the_driver():
    assert session.gate_zip_invalidation() is False
    assert not getattr(zipimport.zipimporter.invalidate_caches, "_stat_gated", False)


def test_workers_keep_zip_directories_across_tasks(spark):
    from polars_matmul_spark.functions.similarity import topk_arrow

    rng = np.random.default_rng(3)
    C = rng.standard_normal((20, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, rng.standard_normal(8).astype(np.float32).tolist()) for i in range(16)],
        "id long, emb array<float>",
    ).repartition(4)
    # collect the output column: a count() prunes the kernel away
    assert len(topk_arrow(df, "emb", C, 3).collect()) == 16

    def probe(batches):
        # unpickling this function imports the package (via ``session``)
        import os

        for _ in batches:
            pass
        zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        importlib.invalidate_caches()  # stamps any archive not yet read under the gate
        before = [(f, f._files) for f in zips]
        importlib.invalidate_caches()
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "in_worker": [session._in_python_worker()],
                "gated": [getattr(zipimport.zipimporter.invalidate_caches, "_stat_gated", False)],
                "zips": [len(zips)],
                "kept": [all(f._files is files for f, files in before)],
            }
        )

    rows = df.mapInArrow(
        probe, "pid long, in_worker boolean, gated boolean, zips long, kept boolean"
    ).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.in_worker and r.gated and r.zips > 0 and r.kept, r
