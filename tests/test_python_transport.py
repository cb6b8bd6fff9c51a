"""JVM<->Python streams run over AF_UNIX sockets in a private directory
(``plans.session.python_socket_dir``): the directory picker, the session
confs, the worker's socket to the JVM, the other paths the conf moves
(accumulator updates, local-data create and collect), and the socket
directory's cleanup, also under a ``TMPDIR`` too long for a socket path."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from polars_matmul_spark import kernels as K
from polars_matmul_spark.plans import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_socket_dir_picker(tmp_path, monkeypatch):
    short = tempfile.mkdtemp(dir="/tmp")
    try:
        # a temp dir short enough for "<dir>/pmm-uds-XXXXXXXX/.<uuid4>.sock" is used
        monkeypatch.setattr(tempfile, "tempdir", short)
        d = session.python_socket_dir.__wrapped__()
        assert os.path.dirname(d) == short and _mode(d) == 0o700
        assert len(os.path.join(d, ".00000000-0000-0000-0000-000000000000.sock")) <= 107
        # a long TMPDIR falls back to /tmp
        long_dir = tmp_path / ("t" * 70)
        long_dir.mkdir()
        monkeypatch.setattr(tempfile, "tempdir", str(long_dir))
        d = session.python_socket_dir.__wrapped__()
        assert os.path.dirname(d) == "/tmp" and _mode(d) == 0o700
        os.rmdir(d)
        assert session._make_socket_dir([str(long_dir), short], True).startswith(short + "/")
    finally:
        shutil.rmtree(short, ignore_errors=True)
    # a dir that cannot be made, a path too long, or no AF_UNIX: TCP
    assert session._make_socket_dir([str(tmp_path / "missing")], True) is None
    assert session._make_socket_dir([str(tmp_path / ("t" * 70))], True) is None
    assert session._make_socket_dir(["/tmp"], False) is None


def test_session_runs_python_streams_on_a_private_unix_socket(spark):
    d = session.python_socket_dir()
    assert d is not None
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    assert conf.get("spark.python.unix.domain.socket.dir") == d
    assert _mode(d) == 0o700


def test_worker_socket_to_the_jvm_is_af_unix(spark):
    def probe(batches):
        import os
        import socket
        import stat

        for _ in batches:
            pass
        socks = []
        for fd in os.listdir("/proc/self/fd"):
            try:
                if not stat.S_ISSOCK(os.fstat(int(fd)).st_mode):
                    continue
            except OSError:  # the listing's own fd, closed by now
                continue
            with socket.socket(fileno=os.dup(int(fd))) as s:
                socks.append(f"{s.family.name} {s.getsockname()}")
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "socks": [socks]})

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(n, numPartitions=n).mapInArrow(probe, "pid long, socks array<string>").collect()
    d = session.python_socket_dir()
    assert len(rows) == n
    for r in rows:
        # on TCP loopback these read "AF_INET ('127.0.0.1', <port>)"
        assert r.socks and all(s.startswith(f"AF_UNIX {d}/") for s in r.socks), rows


def test_accumulator_local_data_and_filtered_matmul_over_unix_sockets(spark):
    sc = spark.sparkContext
    acc = sc.accumulator(0)
    sc.parallelize(range(10), 2).foreach(lambda x: acc.add(x))
    assert acc.value == 45

    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", None]})
    from_pandas = spark.createDataFrame(pdf)
    from_arrow = spark.createDataFrame(pa.Table.from_pandas(pdf))
    for df in (from_pandas, from_arrow):
        assert df.toPandas().equals(pdf)
        assert df.toArrow().to_pydict() == {"a": [1, 2, 3], "b": ["x", "y", None]}

    from polars_matmul_spark.functions import matmul_arrow

    rng = np.random.default_rng(16)
    Q = rng.standard_normal((200, 32), dtype=np.float32)
    C = rng.standard_normal((50, 32), dtype=np.float32)
    qdf = spark.createDataFrame(
        pa.table({"qid": np.arange(len(Q)), "emb": [row.tolist() for row in Q]}).cast(
            pa.schema([("qid", pa.int64()), ("emb", pa.list_(pa.float32()))])
        )
    ).repartition(4, "qid")
    ids = sorted(int(i) for i in rng.choice(len(Q), 16, replace=False))
    out = matmul_arrow(qdf, "emb", C, input_is_f32=True).filter(F.col("qid").isin(ids)).toArrow().sort_by("qid")
    assert out.column("qid").to_pylist() == ids
    got = np.array(out.column("scores").to_pylist(), dtype=np.float32)
    np.testing.assert_allclose(got, K.similarity_matrix(Q[ids], C, "dot"), rtol=1e-5, atol=1e-5)


_LONG_TMPDIR_SESSION = """
import json, os, time
from polars_matmul_spark.plans.session import get_spark, python_socket_dir
spark = get_spark("uds-long-tmpdir", shuffle_partitions=2)
d = python_socket_dir()
rows = spark.range(8, numPartitions=2).mapInArrow(lambda it: it, "id long").collect()
spark.stop()
deadline = time.monotonic() + 10  # the worker daemon unlinks its socket as it exits
while any(f.endswith(".sock") for f in os.listdir(d)) and time.monotonic() < deadline:
    time.sleep(0.1)
print(json.dumps({"dir": d, "rows": len(rows), "left": sorted(os.listdir(d))}))
"""


def test_long_tmpdir_session_runs_udfs_and_leaves_no_socket(tmp_path):
    # a fresh process: it stops its session and exits, which the shared
    # session of this suite must not
    long_dir = tmp_path / ("t" * 70)
    long_dir.mkdir()
    env = dict(
        os.environ,
        TMPDIR=str(long_dir),
        SPARK_DRIVER_MEMORY="1g",
        SPARK_GRAFT_CPUS="2",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
    )
    proc = subprocess.run(
        [sys.executable, "-c", _LONG_TMPDIR_SESSION], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(str(long_dir)) > 64 and os.path.dirname(out["dir"]) == "/tmp"
    assert out["rows"] == 8
    assert out["left"] == []  # no .sock outlives spark.stop()
    assert not os.path.exists(out["dir"])  # removed at interpreter exit
