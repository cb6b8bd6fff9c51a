"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same configs are the ones that
matter on a real cluster (AQE, Arrow, shuffle partition sizing). Keep
every scale-relevant knob here so tests, bench, and the driver share
one profile.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import socket
import sys
import tempfile
import zipimport

from pyspark.sql import SparkSession


_WORKER_BLAS = os.environ.get("SPARK_GRAFT_WORKER_BLAS_THREADS", "1")


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """min(48g, half of the host's ``MemTotal``). In local mode the
    driver JVM hosts the executors too; a fixed 48g heap on a 15 GB
    host let the JVM grow until the kernel OOM-killed it. Falls back to
    48g where ``meminfo`` is unreadable."""
    cap_mb = 48 * 1024
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "48g"
    half_mb = kb // 2048
    return "48g" if half_mb >= cap_mb else f"{half_mb}m"


# OpenBLAS's DYNAMIC_ARCH fallback for an x86-64 model it does not
# recognise: SSE3 kernels only
_GENERIC_CORES = frozenset({"Prescott"})
# strongest first: an OpenBLAS core and the /proc/cpuinfo flags its
# kernels need
_CORE_FLAGS = (
    ("SkylakeX", frozenset({"avx512f", "avx512cd", "avx512bw", "avx512dq", "avx512vl"})),
    ("Haswell", frozenset({"avx2", "fma"})),
)


def _pick_openblas_coretype(corename: str | None, cpu_flags: frozenset, env) -> str | None:
    """The OpenBLAS core the Python workers should run, or None to leave
    them on the one OpenBLAS picks itself: a stronger core only when
    the loaded OpenBLAS fell back to a generic one (``corename``), the
    CPU flags support it, and ``env`` holds no ``OPENBLAS_CORETYPE``."""
    if "OPENBLAS_CORETYPE" in env or corename not in _GENERIC_CORES:
        return None
    return next((core for core, need in _CORE_FLAGS if need <= cpu_flags), None)


def openblas_corename(maps: str = "/proc/self/maps") -> str | None:
    """The core the OpenBLAS that numpy loaded runs, as it reports it;
    None when no OpenBLAS is mapped or none reports its core."""
    import ctypes

    import numpy  # noqa: F401  (maps numpy's BLAS into this process)

    try:
        with open(maps) as f:
            libs = sorted({line.split()[-1] for line in f if "openblas" in line.rsplit("/", 1)[-1]})
    except OSError:
        return None
    for path in libs:
        try:
            lib = ctypes.CDLL(path)
        except OSError:
            continue
        for name in ("openblas_get_corename64_", "openblas_get_corename"):
            fn = getattr(lib, name, None)
            if fn is not None:
                fn.argtypes, fn.restype = [], ctypes.c_char_p
                return fn().decode()
    return None


def _cpu_flags(cpuinfo: str = "/proc/cpuinfo") -> frozenset:
    """The first CPU's flags; empty where ``cpuinfo`` is unreadable."""
    try:
        with open(cpuinfo) as f:
            line = next((line for line in f if line.startswith("flags")), "")
    except OSError:
        return frozenset()
    return frozenset(line.partition(":")[2].split())


# AF_UNIX sun_path holds 108 bytes, the last one the NUL
_SUN_PATH_MAX = 107
_SOCK_DIR_PREFIX = "pmm-uds-"
# "/" + mkdtemp's name (prefix + 8 random characters), then Spark's
# "/.<uuid4>.sock" socket name
_SOCK_SUFFIX_LEN = 1 + len(_SOCK_DIR_PREFIX) + 8 + len("/.00000000-0000-0000-0000-000000000000.sock")


def _make_socket_dir(bases, af_unix: bool) -> str | None:
    """A new 0700 directory under the first of ``bases`` where it can be
    made and its socket paths fit ``sun_path``; None (Spark's TCP
    loopback) when none does or the platform has no ``AF_UNIX``."""
    if not af_unix:
        return None
    for base in bases:
        if len(os.path.abspath(base)) + _SOCK_SUFFIX_LEN > _SUN_PATH_MAX:
            continue
        try:
            return tempfile.mkdtemp(prefix=_SOCK_DIR_PREFIX, dir=base)
        except OSError:
            continue
    return None


@functools.cache
def python_socket_dir() -> str | None:
    """The directory every JVM<->Python worker socket of this process
    lives in, made once and removed at interpreter exit; None where the
    streams stay on TCP."""
    d = _make_socket_dir((tempfile.gettempdir(), "/tmp"), hasattr(socket, "AF_UNIX"))
    if d is not None:
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def get_spark(app_name: str = "polars_matmul_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions ~ cores locally; on a 1000-executor cluster
        # this is raised to ~2-3x total cores (or left to AQE coalesce)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-plan — coalesces small shuffle partitions and
        # splits skewed ones; essential at 100 TB, harmless locally
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches between JVM and Python workers — the analog of
        # the reference's zero-copy Series->matrix path
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # oracle comparison: DuckDB timestamps are UTC-naive
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as long and convert in sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # each Spark task owns ~1 core, so worker-side BLAS must be
        # single-threaded: with N parallel python workers each spawning
        # a cores-wide OpenBLAS pool, the ref-shape GEMM ran under up
        # to 8x32 threads on 32 cores — scheduler roulette that made
        # kernel rows read 0.19s or 0.45s run to run (the round-7
        # "contaminated sidecar"). Pinning removes the oversubscription
        # at the source; driver-side NumPy (the bench denominators)
        # keeps the machine-wide default pool. Override via
        # SPARK_GRAFT_WORKER_BLAS_THREADS for few-task/big-GEMM jobs.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", _WORKER_BLAS)
        .config("spark.executorEnv.OMP_NUM_THREADS", _WORKER_BLAS)
        .config("spark.executorEnv.MKL_NUM_THREADS", _WORKER_BLAS)
    )
    # numpy's bundled OpenBLAS may not know the host CPU and fall back
    # to its SSE3 kernels (an AVX-512 Xeon ran the task GEMM at ~16
    # GFLOP/s, 7x under SkylakeX). local[N] runs the workers on this
    # host, so its flags decide; the driver's own numpy is left as it is.
    core = _pick_openblas_coretype(openblas_corename(), _cpu_flags(), os.environ)
    if core is not None:
        builder = builder.config("spark.executorEnv.OPENBLAS_CORETYPE", core)
    # On TCP loopback the JVM's small writes to a Python worker wait out
    # Nagle and the worker's delayed ACK, ~40 ms per task whose input is
    # a few rows (a 16-row filtered matmul_arrow at the ref shape on a
    # 4-core x86 host: 115 ms, 73 ms on AF_UNIX). Unix sockets carry
    # every worker stream, the accumulator server and local-data
    # create/collect; the directory's 0700 mode stands in for the socket
    # secret Spark skips in this mode.
    sock_dir = python_socket_dir()
    if sock_dir is not None:
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true").config(
            "spark.python.unix.domain.socket.dir", sock_dir
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make this package importable inside executor Python workers no
    matter what cwd/PYTHONPATH the driver process has (and, on a real
    cluster, on executors that don't share the driver's filesystem):
    zip the package once per SparkContext and addPyFile it."""
    import polars_matmul_spark

    sc = spark.sparkContext
    if getattr(sc, "_pmm_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(polars_matmul_spark.__file__))
    tmp = tempfile.mkdtemp(prefix="pmm_ship_")
    zip_path = shutil.make_archive(
        os.path.join(tmp, "polars_matmul_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir="polars_matmul_spark",
    )
    sc.addPyFile(zip_path)
    sc._pmm_shipped = True


def _in_python_worker() -> bool:
    """True inside a PySpark worker while it runs a task (the worker
    sets the TaskContext before it unpickles the task's functions)."""
    from pyspark.taskcontext import TaskContext

    return TaskContext.get() is not None


def gate_zip_invalidation() -> bool:
    """Re-read a zip archive's directory only when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task. On CPython < 3.13 that makes each ``zipimporter``
    re-read its archive's whole central directory; a worker holds ~16 of
    them over ``pyspark.zip``, the py4j zip and the spark-core jar, and
    the re-reads cost 0.1-0.5 s per task. Wrapped here, an importer
    re-reads only when the archive's ``(st_ino, st_size, st_mtime_ns)``
    differs from the one stamped at its last read; otherwise it takes
    the shared ``_zip_directory_cache`` entry that read left. A new or
    rewritten archive (a later ``addPyFile``) is still re-read, and the
    original method runs whenever ``stat`` fails.

    Acts only in a PySpark worker on Python < 3.13 (3.13 made the
    invalidation lazy); returns whether the gate is in place."""
    if sys.version_info >= (3, 13) or not _in_python_worker():
        return False
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_gated", False):
        return True
    read_at: dict[str, tuple] = {}  # archive -> stat stamp of its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None and read_at.get(self.archive) == stamp:
            self._files = cached
            return
        # stamp taken before the read: a change during it re-reads next time
        original(self)
        read_at[self.archive] = stamp

    invalidate_caches._stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
