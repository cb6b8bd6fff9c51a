"""Time the NumPy kernels at one task's shape, the way an executor runs
them: in a fresh process with one BLAS thread.

    OPENBLAS_NUM_THREADS=1 python3 perfbench/kernel_probe.py --nq 250 --nc 10000 --dim 256 --seed 1

Prints one JSON object: medians of ``kernels.topk`` (cosine, k=10),
``kernels.similarity_matrix`` (dot) and the reference's plain NumPy
top-k baseline, all f32, plus the GEMM rate from 2*nq*nc*dim flops.
"""

from __future__ import annotations

import argparse
import json
import statistics
import time

import numpy as np

from polars_matmul_spark import kernels as K

K_TOP = 10
REPS = 7


def numpy_topk(Q, C, k):
    """The reference's plain NumPy baseline: normalize, GEMM,
    argpartition, sort the k survivors."""
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-10)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-10)
    S = Qn @ Cn.T
    idx = np.argpartition(S, -k, axis=1)[:, -k:]
    scores = np.take_along_axis(S, idx, 1)
    order = np.argsort(-scores, axis=1)
    return np.take_along_axis(idx, order, 1), np.take_along_axis(scores, order, 1)


def _median_s(fn, reps):
    fn()
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--nq", type=int, required=True)
    ap.add_argument("--nc", type=int, required=True)
    ap.add_argument("--dim", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    rng = np.random.default_rng(a.seed)
    Q = rng.standard_normal((a.nq, a.dim), dtype=np.float32)
    C = rng.standard_normal((a.nc, a.dim), dtype=np.float32)
    matmul_s = _median_s(lambda: K.similarity_matrix(Q, C, "dot"), REPS)
    out = {
        "kernels.topk_s": _median_s(lambda: K.topk(Q, C, K_TOP, "cosine"), REPS),
        "kernels.matmul_s": matmul_s,
        "kernels.gflops": 2.0 * a.nq * a.nc * a.dim / matmul_s / 1e9,
        "numpy.topk_s": _median_s(lambda: numpy_topk(Q, C, K_TOP), REPS),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
