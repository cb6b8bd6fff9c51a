#!/usr/bin/env python3
"""Benchmark of the similarity kernels, the blocked corpus path and the
two-epoch front door.

Run from the repository root:

    python3 perfbench/run.py --workload ref_shape --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json`` says why each exists): ``ref_shape`` and
``blocked_corpus``. One driver process runs one closed-loop client on
``local[N]``, N = the cores this process may use: each op starts when
the previous one has ended. The run sets up three sessions one after
another, each with one warm-up op: the first also starts the JVM,
warms it up for ``WARMUP_S`` and is not measured; the other two are
measured for half of ``--seconds`` each. A traced run sets up two and in the second runs three traced ops,
each after an untraced one. Every measured op's output is checked.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` reads
Spark's status store around every op, runs the layer floors, the
single-thread kernel probe and (on ``ref_shape``) one two-epoch front
door call, prints the per-layer metrics and writes the spans to
``.perfbench_out/``. ``perfbench/predictions.json`` says which
end-to-end metric each per-layer metric should move. Every run keeps its full record (context,
per-call walls, tail) there as well. The last stdout line is the JSON
result; the lines before it repeat the metrics for people.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "2g"
SETUP_REPS = 3
# ops per measured session: an untraced session runs at least MIN_OPS
# and then until its share of --seconds is used, so a slower host gives
# fewer ops, not a longer run; a traced session runs exactly TRACED_OPS
# traced ops, each after an untraced one
MIN_OPS = 2
TRACED_OPS = 3
# ops in a fresh JVM run slower for several seconds while it compiles
# the scan, exchange and Arrow paths; the warm state outlives a session
WARMUP_S = 6
PROBE_TIMEOUT_S = 180


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _configure(tmp: str) -> int:
    """Pin the session's resources and keep every file the run writes
    (Spark local dirs, temp dirs, the JVM's temp dir) inside ``tmp``.
    Executors import the package through PYTHONPATH."""
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        }
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    return cpus


def _context(args, cpus: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "master": f"local[{cpus}]",
        "driver_memory": DRIVER_MEMORY,
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "loadavg_1m_before": os.getloadavg()[0],
    }


def _tail(walls: list[float]):
    """The highest percentile with at least ten samples beyond it, or
    None when there are fewer than 20 samples (a tail below the median
    is no tail)."""
    n = len(walls)
    if n < 20:
        return None
    rank = n - 10  # 1-based rank of the value with ten samples above it
    return {"percentile": round(100.0 * rank / n, 1), "samples": n, "value_s": sorted(walls)[rank - 1]}


def _kernel_probe(shape, seed: int) -> dict:
    nq, nc, dim = shape
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1", MKL_NUM_THREADS="1")
    cmd = [sys.executable, os.path.join(HERE, "kernel_probe.py"), "--nq", str(nq), "--nc", str(nc), "--dim", str(dim), "--seed", str(seed)]
    res = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=PROBE_TIMEOUT_S, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])


def _checked_op(wl, ledger) -> bool:
    """One op, timed in an ``op`` span of ``ledger``, then checked."""
    try:
        with ledger.span("op"):
            out = wl.run_op(ledger)
        return wl.check(out)
    except Exception:
        traceback.print_exc()
        return False


def _stop_spark():
    """Stop the SparkContext, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, tmp: str) -> dict:
    cpus = _configure(tmp)
    spec = _spec()
    from ledger import Ledger, reset_peak_rss, tree_peak_rss_mb
    from workloads import WORKLOADS

    from polars_matmul_spark.plans.session import get_spark

    ctx = _context(args, cpus)
    wl = WORKLOADS[args.workload](args.seed, tmp, cpus)
    t0 = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare_check()
    prepare_check_s = time.perf_counter() - t0

    # Each of the SETUP_REPS sessions is set up from scratch. The first
    # (which also starts the JVM) is not measured; every later one is
    # measured for its share of --seconds, so the op walls of one run
    # mix sessions, whose speed differs more than ops within one. A
    # traced run measures one session only: with its probes and the
    # front door call it must still end well within the run's time limit.
    # Its untraced ops go to their own ledger: the ratio of the two
    # medians within one session is the tracing overhead.
    ledger, untraced = Ledger(), Ledger()
    setup_walls, op_counters, attempted, failed = [], [], 0, 0
    driver_base_mb = 0.0
    reps = 2 if args.trace else SETUP_REPS
    t_loop = time.perf_counter()
    for rep in range(reps):
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        wl.setup(spark, Ledger())
        setup_walls.append(time.perf_counter() - t0)
        ledger.sc = spark.sparkContext
        if rep == 0:
            warm_end = time.perf_counter() + WARMUP_S
            while time.perf_counter() < warm_end:
                wl.run_op(Ledger())
            wl.release()
            spark.stop()
            # peak memory counts from here: the JVM's start and the
            # driver's inputs and references are the benchmark's own
            driver_base_mb = reset_peak_rss(os.getpid())
            continue
        n_session = 0
        deadline = time.perf_counter() + args.seconds / (SETUP_REPS - 1)
        while (
            n_session < TRACED_OPS
            if args.trace
            else n_session < MIN_OPS or time.perf_counter() < deadline
        ):
            n_session += 1
            if args.trace:
                attempted += 1
                failed += not _checked_op(wl, untraced)
            attempted += 1
            ledger.op_id = attempted
            before = ledger.job_ids() if args.trace else None
            t_wall = time.time()
            failed += not _checked_op(wl, ledger)
            if args.trace:
                op_counters.append(ledger.counters(ledger.job_ids() - before, t_wall, t_wall + ledger.walls("op")[-1]))
                wl.probe(spark, ledger)
        if rep < reps - 1:
            wl.release()
            spark.stop()
    sessions_s = time.perf_counter() - t_loop
    peak_rss = tree_peak_rss_mb(os.getpid()) - driver_base_mb
    walls = ledger.walls("op")
    phases = {"generate": generate_s, "prepare_check": prepare_check_s, "sessions": sessions_s}
    if args.trace:
        ledger.op_id = 0
        t0 = time.perf_counter()
        try:
            ok = wl.final_probe(spark, ledger)
        except Exception:
            traceback.print_exc()
            ok = False
        if ok is not None:
            attempted += 1
            failed += not ok
        phases["final_probe"] = time.perf_counter() - t0
    ctx["loadavg_1m_after"] = os.getloadavg()[0]

    metrics, extra = {}, {}
    if args.trace:
        layer = {f"spark.{k}": statistics.median(c[k] for c in op_counters) for k in op_counters[0] if k != "shuffle_write_records"}
        t0 = time.perf_counter()
        layer.update(_kernel_probe(wl.kernel_shape, args.seed))
        phases["kernel_probe"] = time.perf_counter() - t0
        layer.update(wl.layer_metrics(ledger, op_counters))
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": float(layer.pop(m["name"], 0.0)), "unit": m["unit"]}
        extra = layer
    else:
        e2e = {"setup_s": statistics.median(setup_walls), "op_p50_s": statistics.median(walls), "peak_rss_mb": peak_rss}
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": float(e2e[m["name"]]), "unit": m["unit"]}

    record = {
        "context": ctx,
        "metrics": metrics,
        "attempted": attempted,
        "failed": failed,
        "failed_ops_frac": failed / attempted,
        "phases_s": phases,
        "driver_base_mb": driver_base_mb,
        "setup_walls_s": setup_walls,
        "op_walls_s": walls,
        "op_tail": _tail(walls),
        "call_p50_s": {
            s["name"]: statistics.median(ledger.walls(s["name"]))
            for s in ledger.spans
            if s["parent"] is not None and s["name"].count(".") == 1
        },
    }
    if args.trace:
        base = statistics.median(untraced.walls("op"))
        record["trace_overhead"] = {
            "traced_op_p50_s": statistics.median(walls),
            "untraced_op_p50_s": base,
            "ops_each": len(walls),
            "ratio": statistics.median(walls) / base,
        }
        record["layer_extra"] = extra
        record["self_time_s_per_call"] = ledger.self_times()
        record["op_counters"] = op_counters
        with open(os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
            json.dump(ledger.spans, f)
    with open(os.path.join(OUT_DIR, f"{args.workload}-trace{args.trace}-seed{args.seed}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return record


def _report(rec: dict) -> None:
    print("context:", json.dumps(rec["context"]))
    for name, m in rec["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_ops_frac = {rec['failed_ops_frac']:.6g} ({rec['failed']} of {rec['attempted']} ops)")
    for name, v in rec["call_p50_s"].items():
        print(f"{name} p50 = {v:.6g} s")
    tail = rec["op_tail"]
    if tail:
        print(f"op tail: p{tail['percentile']} = {tail['value_s']:.6g} s over {tail['samples']} ops")
    else:
        print(f"op tail: n/a ({len(rec['op_walls_s'])} ops; needs 20)")
    if "trace_overhead" in rec:
        print("trace overhead:", json.dumps(rec["trace_overhead"]))
        print("self time per call:", json.dumps({k: round(v, 4) for k, v in rec["self_time_s_per_call"].items()}))
        print("other layer figures:", json.dumps(rec["layer_extra"]))
    print("phases:", json.dumps({k: round(v, 2) for k, v in rec["phases_s"].items()}))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ref_shape", "blocked_corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True, help="measured time of an untraced run; a traced run measures a fixed number of ops")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "polars_matmul_spark")):
        print(f"perfbench: no polars_matmul_spark package under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(OUT_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=OUT_DIR)
    t0 = time.perf_counter()
    try:
        rec = run(args, tmp)
    finally:
        t1 = time.perf_counter()
        _stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"perfbench: run {t1 - t0:.1f} s, teardown {time.perf_counter() - t1:.1f} s", file=sys.stderr)
    _report(rec)
    print(
        json.dumps(
            {
                "correct": rec["failed"] == 0,
                "attempted": rec["attempted"],
                "failed": rec["failed"],
                "metrics": rec["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
