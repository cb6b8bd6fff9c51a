"""Spans, Spark counters and process memory, read from outside the
package: the benchmark times its own calls into each layer and reads
Spark's status store around them.

Counting is by job id, not by job group. The benchmark is the only
client of its SparkContext, so every job that appears between an op's
start and end belongs to that op. A job group would miss the jobs the
front door submits from its own worker threads
(``streaming.hygiene.commit_epoch_writes``), because pinned-thread
PySpark does not carry local properties into new Python threads.
"""

from __future__ import annotations

import contextlib
import os
import time

COUNTERS = (
    "jobs",
    "stages",
    "skipped_stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "python_wait_s",
    "driver_s",
)


class Ledger:
    """In-memory spans for one run, and the Spark status-store reads
    around them. A span costs two clock reads; a status-store read
    drains the listener bus and costs py4j round trips, so only the
    traced run makes them."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.op_id = 0
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def self_times(self) -> dict[str, float]:
        """Per span name, the mean self time of one span: its duration
        minus the part covered by its children (children of one span
        run one after another)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        total: dict[str, float] = {}
        count: dict[str, int] = {}
        for s in self.spans:
            total[s["name"]] = total.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
            count[s["name"]] = count.get(s["name"], 0) + 1
        return {name: total[name] / count[name] for name in total}

    # --- Spark status store -------------------------------------------

    def job_ids(self) -> set[int]:
        """Ids of every job the status store holds, after the listener
        bus has delivered all events posted so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.sc.statusTracker().getJobIdsForGroup())

    def counters(self, job_ids, t0: float, t1: float) -> dict[str, float]:
        """Totals over the given jobs; ``t0``/``t1`` bound the op in
        ``time.time()`` seconds, so ``driver_s`` is the op wall outside
        every running job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        c = dict.fromkeys(COUNTERS, 0.0)
        c["jobs"] = len(job_ids)
        seen: set[int] = set()
        spans = []
        for jid in sorted(job_ids):
            job = store.job(jid)
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime() / 1e3, end.get().getTime() / 1e3))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    c["skipped_stages"] += 1
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["shuffle_write_records"] += st.shuffleWriteRecords()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
        c["python_wait_s"] = c["executor_run_s"] - c["executor_cpu_s"]
        c["driver_s"] = (t1 - t0) - _covered(spans, t0, t1)
        return c


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def _status_mb(pid: int, field: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def reset_peak_rss(pid: int) -> float:
    """Reset the peak resident set size (VmHWM) of ``pid`` and its live
    descendants to their current size; returns ``pid``'s own current
    resident size in MB."""
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue
    return _status_mb(pid, "VmRSS")


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak resident set size (VmHWM) over ``pid`` and all its
    live descendants: the driver, the JVM and the Python workers. Forked
    workers share the daemon's pages, which count once per worker."""
    return sum(_status_mb(p, "VmHWM") for p in _tree(pid))
