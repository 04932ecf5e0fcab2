"""What a timed run leaves behind, read without adding a Spark job.

- Spark's SQL plan metrics and job records, from the live status stores;
- wave walls, from the `_SUCCESS` mtimes of the crawl checkpoint;
- memory of the JVM and its Python workers, from /proc;
- spans recorded by the benchmark around its calls into the package.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

# Plan-graph nodes whose metrics the benchmark reads. Everything else in a
# plan graph is skipped: each metric costs a py4j round trip.
NODES_OF_INTEREST = (
    "ArrowEvalPython", "BroadcastExchange", "Exchange", "Sort", "Window",
    "HashAggregate", "ObjectHashAggregate", "SortAggregate",
)

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40, "PiB": 2.0**50,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str | None) -> float:
    """Spark's formatted SQL metric -> a number (bytes, seconds or a count).

    Values look like '1,988', '26 ms', '2.9 s', '16.0 MiB', or, for metrics
    aggregated over tasks, 'total (min, med, max (stageId: taskId))\\n'
    '212.2 KiB (16.6 KiB, 22.5 KiB, 33.6 KiB (stage 41.0: task 185))'.
    The total is the number before the first ' ('. A metric with no value
    yet reads as None and counts as 0.
    """
    if not text:
        return 0.0
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    num = float(head[0].replace(",", ""))
    return num * _UNITS[head[1]] if len(head) > 1 else num


def _conv(spark):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters


def last_execution_id(spark) -> int:
    ids = [e.executionId() for e in _conv(spark).asJava(spark._jsparkSession.sharedState().statusStore().executionsList())]
    return max(ids, default=-1)


def sql_metrics_since(spark, after_id: int) -> list[dict]:
    """Plan metrics of every SQL execution with id > after_id:
    [{"id", "nodes": [{"node", "metrics": {name: formatted value}}]}]."""
    conv = _conv(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in conv.asJava(store.executionsList()):
        eid = e.executionId()
        if eid <= after_id:
            continue
        values = conv.asJava(store.executionMetrics(eid))
        nodes = []
        for n in conv.asJava(store.planGraph(eid).allNodes()):
            name = n.name()
            if not name.startswith(NODES_OF_INTEREST):
                continue
            metrics = {m.name(): values.get(m.accumulatorId()) for m in conv.asJava(n.metrics())}
            nodes.append({"node": name, "metrics": metrics})
        out.append({"id": eid, "nodes": nodes})
    return out


def summarize_sql(executions: list[dict]) -> dict[str, float]:
    """Sum the plan metrics the layer table names over a set of executions."""
    acc = {
        "python_run_s": 0.0, "worker_start_s": 0.0, "arrow_bytes_sent": 0.0, "arrow_rows": 0.0,
        "broadcast_build_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0,
    }
    for e in executions:
        for n in e["nodes"]:
            node, m = n["node"], n["metrics"]
            if node.startswith("ArrowEvalPython"):
                acc["python_run_s"] += parse_metric(m.get("time to run Python workers"))
                acc["worker_start_s"] += parse_metric(m.get("time to start Python workers"))
                acc["worker_start_s"] += parse_metric(m.get("time to initialize Python workers"))
                acc["arrow_bytes_sent"] += parse_metric(m.get("data sent to Python workers"))
                acc["arrow_rows"] += parse_metric(m.get("number of output rows"))
            elif node.startswith("BroadcastExchange"):
                acc["broadcast_build_s"] += parse_metric(m.get("time to build"))
            elif node.startswith("Exchange"):
                acc["shuffle_bytes"] += parse_metric(m.get("shuffle bytes written"))
            acc["spill_bytes"] += parse_metric(m.get("spill size"))
    return acc


def jobs_since(spark, after_job: int) -> list[dict]:
    """[{"id", "submit", "end", "tasks"}] for jobs with id > after_job; times
    are epoch seconds, comparable with file mtimes."""
    conv = _conv(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in conv.asJava(store.jobsList(None)):
        jid = j.jobId()
        if jid <= after_job:
            continue
        sub, end = j.submissionTime(), j.completionTime()
        if not sub.isDefined() or not end.isDefined():
            continue
        out.append({"id": jid, "submit": sub.get().getTime() / 1e3, "end": end.get().getTime() / 1e3,
                    "tasks": j.numTasks()})
    return out


def last_job_id(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


def executor_gc_s(spark) -> float:
    store = spark.sparkContext._jsc.sc().statusStore()
    return sum(x.totalGCTime() for x in _conv(spark).asJava(store.executorList(True))) / 1e3


# -- wave walls from the checkpoint ------------------------------------------

def _mtime(path: str) -> float | None:
    try:
        return os.stat(path).st_mtime
    except FileNotFoundError:
        return None


def wave_walls(ckpt_dir: str, call_starts: list[float]) -> dict:
    """Per-wave phases from the `_SUCCESS` marker each write leaves.

    A wave ends when its frontier table is written; it starts when the
    previous wave ended or, for the first wave of a `run_crawl` call, when
    the call started. The fetch phase (schedule, fetch join, extraction,
    checkpoint write) ends at `fetched/_SUCCESS`; the expand phase
    (outlink expansion and frontier merge) runs from there to
    `frontier/_SUCCESS`. Finalize runs from the last wave's end to the last
    of the order/seen/metrics writes; it includes the empty wave that finds
    the frontier exhausted.
    """
    waves = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(ckpt_dir)
        if d.startswith("wave=") and _mtime(os.path.join(ckpt_dir, d, "frontier", "_SUCCESS")) is not None
    )
    out = {"waves": [], "finalize_s": None}
    prev = None
    for w in waves:
        wdir = os.path.join(ckpt_dir, f"wave={w}")
        fetched = _mtime(os.path.join(wdir, "fetched", "_SUCCESS"))
        frontier = _mtime(os.path.join(wdir, "frontier", "_SUCCESS"))
        start = max([s for s in call_starts if s <= frontier] + ([prev] if prev is not None else []))
        out["waves"].append({"wave": w, "start": start, "end": frontier, "wall_s": frontier - start,
                             "fetch_s": fetched - start, "expand_s": frontier - fetched})
        prev = frontier
    finals = [_mtime(os.path.join(ckpt_dir, t, "_SUCCESS")) for t in ("order", "seen", "metrics")]
    if prev is not None and all(f is not None for f in finals):
        out["finalize_s"] = max(finals) - prev
    return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals; empty ones count for nothing."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jobs_in_window(jobs: list[dict], start: float, end: float) -> dict:
    """Jobs submitted in [start, end), their tasks, and the part of the
    window that no job covers."""
    inside = [j for j in jobs if start <= j["submit"] < end]
    covered = _covered([(max(j["submit"], start), min(j["end"], end)) for j in jobs])
    return {"jobs": len(inside), "tasks": sum(j["tasks"] for j in inside), "no_job_s": (end - start) - covered}


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile that still has at least
    ten samples beyond it. With ten samples or fewer no percentile has, and
    the maximum is returned as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    k = n - 11  # index with exactly ten samples above it
    return 100.0 * (k + 1) / n, xs[k]


# -- process memory ----------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes that map it. Summed RSS would count the pages a forked
    Python worker or a JVM's fork/exec child shares with its parent twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class ProcSampler:
    """Samples the summed PSS of this process's descendants (the JVM and
    its Python workers) and the number of Python workers, every 0.2 s."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_rss = 0
        self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = descendants(me)
            self.peak_rss = max(self.peak_rss, sum(_pss_bytes(p) for p in pids))
            self.peak_python = max(self.peak_python, sum(1 for p in pids if _is_python(p)))
            self._stop.wait(self.period)

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- spans -------------------------------------------------------------------

class Spans:
    """In-memory spans: name, start, end and parent."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.rows), "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.rows.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(rows: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of its
    interval that its child spans cover, summed over spans of that name."""
    out: dict[str, float] = {}
    for r in rows:
        covered = _covered([(max(c["start"], r["start"]), min(c["end"], r["end"]))
                            for c in rows if c["parent"] == r["id"]])
        out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"]) - covered
    return out
