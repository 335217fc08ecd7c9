"""Per-layer tracing for the benchmark's traced run.

Two sources, both outside the engine's own modules:

* :class:`Tracer` wraps public functions of the engine's layers (the
  loader, ``dedup.connected_components``, the ``graph`` loops, the
  ``materialize`` registry) and pyspark's ``persist``/``cache``/
  ``localCheckpoint`` for the life of a traced pass, accumulating spans
  (seconds) and counts in memory.
* :func:`event_log_metrics` reads Spark's JSON event log after the
  session stops and attributes jobs, stages, tasks, SQL metrics of the
  Python-worker operators and streaming progress to the time windows the
  benchmark recorded around each query.

:data:`PER_LAYER` lists every metric the traced run emits, with its unit.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from datetime import datetime

MB = 1024.0 * 1024.0

PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "sources.load_s": "s",
    "sources.input_mb": "MB",
    "sources.scan_partitions": "count",
    "catalog.construct_s": "s",
    "catalog.construct_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.sink_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.idle_s": "s",
    "exec.slot_busy_frac": "frac",
    "operators.dedup.cc_s": "s",
    "operators.dedup.cc_rounds": "count",
    "operators.graph.loop_s": "s",
    "materialize.persists": "count",
    "materialize.local_checkpoints": "count",
    "materialize.tracked": "count",
    "materialize.released": "count",
    "cache.builds": "count",
    "cache.mb_written": "MB",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_commit_ms": "ms",
    "stream.state_mb": "MB",
    "pyworker.total_s": "s",
    "pyworker.boot_s": "s",
    "pyworker.mb_sent": "MB",
    "pyworker.rows_received": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}

# Per-layer metrics where a larger value is the better one; every other
# per-layer metric is better lower.
HIGHER_IS_BETTER = {"exec.slot_busy_frac", "materialize.released"}

# operators/graph.py functions that run driver-side iteration loops.
GRAPH_LOOPS = (
    "pagerank_fixed",
    "label_propagation_fixed",
    "bfs_min_hops",
    "kcore_nodes",
    "hits_fixed",
    "ppr_fixed",
    "sssp_bounded",
)

PKG = "database_per_keyword_analysis_spark"


class Tracer:
    """Spans and counts from wrapped layer entry points.

    ``install`` swaps each wrapped function into every engine module that
    holds a reference to it (``from .sources import load`` binds a name
    in ``catalog``), and ``uninstall`` puts the originals back."""

    def __init__(self) -> None:
        self.spans: dict[str, float] = defaultdict(float)
        self.counts: dict[str, int] = defaultdict(int)
        self._undo: list[tuple[object, str, object]] = []
        self._depth: dict[str, int] = defaultdict(int)

    def _timed(self, span: str, fn, after=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # nested calls of one span (a loop calling another loop)
            # count once, at the outermost call
            self._depth[span] += 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                self._depth[span] -= 1
                if self._depth[span] == 0:
                    self.spans[span] += time.perf_counter() - t0
            if after is not None:
                after(out)
            return out

        return wrapper

    def _counted(self, count: str, fn, add=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            self.counts[count] += add(out) if add else 1
            return out

        return wrapper

    def _swap(self, owner, name: str, new) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def _swap_everywhere(self, original, new) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._swap(mod, attr, new)

    def install(self, df_class) -> None:
        from database_per_keyword_analysis_spark import materialize
        from database_per_keyword_analysis_spark.operators import dedup, graph
        from database_per_keyword_analysis_spark.sources import loader

        self._swap_everywhere(loader.load, self._timed("sources.load_s", loader.load))
        cc = dedup.connected_components

        def _rounds(_out):
            # connected_components stores its round count on the module-level
            # name, which is this wrapper while it is installed
            self.counts["operators.dedup.cc_rounds"] += vars(cc_wrapper).pop("last_iterations", 0)

        cc_wrapper = self._timed("operators.dedup.cc_s", cc, _rounds)
        # functools.wraps copied the last untraced call's count
        vars(cc_wrapper).pop("last_iterations", None)
        self._swap_everywhere(cc, cc_wrapper)
        for name in GRAPH_LOOPS:
            fn = getattr(graph, name, None)
            if fn is not None:
                self._swap_everywhere(fn, self._timed("operators.graph.loop_s", fn))
        self._swap_everywhere(
            materialize.track, self._counted("materialize.tracked", materialize.track)
        )
        self._swap_everywhere(
            materialize.release_materialized,
            self._counted(
                "materialize.released", materialize.release_materialized, add=int
            ),
        )
        for meth in ("persist", "cache"):
            self._swap(
                df_class, meth, self._counted("materialize.persists", getattr(df_class, meth))
            )
        self._swap(
            df_class,
            "localCheckpoint",
            self._counted("materialize.local_checkpoints", df_class.localCheckpoint),
        )

    def uninstall(self) -> None:
        while self._undo:
            owner, name, val = self._undo.pop()
            setattr(owner, name, val)


# ---------------------------------------------------------------------------
# event log


def _iso_ms(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0


def _python_metric_ids(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    """Accumulator ids of the SQL metrics on Python-worker plan nodes
    (ArrowEvalPython, FlatMapGroupsInPandas…, MapInPandas, …)."""
    name = plan.get("nodeName", "")
    if "Python" in name or "Pandas" in name or "Arrow" in name:
        for m in plan.get("metrics", []):
            out[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
    for child in plan.get("children", []):
        _python_metric_ids(child, out)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_metrics(
    path: str, windows: list[tuple[float, float, float]], cores: int
) -> dict[str, float]:
    """Per-layer execution, streaming and Python-worker metrics.

    ``windows`` holds one ``(start, construct_end, sink_end)`` triple of
    epoch milliseconds per traced query; events outside every window
    (set-up, correctness checks, other passes) are ignored."""
    spans = sorted((s, e) for s, _, e in windows)
    constructs = sorted((s, c) for s, c, _ in windows)

    def inside(t: float, ivs) -> bool:
        return any(s <= t <= e for s, e in ivs)

    m: dict[str, float] = defaultdict(float)
    py_ids: dict[int, tuple[str, str]] = {}
    py_acc: dict[tuple[str, str], float] = defaultdict(float)
    busy: list[tuple[float, float]] = []
    state_peak: dict[str, tuple[float, float]] = {}

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"]
                if inside(t, spans):
                    m["exec.jobs"] += 1
                if inside(t, constructs):
                    m["catalog.construct_jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                t = ev["Stage Info"].get("Submission Time")
                if t is not None and inside(t, spans):
                    m["exec.stages"] += 1
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_metric_ids(ev.get("sparkPlanInfo", {}), py_ids)
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                t0, t1 = info["Launch Time"], info["Finish Time"]
                if not inside(t0, spans):
                    continue
                m["exec.tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    m["exec.failed_tasks"] += 1
                busy.append((t0, t1))
                tm = ev.get("Task Metrics") or {}
                m["exec.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["exec.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["exec.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                sr = tm.get("Shuffle Read Metrics", {})
                m["exec.shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                m["exec.shuffle_write_mb"] += (
                    tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
                )
                im = tm.get("Input Metrics", {})
                m["sources.input_mb"] += im.get("Bytes Read", 0) / MB
                if im.get("Records Read", 0) > 0:
                    m["sources.scan_partitions"] += 1
                for acc in info.get("Accumulables", []):
                    meta = py_ids.get(acc.get("ID"))
                    if meta is not None and acc.get("Update") is not None:
                        # SQL-metric updates are logged as strings
                        py_acc[meta] += float(acc["Update"])
            elif kind.endswith("QueryProgressEvent"):
                p = ev["progress"]
                if not inside(_iso_ms(p["timestamp"]), spans):
                    continue
                d = p.get("durationMs", {})
                m["stream.batches"] += 1
                m["stream.input_rows"] += sum(
                    src.get("numInputRows", 0) for src in p.get("sources", [])
                )
                m["stream.trigger_ms"] += d.get("triggerExecution", 0)
                m["stream.add_batch_ms"] += d.get("addBatch", 0)
                m["stream.wal_commit_ms"] += d.get("walCommit", 0)
                rows = mem = 0.0
                for op in p.get("stateOperators", []):
                    m["stream.state_commit_ms"] += op.get("commitTimeMs", 0)
                    rows += op.get("numRowsTotal", 0)
                    mem += op.get("memoryUsedBytes", 0)
                prev = state_peak.get(p["runId"], (0.0, 0.0))
                state_peak[p["runId"]] = (max(prev[0], rows), max(prev[1], mem))

    m["stream.state_rows"] = sum(r for r, _ in state_peak.values())
    m["stream.state_mb"] = sum(b for _, b in state_peak.values()) / MB

    wall = _union_length(spans)
    clipped = []
    for t0, t1 in busy:
        for s, e in spans:
            lo, hi = max(t0, s), min(t1, e)
            if hi > lo:
                clipped.append((lo, hi))
    m["exec.idle_s"] = (wall - _union_length(clipped)) / 1e3
    m["exec.slot_busy_frac"] = (
        sum(e - s for s, e in clipped) / (cores * wall) if wall > 0 else 0.0
    )

    def py(name: str) -> float:
        total = 0.0
        for (metric, mtype), v in py_acc.items():
            if metric != name:
                continue
            # SQL timing metrics are ms ("timing") or ns ("nsTiming")
            total += v / 1e9 if mtype == "nsTiming" else v / 1e3 if mtype == "timing" else v
        return total

    m["pyworker.total_s"] = py("time to run Python workers")
    m["pyworker.boot_s"] = py("time to start Python workers")
    m["pyworker.mb_sent"] = py("data sent to Python workers") / MB
    m["pyworker.rows_received"] = py("number of output rows")
    return dict(m)
