"""Tracing from outside the program: spans around calls into each layer's
public functions, plus Spark's own event log and codegen counters.

A span is ``(name, start, end, parent, op)`` with wall-clock seconds; the
parent is the index of the enclosing span, the op the benchmark op that
was running (None outside ops). Spans stay in memory and are written as
JSON when the run ends. ``Tracer.install`` swaps module attributes for
timing wrappers; ``uninstall`` puts the originals back, so the same
process can alternate traced and untraced stretches.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict

#: parity names as the operator modules bound them (``from ..parity import``)
PARITY_NAMES = ("det_double", "spark_det_double", "rsum", "usum", "usum_long")


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, float, float, int, object]] = []
        self._stack: list[int] = []
        self.op = None
        self.active = False
        self._patches: list[tuple[object, str, object]] = []

    # -------------------------------------------------------------- spans

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span named ``name`` (a plain call while
        the tracer is not installed)."""
        if not self.active:
            return fn(*args, **kwargs)
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            name_, start, _, parent_, op = self.spans[idx]
            self.spans[idx] = (name_, start, time.time(), parent_, op)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.span(name, orig, *args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self, spark) -> None:
        """Wrap the layer entry points the workloads reach."""
        from catena_spark import api, session, tables
        from catena_spark.operators import relational, timeseries
        from catena_spark.sources import ingest

        self.wrap(tables, "load", "tables.load")
        for mod in (tables, session):
            self.wrap(mod, "ensure_runtime_conf", "session.ensure_runtime_conf")
        for mod in (relational, timeseries):
            for name in PARITY_NAMES:
                if hasattr(mod, name):
                    self.wrap(mod, name, "parity")
        for meth in ("insert_rows", "iterator", "latest", "compact", "enforce_retention"):
            self.wrap(api.CatenaDB, meth, f"api.{meth}")
        for fn in ("compact", "retain_latest", "stream_ingest_events"):
            self.wrap(ingest, fn, f"ingest.{fn}")
        self.wrap(api.SeriesIterator, "first", "api.first")
        client = spark.sparkContext._gateway._gateway_client
        self.wrap(type(client), "send_command", "py4j")
        self.active = True

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        self.active = False

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": n, "start": s, "end": e, "parent": p, "op": o}
                    for n, s, e, p, o in self.spans
                ],
                f,
            )

    # ------------------------------------------------------------ analysis

    def per_op(self) -> dict[object, dict[str, list[float]]]:
        """{op: {name: [total s, calls, self s]}} for spans inside ops.

        Total time counts only the outermost span of each name, so a
        parity helper calling another parity helper is not billed twice;
        self time is a span's duration minus the union its direct
        children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for n, s, e, p, o in self.spans:
            if p >= 0:
                children[p].append((s, e))
        out: dict[object, dict[str, list[float]]] = defaultdict(
            lambda: defaultdict(lambda: [0.0, 0, 0.0])
        )
        for i, (n, s, e, p, o) in enumerate(self.spans):
            if o is None:
                continue
            acc = out[o][n]
            acc[1] += 1
            if self._outermost(i, n):
                acc[0] += e - s
            acc[2] += (e - s) - covered(children.get(i, []), s, e)
        return out

    def _outermost(self, i: int, name: str) -> bool:
        p = self.spans[i][3]
        while p >= 0:
            if self.spans[p][0] == name:
                return False
            p = self.spans[p][3]
        return True


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ codegen counters


def codegen_counts(spark) -> tuple[int, float]:
    """(compiles so far, compile seconds so far) from Spark's
    CodegenMetrics. The time is the sum of the histogram's reservoir,
    which holds every sample while there are fewer than 1028."""
    jvm = spark.sparkContext._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    snap = hist.getSnapshot()
    return int(hist.getCount()), sum(snap.getValues()) / 1000.0


# ------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> dict:
    """Jobs, task metrics and scan metrics from a Spark event log,
    keyed by job description.

    Returns {"jobs": {job_id: {"desc", "start", "end", "stages"}},
             "stages": {stage_id: metrics dict},
             "scan": {description: [files read, partitions read]}}.
    Times are epoch seconds (the log has millisecond resolution)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    exec_desc: dict[int, str] = {}
    accum_name: dict[int, str] = {}
    accum_exec: dict[int, int] = {}
    scan: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0])
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "desc": props.get("spark.job.description"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages[ev["Stage ID"]]
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    if "description" in ev:  # the job description at submission
                        exec_desc[ev["executionId"]] = ev["description"]
                    _scan_accums(ev.get("sparkPlanInfo") or {}, ev["executionId"], accum_name, accum_exec)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        name = accum_name.get(acc_id)
                        desc = exec_desc.get(accum_exec.get(acc_id, -1))
                        if name and desc:
                            scan[desc][0 if name == "number of files read" else 1] += value
    return {"jobs": jobs, "stages": stages, "scan": scan}


def _scan_accums(node: dict, exec_id: int, names: dict, execs: dict) -> None:
    if node.get("nodeName", "").startswith("Scan"):
        for m in node.get("metrics", []):
            if m["name"] in ("number of files read", "number of partitions read"):
                names[m["accumulatorId"]] = m["name"]
                execs[m["accumulatorId"]] = exec_id
    for child in node.get("children", []):
        _scan_accums(child, exec_id, names, execs)
