"""Spans and counters recorded from outside the program.

Everything here wraps calls the benchmark makes into the public surface;
nothing patches package code. Spans are kept in memory and written out
when the run ends. A span's layer is the text before the first ``.`` of
its name (``queries.build`` -> ``queries``); a layer's self time is its
spans' durations minus the parts their child spans cover.

Engine-side numbers come from Spark's own bookkeeping: the SQL status
store (execution ids, final physical plans, operator metrics), each
frame's ``QueryExecution`` phase tracker, and a streaming query listener
for per-micro-batch progress.
"""

from __future__ import annotations

import re
import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager

LAYERS = ("bench", "session", "queries", "spark", "pipeline", "streaming")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, op: int) -> dict[str, float]:
        """Self time per layer (seconds) over the spans of one op."""
        spans = [s for s in self.spans if s["op"] == op]
        child = Counter()
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = dict.fromkeys(LAYERS, 0.0)
        for s in spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def total(self, op: int, name: str) -> float:
        return sum(
            s["end"] - s["start"] for s in self.spans if s["op"] == op and s["name"] == name
        )


class Py4jCounter:
    """Counts py4j commands the Python side sends to the JVM, except
    ``m`` (object-release commands the Python GC issues at arbitrary
    times, which make a raw count drift between identical calls)."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        self.counts: Counter = Counter()
        orig = client.send_command

        def send_command(command, *args, **kwargs):
            self.counts[command[:1]] += 1
            return orig(command, *args, **kwargs)

        client.send_command = send_command

    def total(self) -> int:
        return sum(n for kind, n in self.counts.items() if kind != "m")


# Operator metrics read from the status store, by Spark's metric name.
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_TUNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_METRICS = {
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
    "scan time": "scan_ms",
    "time in aggregation build": "agg_build_ms",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


def parse_metric(text: str, kind: str) -> float:
    """Total of one operator metric from its display string, e.g.
    ``"total (min, med, max (stageId: taskId))\\n519.7 KiB (...)"``."""
    line = text.split("\n")[1] if "\n" in text else text
    if kind == "size":
        m = _SIZE.search(line)
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0
    if kind in ("timing", "nsTiming"):
        m = _TIME.search(line)
        return float(m.group(1).replace(",", "")) * _TUNITS[m.group(2)] if m else 0.0
    try:
        return float(line.split(" ")[0].replace(",", ""))
    except ValueError:
        return 0.0


class SparkStats:
    """Per-op engine numbers from the SQL status store (works with the
    UI off): executions issued, their final plans and operator metrics."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()

    def count(self) -> int:
        return int(self.store.executionsCount())

    def collect(self, first: int) -> dict[str, float]:
        out = dict.fromkeys(
            ("executions", "exec_s", "scans", "reused_exchanges",
             "shuffle_bytes", "spill_bytes", "scan_ms", "agg_build_ms", "python_bytes"),
            0.0,
        )
        n = self.count() - first
        if n <= 0:
            return out
        execs = self.store.executionsList(first, n)
        for i in range(execs.size()):
            ex = execs.apply(i)
            out["executions"] += 1
            done = ex.completionTime()
            if done.isDefined():
                out["exec_s"] += (done.get().getTime() - ex.submissionTime()) / 1e3
            plan = ex.physicalPlanDescription()
            out["scans"] += len(re.findall(r"(?m)^\(\d+\) Scan ", plan))
            out["reused_exchanges"] += len(re.findall(r"(?m)^\(\d+\) ReusedExchange", plan))
            kinds = {}
            for rec in filter(None, ex.metrics().mkString("\u0001").split("\u0001")):
                body = rec[len("SQLPlanMetric("):-1]
                name, acc, kind = body.rsplit(",", 2)
                if name in _METRICS:
                    kinds[acc] = (_METRICS[name], kind)
            if not kinds:
                continue
            values = self.store.executionMetrics(ex.executionId()).mkString("\u0001")
            for rec in values.split("\u0001"):
                acc, _, text = rec.partition(" -> ")
                if acc in kinds:
                    key, kind = kinds[acc]
                    out[key] += parse_metric(text, kind)
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Optimization and planning ms of a frame's own QueryExecution.
    A ``noop`` write plans a separate write command, so the frame's
    tracker holds only ``analysis`` until its executed plan is forced."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("optimization", "planning"):
        p = phases.get(phase)
        out[phase] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def _make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started = 0
            self.terminated = 0
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            with self.lock:
                self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            rec = {
                "duration": dict(p.durationMs or {}),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_mem_bytes": sum(o.memoryUsedBytes for o in ops),
            }
            with self.lock:
                self.batches.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated += 1

    return Listener()


class StreamStats:
    """Micro-batch progress of every streaming query an op runs."""

    def __init__(self, spark):
        self.listener = _make_listener()
        spark.streams.addListener(self.listener)

    def collect(self, timeout_s: float = 5.0) -> dict[str, float]:
        """Wait for the listener bus to deliver every started query's
        termination, then take and summarise the batches seen."""
        lst = self.listener
        end = time.perf_counter() + timeout_s
        while lst.terminated < lst.started and time.perf_counter() < end:
            time.sleep(0.01)
        time.sleep(0.05)  # progress events precede their termination event
        with lst.lock:
            batches, lst.batches = lst.batches, []

        def p50(key):
            vals = [b["duration"].get(key, 0) for b in batches]
            return float(statistics.median(vals)) if vals else 0.0

        commits = [
            b["duration"].get("walCommit", 0) + b["duration"].get("commitOffsets", 0)
            for b in batches
        ]
        return {
            "drain_s": sum(b["duration"].get("triggerExecution", 0) for b in batches) / 1e3,
            "batches": float(len(batches)),
            "trigger_ms_p50": p50("triggerExecution"),
            "add_batch_ms_p50": p50("addBatch"),
            "planning_ms_p50": p50("queryPlanning"),
            "commit_ms_p50": float(statistics.median(commits)) if commits else 0.0,
            "state_commit_ms": float(sum(b["state_commit_ms"] for b in batches)),
            "state_rows": float(max((b["state_rows"] for b in batches), default=0)),
            "state_mem_bytes": float(max((b["state_mem_bytes"] for b in batches), default=0)),
        }
