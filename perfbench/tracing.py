"""The traced run's instruments: in-memory spans, a Catalyst-phase
listener, a streaming-progress listener and the Spark event-log reader.

Spans carry wall-clock epoch seconds so Spark jobs from the event log
(whose ``Submission Time`` is epoch milliseconds) can be attributed to
the innermost span that was open when they were submitted.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records ``{"id", "parent", "trace", "name", "layer", "start",
    "end", ...attrs}`` spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "trace": self.trace_id, "name": name, "layer": layer,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        ids = {root["id"]}
        out = [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


@contextmanager
def wrapped(module, names: list[str], tracer: Tracer, layer: str,
            terminal: tuple[str, ...] = ()):
    """Temporarily replace ``module.<name>`` by a function that runs
    the original inside a span named after it."""
    originals = {n: getattr(module, n) for n in names}

    def wrap(name, fn):
        def inner(*args, **kwargs):
            with tracer.span(name, layer, terminal=name in terminal):
                return fn(*args, **kwargs)
        return inner

    for n, fn in originals.items():
        setattr(module, n, wrap(n, fn))
    try:
        yield
    finally:
        for n, fn in originals.items():
            setattr(module, n, fn)


def phases(jqe) -> dict[str, float]:
    """Catalyst phase seconds of a JVM ``QueryExecution``."""
    it = jqe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


class CatalystListener:
    """``QueryExecutionListener`` implemented over the Py4J callback
    server: keeps (end time, phase seconds) of every execution."""

    def __init__(self):
        self.events: list[tuple[float, dict[str, float]]] = []

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802
        self.events.append((time.time(), phases(qe)))

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        self.events.append((time.time(), phases(qe)))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def streaming_listener():
    """A ``StreamingQueryListener`` that keeps (time, batch seconds)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[float, float]] = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            self.batches.append((time.time(),
                                 event.progress.batchDuration / 1000.0))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Progress()


def install_listeners(spark):
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    catalyst = CatalystListener()
    spark._jsparkSession.listenerManager().register(catalyst)
    progress = streaming_listener()
    spark.streams.addListener(progress)
    return catalyst, progress


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs ``{"id", "submit", "stages"}`` and per-stage task totals
    from an uncompressed event log (Spark 4 writes a v2 directory)."""
    jobs: list[dict] = []
    owned: set[int] = set()      # a stage belongs to the first job listing it
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    mine = [s for s in ev["Stage IDs"] if s not in owned]
                    owned.update(mine)
                    jobs.append({"id": ev["Job ID"],
                                 "submit": ev["Submission Time"] / 1000.0,
                                 "stages": mine})
                elif kind == "SparkListenerStageCompleted":
                    stages[ev["Stage Info"]["Stage ID"]]["completed"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages[ev["Stage ID"]]
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["deserialize_s"] += (
                        m.get("Executor Deserialize Time", 0) / 1e3)
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    st["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0))
                    r = m.get("Shuffle Read Metrics", {})
                    st["shuffle_read_bytes"] += (
                        r.get("Remote Bytes Read", 0)
                        + r.get("Local Bytes Read", 0))
                    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def innermost(spans: list[dict], t: float) -> dict | None:
    """The deepest span open at epoch second ``t`` (later-started wins
    among overlapping siblings)."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"]:
            best = s          # spans are appended in start order
    return best
