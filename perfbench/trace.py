"""Spans, Spark job groups, a streaming-query listener and an event-log
rollup — everything the traced run needs, kept outside the package.

A span is one call into a public function of the engine.  Entering a
span tags every Spark job submitted from the calling thread with the
span's own job group; streaming queries run their micro-batch jobs
under their ``runId`` as job group, which the listener maps back to a
query name.  After the SparkContext stops, ``rollup`` reads Spark's own
JSON event log (stdlib ``json`` only) and sums task run time, task CPU
time, shuffle bytes written and spill per job group.  Spans live in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    # job group every job of the span ran under (a streaming query's runId)
    run_id: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``span(name)`` nests: a span opened
    while another is open on the same thread becomes its child."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.run_id, span.name)

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name,
            start=time.time(),
            parent=parent.run_id if parent else None,
            run_id=f"perfbench-{self._seq}-{name}",
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)


def wrap(tracer: Tracer, module, attr: str, name: str, on_result=None):
    """Replace ``module.attr`` by a function that runs the original
    inside ``tracer.span(name)``; ``on_result(span, result)`` may record
    counts from the return value.  Returns the function that puts the
    original back."""
    orig = getattr(module, attr)

    def traced(*args, **kwargs):
        with tracer.span(name) as s:
            out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(s, out)
            return out

    setattr(module, attr, traced)
    return lambda: setattr(module, attr, orig)


def self_time(span: Span, children: list[Span]) -> float:
    """Parent wall minus the part of its interval its children cover
    (children of concurrent streaming arms overlap; count each instant
    once)."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.wall - covered


def _epoch(ts: str) -> float:
    """Streaming progress timestamps: ISO-8601 UTC with milliseconds."""
    from datetime import datetime, timezone

    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def make_query_listener():
    """A StreamingQueryListener that keeps, per query runId, its name,
    start time and every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class QueryLog(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.queries: dict[str, dict] = {}

        def _q(self, run_id: str) -> dict:
            return self.queries.setdefault(
                run_id, {"name": None, "start": None, "progress": [], "done": False}
            )

        def onQueryStarted(self, event):
            with self.lock:
                q = self._q(str(event.runId))
                q["name"] = event.name
                q["start"] = _epoch(event.timestamp)

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self._q(str(p.runId))["progress"].append(
                    {
                        "batch": p.batchId,
                        "start": _epoch(p.timestamp),
                        "ms": p.durationMs.get("triggerExecution", 0),
                        "input_rows": p.numInputRows,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    }
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self._q(str(event.runId))["done"] = True

        def wait_done(self, run_ids, timeout: float = 30.0) -> None:
            """Listener events arrive asynchronously; wait for every
            given query's termination event."""
            deadline = time.time() + timeout
            while time.time() < deadline:
                with self.lock:
                    if all(self.queries.get(r, {}).get("done") for r in run_ids):
                        return
                time.sleep(0.05)

        def spans_for(self, parent: Span) -> list[Span]:
            """One child span per query started inside ``parent``: from
            its start event to the end of its last micro-batch."""
            out = []
            with self.lock:
                items = list(self.queries.items())
            for run_id, q in items:
                if q["start"] is None or not (parent.start <= q["start"] <= parent.end):
                    continue
                prog = q["progress"]
                end = max([p["start"] + p["ms"] / 1000 for p in prog] or [q["start"]])
                out.append(
                    Span(
                        name=q["name"],
                        start=q["start"],
                        end=min(end, parent.end),
                        parent=parent.run_id,
                        run_id=run_id,
                        counts={
                            "batches": sum(1 for p in prog if p["input_rows"] > 0),
                            "input_rows": sum(p["input_rows"] for p in prog),
                            "state_rows": max([p["state_rows"] for p in prog] or [0]),
                        },
                    )
                )
            return out

    return QueryLog()


def rollup(event_log: str) -> dict[str, dict]:
    """Spark JSON event log -> per job group: jobs, task run seconds,
    task CPU seconds, shuffle MB written, spill MB."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "task_s": 0.0, "task_cpu_s": 0.0,
                 "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    )
    with open(event_log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                groups[g]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                r = groups[g]
                r["task_s"] += m.get("Executor Run Time", 0) / 1e3
                r["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sw = m.get("Shuffle Write Metrics") or {}
                r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                r["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
    return dict(groups)


def event_log_file(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if app_id in name:
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
