"""Span tracer for the traced benchmark run.

A span wraps one call into a layer of the package.  While a span is open,
every Spark job submitted is attributed to the innermost open span (the one
started last), whichever thread submitted it: the job group set per span
does not reach jobs that the package launches from its own threads (the
sink pool in ``persist_pipeline_outputs``) or from a streaming query, so
attribution goes by job-id window instead.  This is exact because the
benchmark issues one call at a time.  After a job ends, its stages are read
from ``statusStore().lastStageAttempt`` (this works with
``spark.ui.enabled=false``), each stage once.

py4j commands are counted by wrapping the gateway client's ``send_command``;
the tracer's own commands are not counted.  Spans stay in memory and are
written out by :meth:`Tracer.dump` when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import dataclass, field

STAGE_FIELDS = ("jobs", "tasks", "run_ms", "cpu_ns", "shuffle_bytes", "spill_bytes",
                "input_records", "output_bytes")


class NoTracer:
    """Stands in for :class:`Tracer` in untraced runs."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()


@dataclass
class Span:
    name: str
    layer: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0
    py4j_calls: int = 0
    own: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0))
    children: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def total(self, key: str) -> int:
        """``key`` over this span and every span nested in it."""
        return self.own[key] + sum(c.total(key) for c in self.children)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []  # closed spans, in end order
        self._jsc = spark.sparkContext._jsc
        self._store = self._jsc.sc().statusStore()
        self._bus = self._jsc.sc().listenerBus()
        self._tracker = self._jsc.statusTracker()
        self._lock = threading.RLock()
        self._local = threading.local()
        self._active: list[Span] = []
        self._owner: dict[int, Span | None] = {}  # job id -> span, until the job ends
        self._next_job = self._first_unseen_job(0)
        self._stages_seen: set[int] = set()
        self.py4j_calls = 0
        self._count_py4j()

    # -- py4j accounting ---------------------------------------------------
    def _count_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counted(*args, **kwargs):
            if not getattr(self._local, "busy", False):
                with self._lock:
                    self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted

    # -- job attribution ---------------------------------------------------
    def _first_unseen_job(self, j: int) -> int:
        while self._tracker.getJobInfo(j) is not None:
            j += 1
        return j

    def _flush(self) -> None:
        """Assign jobs submitted since the last span boundary to the
        innermost open span; harvest the stages of jobs that have ended."""
        self._local.busy = True
        try:
            self._bus.waitUntilEmpty()
            owner = self._active[-1] if self._active else None
            j = self._next_job
            while self._tracker.getJobInfo(j) is not None:
                self._owner[j] = owner
                j += 1
            self._next_job = j
            for jid, span in list(self._owner.items()):
                status = str(self._tracker.getJobInfo(jid).status())
                if status in ("RUNNING", "UNKNOWN"):
                    continue
                del self._owner[jid]
                if span is not None:
                    self._harvest(jid, span)
        finally:
            self._local.busy = False

    def _harvest(self, job_id: int, span: Span) -> None:
        span.own["jobs"] += 1
        for sid in self._tracker.getJobInfo(job_id).stageIds():
            if sid in self._stages_seen:
                continue
            self._stages_seen.add(sid)
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # stage never ran (skipped) and was not stored
                continue
            o = span.own
            o["tasks"] += st.numCompleteTasks()
            o["run_ms"] += st.executorRunTime()
            o["cpu_ns"] += st.executorCpuTime()
            o["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            o["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            o["input_records"] += st.inputRecords()
            o["output_bytes"] += st.outputBytes()

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """Time one call into a layer; ``name`` starts with ``<layer>.``."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            self._flush()
            self._local.busy = True
            try:
                self.spark.sparkContext.setJobGroup(name, name)
            finally:
                self._local.busy = False
            s = Span(name, name.split(".")[0], self._active[-1] if self._active else None)
            if s.parent is not None:
                s.parent.children.append(s)
            s.py4j_calls = -self.py4j_calls
            s.start = time.perf_counter()
            self._active.append(s)
        try:
            yield s
        finally:
            with self._lock:
                s.end = time.perf_counter()
                self._flush()
                s.py4j_calls += self.py4j_calls
                self._active.remove(s)
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def finish(self) -> None:
        with self._lock:
            self._flush()

    # -- aggregation -------------------------------------------------------
    def layer_totals(self, layer: str) -> dict:
        """Spark work attributed to ``layer`` itself (not to spans of other
        layers nested inside it)."""
        out = dict.fromkeys(STAGE_FIELDS, 0)
        for s in self.spans:
            if s.layer == layer:
                for k in STAGE_FIELDS:
                    out[k] += s.own[k]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = {"name": s.name, "layer": s.layer,
                       "parent": s.parent.name if s.parent else None,
                       "start": s.start, "end": s.end, "py4j_calls": s.py4j_calls,
                       **s.own}
                f.write(json.dumps(rec) + "\n")
