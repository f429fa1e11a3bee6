"""Measurement from outside the program: spans, py4j round trips, Catalyst
phase times, the Spark event log and process memory.

Spans live in memory (``Tracer.spans``) and are written out once, when the
run ends.  Each wraps one call into one layer's public function; the
outermost span of an operation is its root, and every span carries the
operation's id.  A span's self time is its duration minus its children's,
so the layer self times of one operation add up to its wall time, less the
root's own (unattributed) time.

With tracing off, ``Tracer.span`` records nothing and no hook is
installed, so untraced ops pay one ``contextmanager`` call per span.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

#: Spark SQL metric names of ``pythonDataSent`` / ``pythonDataReceived``.
_PYTHON_BYTES = {"data sent to Python workers", "data returned from Python workers"}
_MB = 1024 * 1024


class Tracer:
    def __init__(self, enabled: bool) -> None:
        #: tracing on for this run: hooks installed, event log written
        self.enabled = enabled
        #: spans recorded now; a traced run switches it per operation in
        #: its timed region
        self.active = enabled
        self.spans: list[dict] = []
        self.phases: list[dict] = []
        #: seconds spent in this class's own hooks and in the py4j
        #: counting wrapper, by op id
        self.hook_s: dict[int, float] = {}
        #: seconds the counting wrapper adds to one py4j round trip
        self.call_s = 0.0
        self._stack: list[dict] = []
        self._next_op = 0
        self._py4j = 0
        self._sc = None
        self._client = None
        self._counted = None

    def attach(self, spark) -> None:
        """Count py4j round trips on ``spark``'s gateway client and tag
        jobs with op ids (tracing on only)."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        self._client = self._sc._gateway._gateway_client
        send = self._client.send_command

        def counted(*args, **kwargs):
            self._py4j += 1
            return send(*args, **kwargs)

        self._counted = counted
        self.call_s = self._wrapper_cost()
        self.set_active(True)

    def _wrapper_cost(self, n: int = 20_000) -> float:
        """Time the counting wrapper adds to one call, measured around a
        no-op in place of the gateway."""

        def noop(*args, **kwargs):
            return None

        def counted(*args, **kwargs):
            self._py4j += 1
            return noop(*args, **kwargs)

        calls = self._py4j
        t0 = time.perf_counter()
        for _ in range(n):
            noop("c")
        t1 = time.perf_counter()
        for _ in range(n):
            counted("c")
        t2 = time.perf_counter()
        self._py4j = calls
        return max(0.0, ((t2 - t1) - (t1 - t0)) / n)

    def set_active(self, on: bool) -> None:
        """Record spans and count round trips (on), or get out of the way
        (off): the wrapper is removed, spans record nothing."""
        if not self.enabled:
            return
        self.active = on
        if on:
            self._client.send_command = self._counted
        else:
            self._client.__dict__.pop("send_command", None)

    def _hook(self, op: int, t0: float) -> None:
        self.hook_s[op] = self.hook_s.get(op, 0.0) + time.perf_counter() - t0

    def _tag_jobs(self, group: str, op: int) -> None:
        t0 = time.perf_counter()
        if self._sc is not None:
            calls = self._py4j
            self._sc.setJobGroup(group, group)
            self._py4j = calls
        self._hook(op, t0)

    @contextlib.contextmanager
    def span(self, name: str, kind: str | None = None):
        """Record one call into a layer.  A span opened with no span open
        is an operation root; ``kind`` names the operation (request,
        write, read, stage...)."""
        if not self.active:
            yield
            return
        root = not self._stack
        if root:
            op = self._next_op
            self._next_op += 1
            self._tag_jobs(f"op-{op}", op)
        else:
            op = self._stack[0]["op"]
        rec = {
            "name": name,
            "kind": kind,
            "op": op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            "py4j": self._py4j,
            "t0": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            rec["py4j"] = self._py4j - rec["py4j"]
            self._stack.pop()
            if root:
                self._tag_jobs("idle", op)
                self.hook_s[op] += rec["py4j"] * self.call_s

    def catalyst(self, df) -> None:
        """Record analysis/optimization/planning ms of an executed
        DataFrame, from its ``QueryPlanningTracker``."""
        if not self.active:
            return
        op = self._stack[0]["op"] if self._stack else -1
        t0 = time.perf_counter()
        calls = self._py4j
        phases = df._jdf.queryExecution().tracker().phases()
        rec = {"op": op}
        for phase in ("analysis", "optimization", "planning"):
            found = phases.get(phase)
            rec[phase] = found.get().durationMs() if found.isDefined() else 0
        self.phases.append(rec)
        self._py4j = calls
        self._hook(op, t0)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the durations of its direct children."""
    out = {s["id"]: s["t1"] - s["t0"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["t1"] - s["t0"]
    return out


# -- event log -----------------------------------------------------------------


def engine_by_op(event_dir: str) -> dict[int, dict[str, float]]:
    """Sum task metrics per op id from the (uncompressed) event log.

    Jobs map to ops through the ``op-<id>`` job group ``Tracer`` sets;
    stages through their jobs; tasks through their stage."""
    stage_op: dict[int, int] = {}
    out: dict[int, dict[str, float]] = {}
    stages: dict[int, set] = {}

    def bucket(op: int) -> dict[str, float]:
        return out.setdefault(op, {
            "jobs": 0, "stages": 0, "tasks": 0, "sched_delay_ms": 0.0,
            "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "python_mb": 0.0,
        })

    # Spark 4 writes a directory of ``events_<n>_<app>`` files beside an
    # empty ``appstatus_<app>`` marker
    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(event_dir)
        for n in names if n.startswith("events_")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    if not group.startswith("op-"):
                        continue
                    op = int(group[3:])
                    bucket(op)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, op)
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    if op is None:
                        continue
                    b = bucket(op)
                    stages.setdefault(op, set()).add(ev["Stage ID"])
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    b["tasks"] += 1
                    run = m.get("Executor Run Time", 0)
                    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    b["sched_delay_ms"] += max(
                        0,
                        duration - run - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                        - info.get("Getting Result Time", 0),
                    )
                    b["run_ms"] += run
                    b["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    b["gc_ms"] += m.get("JVM GC Time", 0)
                    rd = m.get("Shuffle Read Metrics") or {}
                    b["shuffle_read_mb"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    ) / _MB
                    wr = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
                    b["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
                    for acc in info.get("Accumulables") or []:
                        if acc.get("Name") in _PYTHON_BYTES:
                            b["python_mb"] += float(acc.get("Update") or 0) / _MB
    for op, ids in stages.items():
        out[op]["stages"] = len(ids)
    return out


# -- process memory -----------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> tuple[float, float]:
    """VmHWM (peak resident set) of this process and of the JVM pyspark
    launched for ``spark``, in MB."""
    driver = _status_kb(os.getpid(), "VmHWM") / 1024
    java = _status_kb(spark.sparkContext._gateway.proc.pid, "VmHWM") / 1024
    return driver, java
