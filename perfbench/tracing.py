"""Tracing for the layered benchmark (``run.py --trace 1``).

Three sources, joined by wall-clock windows:

- ``Tracer.span``: spans (name, start, end, parent, op) around each
  public call the benchmark makes, plus the ``compile_agg_schema*``
  functions, which ``wrap_functions`` wraps before the operator modules
  import them. Spans stay in memory; ``run.py`` writes them once at
  exit.
- ``Tracer.install_py4j_counter``: counts ``GatewayClient.send_command``
  calls and the time spent waiting in them, keyed by the phase the
  benchmark is in (for example ``("q3_top_orders", 1, "build")``).
- ``EventLog``: Spark's event log, parsed after the session stops. Every
  job is attributed to the window its submission time falls in, and
  separately to its job group, so jobs launched from threads that lack
  the op's group still land on the op.

The untraced run installs none of this.
"""

from __future__ import annotations

import bisect
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# ``Tracer.phase`` value outside every op window.
OUTSIDE = ("", -1, "outside")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.windows: list[tuple[float, float, tuple]] = []
        self.phase: tuple = OUTSIDE
        self.py4j: dict[tuple, list] = defaultdict(lambda: [0, 0.0])
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str = ""):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = [name, time.time(), None, stack[-1] if stack else None, op]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec[2] = time.time()

    @contextmanager
    def window(self, op: str, pass_no: int, phase: str):
        """Mark a phase of one op run: its py4j calls and the Spark jobs
        submitted inside it are charged to ``(op, pass_no, phase)``."""
        key = (op, pass_no, phase)
        self.phase = key
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((t0, time.time(), key))
            self.phase = OUTSIDE

    def install_py4j_counter(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        def send_command(client, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(client, *args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with tracer._lock:
                    c = tracer.py4j[tracer.phase]
                    c[0] += 1
                    c[1] += dt

        GatewayClient.send_command = send_command

    def wrap_functions(self, module, prefix: str) -> None:
        """Wrap every public function of ``module`` whose name starts with
        ``prefix`` in a span named after the module's layer. Must run
        before other modules ``from``-import those functions."""
        layer = module.__name__.split(".")[-2]
        for name in [n for n in vars(module) if n.startswith(prefix)]:
            orig = getattr(module, name)

            def wrapped(*args, _orig=orig, _name=f"{layer}.{name}", **kwargs):
                with self.span(_name, op=self.phase[0]):
                    return _orig(*args, **kwargs)

            wrapped.__wrapped__ = orig
            setattr(module, name, wrapped)

    def span_seconds(self, names: tuple[str, ...]) -> dict[tuple, float]:
        """Total duration of the named spans, per window key."""
        starts = [w[0] for w in self.windows]
        out: dict[tuple, float] = defaultdict(float)
        for name, t0, t1, _parent, _op in self.spans:
            if t1 is None or not name.startswith(names):
                continue
            key = _find_window(self.windows, starts, t0)
            out[key] += t1 - t0
        return out

    def spans_json(self) -> list[dict]:
        return [
            {"name": n, "start": t0, "end": t1, "parent": p, "op": op}
            for n, t0, t1, p, op in self.spans
        ]


def _find_window(windows, starts, t: float) -> tuple:
    i = bisect.bisect_right(starts, t) - 1
    if i >= 0 and t <= windows[i][1]:
        return windows[i][2]
    return OUTSIDE


# Per-job counters summed from task and stage events.
JOB_FIELDS = (
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "arrow_to_python_bytes",
    "arrow_from_python_bytes",
)

_ARROW_SENT = "data sent to Python workers"
_ARROW_RETURNED = "data returned from Python workers"


class EventLog:
    """Jobs of one Spark application, read from its (uncompressed,
    single-file) event log."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        stage_owner: dict[int, int] = {}
        submitted: set[int] = set()
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.jobs[jid] = {
                        "submit_ms": ev["Submission Time"],
                        "group": props.get("spark.jobGroup.id"),
                        **{k: 0 for k in JOB_FIELDS},
                    }
                    for sid in ev.get("Stage IDs", []):
                        if sid not in submitted:
                            stage_owner[sid] = jid
                elif kind == "SparkListenerStageSubmitted":
                    submitted.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerStageCompleted":
                    job = self._job_of(stage_owner, ev["Stage Info"]["Stage ID"])
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = self._job_of(stage_owner, ev["Stage ID"])
                    if job is not None:
                        _add_task(job, ev)

    def _job_of(self, stage_owner, sid):
        jid = stage_owner.get(sid)
        return self.jobs.get(jid) if jid is not None else None

    def attribute(self, windows) -> dict[tuple, list[dict]]:
        """Group jobs by the window their submission time falls in.

        Window bounds are widened to whole milliseconds, the event log's
        resolution; a job on a shared boundary goes to the later window.
        """
        ws = sorted(
            (int(t0 * 1000), int(t1 * 1000) + 1, key) for t0, t1, key in windows
        )
        starts = [w[0] for w in ws]
        out: dict[tuple, list[dict]] = defaultdict(list)
        for job in self.jobs.values():
            out[_find_window(ws, starts, job["submit_ms"])].append(job)
        return out


def _add_task(job: dict, ev: dict) -> None:
    job["tasks"] += 1
    m = ev.get("Task Metrics") or {}
    job["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    job["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
        "Local Bytes Read", 0
    )
    wr = m.get("Shuffle Write Metrics") or {}
    job["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name == _ARROW_SENT:
            job["arrow_to_python_bytes"] += int(acc.get("Update") or 0)
        elif name == _ARROW_RETURNED:
            job["arrow_from_python_bytes"] += int(acc.get("Update") or 0)
