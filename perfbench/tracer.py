"""Spans around the benchmark's calls into the engine's layers.

A span records its name, start, end, parent and the id of the op or
query it belongs to. Spans stay in memory until the run ends. Each
span also counts the py4j commands sent while it was open, and sets
the Spark job group ``<workload>/<op>/<phase>`` so the event log can
charge every job to the call that launched it.

With tracing off, ``span`` returns one shared no-op context and
``group`` does nothing, so the timed runs pay nothing for either.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    rpcs: int = 0
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


class RpcCounter:
    """Counts py4j commands by wrapping ``send_command`` (the same hook
    ``tools/profile_build.py`` uses)."""

    def __init__(self) -> None:
        self.n = 0
        self._orig = None

    def install(self) -> None:
        import py4j.clientserver as cs

        self._orig = orig = cs.ClientServerConnection.send_command
        counter = self

        def counted(conn, command, *args, **kwargs):
            counter.n += 1
            return orig(conn, command, *args, **kwargs)

        cs.ClientServerConnection.send_command = counted

    def uninstall(self) -> None:
        if self._orig is not None:
            import py4j.clientserver as cs

            cs.ClientServerConnection.send_command = self._orig
            self._orig = None


_NOOP = contextlib.nullcontext()


@dataclass
class Tracer:
    """``traced`` is fixed per run and sets job groups. ``start`` and
    ``stop`` bracket a traced pass: spans are recorded and py4j commands
    counted only between them."""

    workload: str
    traced: bool = False
    recording: bool = False
    spans: list[Span] = field(default_factory=list)
    sc: object = None  # SparkContext, for job groups
    rpc: RpcCounter = field(default_factory=RpcCounter)
    _stack: list[int] = field(default_factory=list)

    def start(self) -> None:
        self.rpc.install()
        self.recording = True

    def stop(self) -> None:
        self.recording = False
        self.rpc.uninstall()

    def group(self, op: str, phase: str) -> None:
        """Tag the Spark jobs that follow with ``<workload>/<op>/<phase>``."""
        if self.traced and self.sc is not None:
            self.sc.setJobGroup(f"{self.workload}/{op}/{phase}", phase, False)

    def span(self, name: str, op: str, phase: str | None = None):
        if not self.recording:
            return _NOOP
        return self._span(name, op, phase)

    @contextlib.contextmanager
    def _span(self, name: str, op: str, phase: str | None):
        if phase is not None:
            self.group(op, phase)
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        op_id = self.spans[parent].op_id if parent is not None else idx
        sp = Span(name, op, op_id, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(idx)
        rpc0 = self.rpc.n
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.rpcs = self.rpc.n - rpc0
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += sp.end - sp.start

    def self_times(self, name: str) -> list[float]:
        return [s.self_s for s in self.spans if s.name == name]

    def median_self(self, name: str) -> float:
        xs = self.self_times(name)
        return statistics.median(xs) if xs else 0.0

    def total_self(self, name: str) -> float:
        return sum(self.self_times(name))

    def total_rpcs(self, name: str) -> int:
        return sum(s.rpcs for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "parent": s.parent, "op_id": s.op_id,
                    "name": s.name, "op": s.op,
                    "start": s.start, "end": s.end, "self_s": s.self_s,
                    "rpcs": s.rpcs,
                }) + "\n")
