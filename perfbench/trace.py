"""Per-layer tracing from outside the engine.

Each span is one call into a layer's public function. The benchmark
sets a Spark job group per span, so every job (and its stages and
tasks) the call launches is attributed to it in the Spark event log;
the log is parsed after the session stops. A span's input is
persisted and counted first, in its own parent span, so the span
itself measures only the call. A DataFrame output is forced with a
``noop`` write, or, where the output check needs it anyway, by that
check's own collect inside the span, so the call is not run twice.
Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import json
import os
import statistics
from contextlib import contextmanager

from perfbench.host import now

SPAN_METRICS = {
    "wall_s": "s",
    "cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "task_skew": "ratio",
}

_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._cached: list = []

    @contextmanager
    def span(self, name: str, parent: str | None = None, driver_only: bool = False):
        sid = f"s{len(self.spans)}"
        group = f"perfbench-{sid}"
        if not driver_only:
            self.sc.setJobGroup(group, name)
        t0 = now()
        try:
            yield sid
        finally:
            t1 = now()
            if not driver_only:
                self.sc.setLocalProperty(_GROUP_PROP, None)
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "group": group,
                 "start": t0, "end": t1, "driver_only": driver_only}
            )

    def call(self, name: str, fn, inputs=(), force: bool = True):
        """Run ``fn(*inputs)`` as span ``name``; inputs are persisted
        and counted first in span ``<name>.input``. With ``force=False``
        ``fn`` must force its own output (e.g. by collecting it).
        Returns ``(output, persisted_inputs)``."""
        parent = None
        if inputs:
            with self.span(f"{name}.input") as parent:
                inputs = [df.persist() for df in inputs]
                for df in inputs:
                    df.count()
            self._cached.extend(inputs)
        with self.span(name, parent):
            out = fn(*inputs)
            if force:
                out.write.format("noop").mode("overwrite").save()
        return out, inputs

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _event_lines(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        parts = (
            sorted(os.path.join(path, n) for n in os.listdir(path) if n.startswith("events_"))
            if os.path.isdir(path)
            else [path]
        )
        for p in parts:
            with open(p) as f:
                yield from f


def parse_event_log(log_dir: str, spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per-span-name task metrics from the event log: summed executor
    run time, GC time, shuffle bytes written and bytes spilled, and
    task skew (max over median task run time) of the span's heaviest
    stage. Spans sharing a name are summed."""
    name_of = {s["group"]: s["name"] for s in spans if not s["driver_only"]}
    stage_name: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            name = name_of.get((ev.get("Properties") or {}).get(_GROUP_PROP))
            if name is not None:
                for si in ev.get("Stage Infos", []):
                    stage_name[si["Stage ID"]] = name
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_name:
            tm = ev.get("Task Metrics") or {}
            swm = tm.get("Shuffle Write Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append(
                {
                    "run_ms": tm.get("Executor Run Time") or 0,
                    "gc_ms": tm.get("JVM GC Time") or 0,
                    "shuffle_write": swm.get("Shuffle Bytes Written") or 0,
                    "spill": (tm.get("Memory Bytes Spilled") or 0)
                    + (tm.get("Disk Bytes Spilled") or 0),
                }
            )
    out: dict[str, dict[str, float]] = {}
    for name in set(name_of.values()):
        stages = [ts for sid, ts in tasks.items() if stage_name[sid] == name]
        flat = [t for ts in stages for t in ts]
        heavy = max(stages, key=lambda ts: sum(t["run_ms"] for t in ts), default=[])
        times = [t["run_ms"] for t in heavy]
        med = statistics.median(times) if times else 0
        out[name] = {
            "cpu_s": sum(t["run_ms"] for t in flat) / 1000.0,
            "gc_s": sum(t["gc_ms"] for t in flat) / 1000.0,
            "shuffle_write_bytes": float(sum(t["shuffle_write"] for t in flat)),
            "spill_bytes": float(sum(t["spill"] for t in flat)),
            "task_skew": (max(times) / med) if med > 0 else 1.0,
        }
    return out
