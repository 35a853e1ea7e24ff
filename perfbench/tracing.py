"""Spans recorded from the benchmark's own files, and the Spark event log.

Spans are kept in memory (name, start, end, parent) and written out once
when the run ends. The event log is switched on only in the traced run,
through ``session.get_spark(extra_conf=...)``, uncompressed and
non-rolling, and summed per job group: the worker tags every measured
operation with ``setJobGroup``, job-start events map stages to groups, and
task-end events carry the task metrics.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(name, time.perf_counter(), float("nan"),
                  self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: Path) -> int:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))
        return len(self.spans)


def event_log_conf(run_dir: Path) -> dict[str, str]:
    d = run_dir / "events"
    d.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": d.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


_TASK_FIELDS = {
    "task_run_ms": ("Executor Run Time",),
    "gc_ms": ("JVM GC Time",),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "spill_bytes": ("Disk Bytes Spilled",),
}


def event_log_metrics(run_dir: Path) -> dict[str, dict[str, int]]:
    """Job group -> summed task metrics, over every application logged in
    ``run_dir/events`` (one per session build)."""
    stage_group: dict[tuple[str, int], str] = {}
    sums: dict[str, dict[str, int]] = {}
    for log in sorted((run_dir / "events").iterdir()):
        with log.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[(log.name, sid)] = group or "none"
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get((log.name, ev["Stage ID"]), "none")
                    metrics = ev.get("Task Metrics") or {}
                    acc = sums.setdefault(group, dict.fromkeys(_TASK_FIELDS, 0))
                    for name, path in _TASK_FIELDS.items():
                        v = metrics
                        for key in path:
                            v = v.get(key, 0) if isinstance(v, dict) else 0
                        acc[name] += int(v)
    return sums


def steady_event_medians(groups: dict[str, dict[str, int]]) -> dict[str, float]:
    """Median per steady pass of each summed task metric."""
    steady = [v for k, v in groups.items() if k.startswith("steady:")]
    return {
        f"spark.{name}": statistics.median(g[name] for g in steady) if steady else 0.0
        for name in _TASK_FIELDS
    }
