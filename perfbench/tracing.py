"""Layer attribution from outside the engine package.

Two sources, both on the benchmark's side of the package boundary:

- Python spans. :meth:`Tracer.wrap` replaces a bound method on ONE
  instance (a ``LakeTable``, its ``MetaStore``, its ``FileSystem``,
  an ``LsnWindowRunner``) with a timing wrapper. Spans nest per thread:
  a span's self time (``busy_s``) leaves out the child spans that ran
  on the same thread, such as inline ``compact`` inside ``merge_batch``
  or ``fs`` calls inside ``commit_delta``, so no time counts twice.
- Spark work. A span that names a layer sets the thread-local Spark
  property ``perfbench.layer`` while it runs. Spark copies local
  properties into the jobs the thread launches, including the jobs of a
  structured-streaming query it starts (which overwrites the job group,
  so the job group cannot be used), and writes them into the event log.
  :func:`rollup_event_log` sums ``SparkListenerTaskEnd`` metrics per
  layer.

Tracing is switched per thread: :attr:`Tracer.enabled` belongs to the
calling thread and is false in a new one. While it is false a wrapper
only tests that flag, and the thread's jobs are tagged ``untraced``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

LAYER_PROP = "perfbench.layer"
UNTRACED = "untraced"

# Spark metrics reported per layer group, with their units
SPARK_FIELDS = {
    "jobs": "count",
    "tasks": "count",
    "task_run_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "spill_bytes": "B",
    "input_bytes": "B",
    "output_bytes": "B",
}


class SpanStats:
    def __init__(self):
        self.calls = 0
        self.busy_s = 0.0  # self time
        self.total_s = 0.0  # inclusive time
        self.nested_busy_s = 0.0  # self time of calls made inside another span
        self.durations: list[float] = []
        self.errors = 0
        self.nones = 0  # calls that returned None
        self.extra: dict[str, float] = defaultdict(float)

    def p50(self) -> float:
        return statistics.median(self.durations) if self.durations else 0.0


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc  # SparkContext whose jobs get tagged; None = no tagging
        self.stats: dict[str, SpanStats] = defaultdict(SpanStats)
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def enabled(self) -> bool:
        return getattr(self._local, "enabled", False)

    @enabled.setter
    def enabled(self, on: bool) -> None:
        self._local.enabled = on

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None, extra: dict | None = None):
        """Time the body as span ``name``. Spark jobs the thread launches
        meanwhile carry ``layer`` when one is given."""
        if not self.enabled:
            with self.layer(layer) if layer else contextlib.nullcontext():
                yield {}
            return
        stack = self._stack()
        frame = {"child_s": 0.0, "none": False}
        nested = bool(stack)
        stack.append(frame)
        failed = False
        t0 = time.perf_counter()
        try:
            with self.layer(layer) if layer else contextlib.nullcontext():
                yield frame
        except BaseException:
            failed = True
            raise
        finally:
            dur = time.perf_counter() - t0
            stack.pop()
            if stack:
                stack[-1]["child_s"] += dur
            own = dur - frame["child_s"]
            with self._lock:
                s = self.stats[name]
                s.calls += 1
                s.total_s += dur
                s.busy_s += own
                s.nested_busy_s += own if nested else 0.0
                s.durations.append(dur)
                s.errors += failed
                s.nones += frame["none"]
                for k, v in (extra or {}).items() if not failed else ():
                    s.extra[k] += v

    @contextlib.contextmanager
    def layer(self, name: str):
        """Tag this thread's Spark jobs with ``name`` (``untraced`` while
        tracing is off) and restore the previous tag afterwards."""
        if self.sc is None:
            yield
            return
        prev = self.sc.getLocalProperty(LAYER_PROP)
        self.sc.setLocalProperty(LAYER_PROP, name if self.enabled else UNTRACED)
        try:
            yield
        finally:
            self.sc.setLocalProperty(LAYER_PROP, prev)

    def set_layer(self, name: str) -> None:
        """Tag this thread's Spark jobs from now on."""
        if self.sc is not None:
            self.sc.setLocalProperty(LAYER_PROP, name if self.enabled else UNTRACED)

    def wrap(self, obj, attr: str, name: str, layer: str | None = None, extra_fn=None):
        """Replace the bound method ``obj.attr`` on this instance with a
        span. ``extra_fn(*args, **kwargs)`` may return counts to add to
        the span's ``extra`` when the call succeeds."""
        orig = getattr(obj, attr)

        def traced(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            extra = extra_fn(*args, **kwargs) if extra_fn else None
            with self.span(name, layer, extra) as frame:
                out = orig(*args, **kwargs)
                frame["none"] = out is None
                return out

        setattr(obj, attr, traced)

    def get(self, name: str) -> SpanStats:
        return self.stats.get(name) or SpanStats()


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for a plain-JSON, single-file event log. Spark
    4.1 otherwise writes compressed rolling directories."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def rollup_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per ``perfbench.layer`` tag. Read it after
    the SparkContext stopped, when the log file is complete."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(LAYER_PROP) or UNTRACED
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    out = groups[stage_group.get(ev.get("Stage ID"), UNTRACED)]
                    m = ev.get("Task Metrics") or {}
                    shuffle_read = m.get("Shuffle Read Metrics") or {}
                    out["tasks"] += 1
                    out["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    out["shuffle_write_bytes"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    )
                    out["shuffle_read_bytes"] += shuffle_read.get(
                        "Remote Bytes Read", 0
                    ) + shuffle_read.get("Local Bytes Read", 0)
                    out["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    out["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    out["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return groups
