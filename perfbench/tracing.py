"""Spans and counters recorded from outside the program.

The tracer wraps the program's public layer functions (by replacing
module attributes), swaps each module-level ``*_CACHE`` dict for a
counting copy, and tags every Spark job with the innermost open span
through the ``spark.jobGroup.id`` local property. Spark's own counters
(stages, tasks, run time, shuffle and spill bytes) are read back from a
local event log after the session stops. Nothing here runs unless a
traced run installs it.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from pathlib import Path

PKG = "agentic_workflow_for_data_transformation_spark"

# layer span name -> (module, function) of each public entry point wrapped
WRAPPED = {
    "sources.read": [("sources.io", "read_csv"), ("sources.io", "read_parquet_table"),
                     ("sources.io", "read_events")],
    "sources.write_csv": [("sources.io", "write_csv_single")],
    "plans.parse": [("plans.parser", "parse_description")],
    "plans.compile": [("plans.compile", "compile_spec")],
    "agents.planner": [("agents.orchestrator", "planner_agent")],
    "agents.execute": [("agents.orchestrator", "execution_agent")],
    "agents.critic": [("agents.orchestrator", "critic_agent")],
}


class Tracer:
    """In-memory spans ``(id, name, start, end, parent, op)`` plus
    per-op counters. ``active`` gates all recording, so an installed
    tracer can be switched off for untraced passes."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.spans: list[tuple[int, str, float, float, int | None, int]] = []
        self.counts: dict[int, Counter] = defaultdict(Counter)
        self.active = False
        self.op = 0

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._sc.setLocalProperty("spark.jobGroup.id", str(sid))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty("spark.jobGroup.id", str(parent) if parent else None)
            self.spans.append((sid, name, t0, t1, parent, self.op))

    def count(self, key: str, n: float = 1) -> None:
        if self.active:
            self.counts[self.op][key] += n

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if name == "sources.write_csv":
                self.count("sources.write_bytes", _size(Path(out)))
            return out

        return traced

    def install(self) -> None:
        """Wrap every layer function wherever the package imported it,
        and replace each module-level ``*_CACHE`` dict with a counting
        copy. Call once, after the workload's ops are bound."""
        for mod in {mod for targets in WRAPPED.values() for mod, _fn in targets}:
            importlib.import_module(f"{PKG}.{mod}")
        mods = [m for n, m in list(sys.modules.items()) if n == PKG or n.startswith(PKG + ".")]
        for name, targets in WRAPPED.items():
            for mod, fn_name in targets:
                orig = getattr(sys.modules[f"{PKG}.{mod}"], fn_name)
                traced = self.wrap(name, orig)
                for m in mods:
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, traced)
        for m in mods:
            for attr, val in list(vars(m).items()):
                if attr.endswith("_CACHE") and type(val) is dict:
                    setattr(m, attr, CountingDict(self, val))


class CountingDict(dict):
    """A cache dict that counts hits (``get`` of a present key), builds
    (a new key stored) and build seconds (from the miss to the store)."""

    def __init__(self, tracer: Tracer, data: dict) -> None:
        super().__init__(data)
        self._tracer = tracer
        self._missed: dict = {}

    def get(self, key, default=None):
        if key in self:
            self._tracer.count("cache.hits")
        elif self._tracer.active:
            self._missed[key] = time.perf_counter()
        return super().get(key, default)

    def __setitem__(self, key, value) -> None:
        if key not in self:
            self._tracer.count("cache.builds")
            t_miss = self._missed.pop(key, None)
            if t_miss is not None:
                self._tracer.count("cache.build_s", time.perf_counter() - t_miss)
        super().__setitem__(key, value)


def _size(path: Path) -> int:
    if path.is_dir():
        return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())
    return path.stat().st_size


def app_event_log(log_dir: Path, app_name: str) -> Path:
    """The one event log in ``log_dir`` written by the application named
    ``app_name``; other applications may have logged there too."""
    found = [p for p in sorted(log_dir.iterdir()) if p.is_file() and _app_name(p) == app_name]
    if len(found) != 1:
        raise RuntimeError(f"expected one event log of {app_name!r} in {log_dir}, found {len(found)}")
    return found[0]


def _app_name(path: Path) -> str | None:
    with path.open() as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerApplicationStart":
                return ev.get("App Name")
    return None


def event_log_counters(path: Path) -> dict[str, Counter]:
    """Per job group (a span id): jobs, completed stages, tasks, task
    run seconds, shuffle read/write bytes and disk spill bytes, from an
    uncompressed event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, Counter] = defaultdict(Counter)
    with path.open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                out[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                out[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                c = out[stage_group.get(ev["Stage ID"])]
                c["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                r = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return out


def event_log_conf(log_dir: Path) -> str:
    """spark-submit arguments that turn on a local, uncompressed event log."""
    return (f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false pyspark-shell")


def jvm_error_lines(log: Path) -> int:
    """JVM log records at ERROR level: Spark 4 writes JSON records with a
    ``level`` field, the plain layout writes ``<date> <time> ERROR``."""
    n = 0
    with log.open(errors="replace") as f:
        for line in f:
            if '"level":"ERROR"' in line.replace(" ", "") or line.split(" ", 3)[2:3] == ["ERROR"]:
                n += 1
    return n

