# -*- coding: utf-8 -*-
"""Spans around the engine's public entry points, and a Spark event-log
summary per job group.

Everything here wraps the package from the outside: the lake methods,
the functions ``run_pipeline`` calls for each stage, and the benchmark's
own calls into the query and catalogue layers. Nothing in the package
is edited. Spans stay in memory and are written out when the run ends.

Pipeline stages are delimited by the first call ``run_pipeline`` makes
into each stage (``extract``, ``triples_table``, ``materialize_graph``,
``same_as_edges``, ``canonical_mapping``); a stage span stays open until
the next stage starts. Its job group (``pipeline.<stage>``) is set in
the thread that launches the jobs: the stage marker sets it on the
calling thread, and each lake commit sets it again in its own thread, so
``materialize_graph``'s commit threads are attributed to their stage
and their spans name the stage span as parent.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

STAGES = ("extract", "triples", "materialize", "linking", "canonicalize")
LAYERS = ("kernel", "pipeline", "lake", "queries", "catalog")
# what summarize_event_log reports per job group, with units
SPARK_UNITS = {"jobs": "count", "tasks": "count", "executor_run_s": "s",
               "executor_cpu_s": "s", "shuffle_write_bytes": "B",
               "spill_bytes": "B", "task_max_over_median": "ratio"}


class Tracer:
    """In-memory spans: id, name, layer, parent id, operation id, start,
    end. Disabled by default; a disabled tracer only passes calls on."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = False
        self.op = None
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._lock = threading.Lock()  # counts are bumped from pool threads
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root = self._stack()  # stack of the driving thread
        self._stage: dict | None = None

    # ---- span stack --------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _parent(self) -> dict | None:
        st = self._stack()
        if st:
            return st[-1]
        # a pool thread (materialize_graph's commits) starts empty: its
        # parent is whatever the driving thread has open
        return self._root[-1] if self._root else None

    def begin(self, name: str, layer: str, group: str | None = None) -> dict | None:
        if not self.enabled:
            return None
        parent = self._parent()
        st = self._stack()
        rec = {
            "id": next(self._ids), "name": name, "layer": layer,
            "parent": parent["id"] if parent else None, "op": self.op,
            "group": group or (parent or {}).get("group"),
            "thread": threading.get_ident(), "start": time.perf_counter(),
        }
        rec["_prev_group"] = self._set_group(rec["group"])
        st.append(rec)
        return rec

    def end(self, rec: dict | None) -> None:
        if rec is None:
            return
        rec["end"] = time.perf_counter()
        st = self._stack()
        if st and st[-1] is rec:
            st.pop()
        self._set_group(rec.pop("_prev_group"))
        self.spans.append(rec)

    @contextmanager
    def span(self, name: str, layer: str, group: str | None = None):
        rec = self.begin(name, layer, group)
        try:
            yield rec
        finally:
            self.end(rec)

    def _in_layer(self, layer: str) -> bool:
        st = self._stack()
        return bool(st) and st[-1]["layer"] == layer

    def _set_group(self, group: str | None) -> str | None:
        """Set this thread's Spark job group; returns the previous one."""
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        if group != prev:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        return prev

    # ---- pipeline stage markers ----------------------------------------

    def stage(self, name: str | None) -> None:
        """Close the open stage span and open ``pipeline.<name>``."""
        if self._stage is not None:
            self.end(self._stage)
            self._stage = None
        if name is not None:
            self._stage = self.begin(f"pipeline.{name}", "pipeline",
                                     group=f"pipeline.{name}")

    def marker(self, fn, stage: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.stage(stage)
            return fn(*args, **kwargs)
        return wrapper

    def lake(self, fn, kind: str):
        """Span one LakeTable call; nested lake calls count once."""
        @functools.wraps(fn)
        def wrapper(table, *args, **kwargs):
            if not self.enabled or self._in_layer("lake"):
                return fn(table, *args, **kwargs)
            if kind == "meta":
                with self._lock:
                    self.counts["lake.metadata_calls"] += 1
                return fn(table, *args, **kwargs)
            name = (f"lake.{os.path.basename(table.dir)}.commit"
                    if kind == "commit" else f"lake.{kind}")
            with self.span(name, "lake"):
                return fn(table, *args, **kwargs)
        return wrapper

    # ---- reports -------------------------------------------------------

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's children."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                         for c in kids[s["id"]])
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    covered += (cur_e - cur_s) if cur_e is not None else 0.0
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            covered += (cur_e - cur_s) if cur_e is not None else 0.0
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def seconds(self, prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"].startswith(prefix))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def instrument(tracer: Tracer) -> None:
    """Wrap the package's public entry points in ``tracer``'s spans."""
    from knowledge_graph_spark import pipeline
    from knowledge_graph_spark.operators import graph_build
    from knowledge_graph_spark.sources.lake import LakeTable

    for fn, stage in (("extract", "extract"), ("triples_table", "triples"),
                      ("same_as_edges", "linking"),
                      ("canonical_mapping", "canonicalize")):
        setattr(pipeline, fn, tracer.marker(getattr(pipeline, fn), stage))
    graph_build.materialize_graph = tracer.marker(
        graph_build.materialize_graph, "materialize")
    for meth, kind in (("merge_into", "commit"), ("overwrite_partitions", "commit"),
                       ("append", "commit"), ("vacuum", "vacuum"),
                       ("read", "read"), ("read_partitions", "read"),
                       ("applied_batches", "meta"), ("current_entry", "meta"),
                       ("exists", "meta")):
        setattr(LakeTable, meth, tracer.lake(getattr(LakeTable, meth), kind))


# ---- Spark event log --------------------------------------------------

def event_log_conf(log_dir: str) -> dict:
    """``get_spark(extra=...)`` settings for a plain-JSON event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def summarize_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor run and CPU seconds, shuffle
    bytes written, bytes spilled, and the largest max/median task run
    time over the group's multi-task stages (the skew signal). A group
    that ran no job reads as zeros."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    jobs: Counter = Counter()
    for fname in sorted(os.listdir(log_dir)):
        if fname.endswith(".inprogress"):
            continue
        with open(os.path.join(log_dir, fname), encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        jobs[group] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]].append(ev.get("Task Metrics") or {})
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(SPARK_UNITS, 0))
    for group, n in jobs.items():
        out[group]["jobs"] = n
    for sid, ms in tasks.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        g = out[group]
        g["tasks"] += len(ms)
        runs = [m.get("Executor Run Time", 0) for m in ms]
        g["executor_run_s"] += sum(runs) / 1e3
        g["executor_cpu_s"] += sum(m.get("Executor CPU Time", 0) for m in ms) / 1e9
        g["shuffle_write_bytes"] += sum(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for m in ms)
        g["spill_bytes"] += sum(m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0) for m in ms)
        med = statistics.median(runs) if len(runs) > 1 else 0
        if med > 0:
            g["task_max_over_median"] = max(g["task_max_over_median"], max(runs) / med)
    return out
