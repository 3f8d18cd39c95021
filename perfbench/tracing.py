"""Spans around the crawl's layer calls, and Spark task metrics per phase.

Only the traced run installs the wrappers; they live here, outside
``siren_spark``. Wrapped calls:

- ``CheckpointStore.stage_table`` (one span per staged table: the
  annotate, fetch+extract, results, counters, compaction and bucketed
  bloom writes) and ``CheckpointStore.write_round`` (the commit);
- the ``operators.seen`` functions ``siren_spark.crawl`` imports
  (``build_bloom``, ``build_bloom_partials``, ``or_reduce_bitmaps``,
  ``merge_blooms``).

Each wrapper records a span (name, phase, thread, start, end) and sets
the calling thread's Spark job group to ``pb:<phase>:<name>``, so the
session's JSON event log can be folded per phase from its
``SparkListenerTaskEnd`` records. Spans overlap: the pipelined crawl
stages round N+1's annotate while round N writes, and writes run from a
thread pool. Times per phase are therefore interval unions, and the
driver gap of a round is its wall time minus the union of every span
inside it.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PHASE_OF_TABLE = {
    "frontier_ann": "annotate",
    "extracted": "fetch_extract",
    "results": "results",
    "counters": "counters",
    "seen_compact": "compact",
    "hl_compact": "compact",
    "bloom": "bloom",
}
PHASES = ("annotate", "fetch_extract", "results", "counters", "compact",
          "bloom")
SEEN_CALLS = ("build_bloom", "build_bloom_partials", "or_reduce_bitmaps",
              "merge_blooms")


@dataclass
class Span:
    name: str
    phase: str
    thread: str
    start: float
    end: float


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Installs the wrappers on ``install`` and removes them on
    ``uninstall``; spans accumulate in ``spans``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, fn, name_of, phase_of):
        tracer = self

        def wrapped(*args, **kwargs):
            name = name_of(args, kwargs)
            phase = phase_of(name)
            prev = tracer.sc.getLocalProperty("spark.jobGroup.id")
            tracer.sc.setJobGroup(f"pb:{phase}:{name}", name)
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.time()
                tracer.sc.setLocalProperty("spark.jobGroup.id", prev)
                with tracer._lock:
                    tracer.spans.append(Span(
                        name, phase, threading.current_thread().name,
                        start, end))
        return wrapped

    def _patch(self, owner, attr, wrapped) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        import siren_spark.crawl as crawl
        from siren_spark.operators.checkpoint import CheckpointStore

        self._patch(CheckpointStore, "stage_table", self._wrap(
            CheckpointStore.stage_table,
            lambda a, k: a[2] if len(a) > 2 else k["name"],
            lambda n: PHASE_OF_TABLE.get(n, "other")))
        self._patch(CheckpointStore, "write_round", self._wrap(
            CheckpointStore.write_round,
            lambda a, k: "write_round", lambda n: "commit"))
        for fn_name in SEEN_CALLS:
            self._patch(crawl, fn_name, self._wrap(
                getattr(crawl, fn_name),
                lambda a, k, n=fn_name: n, lambda n: "bloom"))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- folding ---------------------------------------------------------
    def phase_seconds(self) -> dict[str, float]:
        by_phase: dict[str, list] = defaultdict(list)
        for s in self.spans:
            by_phase[s.phase].append((s.start, s.end))
        return {p: union_length(iv) for p, iv in by_phase.items()}

    def per_round(self, round_secs: list[float]) -> list[dict[str, float]]:
        """Each round's wall time split by phase (interval unions of the
        spans clipped to the round) plus ``driver_gap``: the round's wall
        time not covered by any span. Rounds run back to back and the last
        one ends with its last wrapped call, so round windows are laid out
        backwards from the latest span end."""
        if not self.spans or not round_secs:
            return []
        end = max(s.end for s in self.spans)
        rounds = []
        for secs in reversed(round_secs):
            start = end - secs
            by_phase: dict[str, list] = defaultdict(list)
            for s in self.spans:
                if s.end > start and s.start < end:
                    by_phase[s.phase].append((max(s.start, start),
                                              min(s.end, end)))
            split = {p: union_length(iv) for p, iv in by_phase.items()}
            split["driver_gap"] = secs - union_length(
                iv for ivs in by_phase.values() for iv in ivs)
            split["wall"] = secs
            rounds.append(split)
            end = start
        return rounds[::-1]

    def driver_gap_s(self, round_secs: list[float]) -> float:
        return sum(r["driver_gap"] for r in self.per_round(round_secs))


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per phase over the jobs whose group the wrappers
    set (``pb:<phase>:<name>``)."""
    stage_phase: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes a rolling log: a directory of event files per app
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if os.path.isdir(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    if group.startswith("pb:"):
                        phase = group.split(":")[1]
                        for sid in ev.get("Stage IDs", []):
                            stage_phase.setdefault(sid, phase)
                elif kind == "SparkListenerTaskEnd":
                    phase = stage_phase.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if phase is None or not tm:
                        continue
                    t = totals[phase]
                    t["tasks"] += 1
                    t["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    t["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    t["input_mb"] += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0) / 2**20
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    t["shuffle_mb"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0)
                                        + sw.get("Shuffle Bytes Written", 0)
                                        ) / 2**20
                    t["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                                      + tm.get("Disk Bytes Spilled", 0)) / 2**20
    return {p: dict(v) for p, v in totals.items()}
