"""Spans and Spark counters around the layer entry points of the ER pipeline.

Tracing is opt-in and lives entirely in the benchmark: ``Tracer.patch()``
replaces the names ``bern_spark.pipeline`` calls (and
``LineageStore.run_stage`` / ``run_file_bucketed_stage``) with wrappers and
puts the originals back on exit. Each wrapper sets a job group of its own,
calls the original and records a span (name, start, end, parent, run id)
with, from the Spark status store, the jobs, stages, tasks, shuffle-write and
spill bytes of the jobs in its group. A layer wrapper also counts the rows of
its first DataFrame argument before its span opens, in the enclosing span's
job group, so that a lazily checkpointed input (the pipeline's surface
dedup, say) is materialized and charged to the caller, not the layer; it
then persists and counts its DataFrame output, so the layer's work happens
inside its span. A store wrapper records the bytes the stage wrote.

Spans stay in memory; ``Tracer.dump`` writes them once, at the end.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame

# pipeline attribute -> layer it belongs to
LAYER_ENTRY_POINTS = {
    "extract_mentions": "extract",
    "normalize_all": "normalize",
    "with_block_keys": "blocking",
    "candidate_pairs": "blocking",
    "score_pairs": "scoring",
    "connected_components": "cc",
}
STORE_ENTRY_POINTS = ("run_stage", "run_file_bucketed_stage")
LAYERS = ("extract", "normalize", "blocking", "scoring", "cc")
COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes")


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    rows_in: int = 0
    rows_out: int = 0
    group: str = ""
    counters: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def group_counters(spark, group: str) -> dict:
    """Jobs, stages that ran, tasks, shuffle-write and spill bytes of the
    jobs in ``group``, read from the status tracker and the status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(COUNTERS, 0)
    out["jobs"] = len(jobs)
    for s in stage_ids:
        try:
            st = store.lastStageAttempt(s)
        except Exception:  # evicted from the store: count nothing for it
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["shuffle_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted: list[DataFrame] = []
        self.outputs: dict[str, DataFrame] = {}

    # -- spans -------------------------------------------------------------

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, self.run_id,
                  parent.span_id if parent else None, time.perf_counter())
        sp.group = f"pb-{self.run_id}-{sp.span_id}"
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.group if parent else None)

    def _wrap(self, fn, name: str, layer: str):
        def wrapped(*args, **kwargs):
            first = next((a for a in args if isinstance(a, DataFrame)), None)
            # runs in the caller's job group: see the module docstring
            rows_in = first.count() if first is not None else 0
            with self.span(name, layer) as sp:
                sp.rows_in = rows_in
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    self._persisted.append(out)
                    sp.rows_out = out.count()
                    self.outputs[name] = out
            return out

        return wrapped

    @contextmanager
    def patch(self, layers: bool = True):
        """Swap the layer entry points (with ``layers``) and the lineage-store
        entry points for timed wrappers; restore them on exit."""
        import bern_spark.pipeline as pipeline
        from bern_spark.lineage import LineageStore

        saved = {n: getattr(pipeline, n) for n in LAYER_ENTRY_POINTS}
        saved_store = {n: getattr(LineageStore, n) for n in STORE_ENTRY_POINTS}
        try:
            for n, layer in LAYER_ENTRY_POINTS.items() if layers else ():
                setattr(pipeline, n, self._wrap(saved[n], n, layer))
            for n in STORE_ENTRY_POINTS:
                setattr(LineageStore, n, self._wrap_store(saved_store[n], n))
            yield self
        finally:
            for n, fn in saved.items():
                setattr(pipeline, n, fn)
            for n, fn in saved_store.items():
                setattr(LineageStore, n, fn)

    def _wrap_store(self, fn, name: str):
        def wrapped(store, spark, stage, *args, **kwargs):
            path = store._dpath(stage)
            with self.span(f"{name}:{stage}", "lineage") as sp:
                out = fn(store, spark, stage, *args, **kwargs)
            sp.extra["bytes_written"] = dir_bytes(path) if os.path.isdir(path) else 0
            return out

        return wrapped

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- aggregation -------------------------------------------------------

    def finish(self) -> None:
        """Read the status-store counters of every span (own group only)."""
        for sp in self.spans:
            sp.counters = group_counters(self.spark, sp.group)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]

    def inclusive(self, sp: Span) -> dict:
        tot = dict(sp.counters)
        for c in self.children(sp):
            for k, v in self.inclusive(c).items():
                tot[k] += v
        return tot

    def top_level(self, layer: str) -> list[Span]:
        """Spans of ``layer`` not nested inside another span of the same layer."""
        by_id = {s.span_id: s for s in self.spans}

        def nested(s):
            p = s.parent
            while p is not None:
                if by_id[p].layer == layer:
                    return True
                p = by_id[p].parent
            return False

        return [s for s in self.spans if s.layer == layer and not nested(s)]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) | {"wall": s.wall} for s in self.spans], f)
