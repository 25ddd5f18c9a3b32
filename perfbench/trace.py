"""Spans around the engine's layer boundaries, and the Spark event-log
fold that attributes task metrics to them.

A `Tracer` wraps public functions of the engine's modules in place
(`install`) and puts them back afterwards (`uninstall`), so untraced
runs execute the engine untouched. Each wrapped call records a span
(name, layer, start, end, parent) in memory and runs its Spark jobs
under a job group naming the span; `fold_event_log` then sums task CPU,
GC, shuffle and spill per span from the uncompressed, non-rolling event
log the session writes when tracing is on.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

# checkpointed stage name -> layer (module) that builds it
STAGE_LAYERS = {
    "distinct_contents": "exact_dedup",
    "counted_keys": "exact_dedup",
    "signatures": "minhash",
    "pairs": "lsh",
    "edges": "verify",
    "clusters": "connected_components",
    "survivors": "dissect",
}

# stages whose output rows are counted (candidate pairs, verified edges)
COUNTED_STAGES = ("pairs", "edges")

# layers whose task GC and spill are reported
TASK_LAYERS = (
    "sources", "exact_dedup", "minhash", "lsh", "verify",
    "connected_components", "dissect", "pipeline", "incremental", "fastq",
)

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    # task metrics folded from the event log (jobs run under this span)
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _saved: list[tuple[object, str, object]] = field(default_factory=list)
    # the last frame each counted stage returned (see count_stage_rows)
    _frames: dict = field(default_factory=dict)
    # metrics of the last pipeline result (dedup_files / dedup_keys)
    engine_metrics: dict = field(default_factory=dict)

    def _set_group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"bench-span-{sid}", self.spans[sid].name)

    def begin(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, layer, parent, time.monotonic()))
        self._stack.append(sid)
        self._set_group(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid].end = time.monotonic()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        sid = self.begin(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(sid)

    def wrap(self, owner, attr: str, layer: str, name_arg: bool = False) -> None:
        """Replace `owner.attr` with a span-recording wrapper. With
        `name_arg`, the span takes its name (and layer, via
        STAGE_LAYERS) from the call's first positional argument after
        self — StageCheckpointer.stage's stage name."""
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if name_arg:
                stage = args[1]
                lay = STAGE_LAYERS.get(stage, "connected_components"
                                       if stage.startswith("cc_round") else layer)
                df = self.call(f"stage:{stage}", lay, orig, *args, **kwargs)
                if stage in COUNTED_STAGES:
                    self._frames[stage] = df
                return df
            out = self.call(attr, layer, orig, *args, **kwargs)
            if layer == "pipeline":
                self.engine_metrics = out.metrics
            return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the layer boundaries the workloads cross."""
        from fastqdedup_spark import checkpoint, incremental, pipeline, sources
        from fastqdedup_spark.sources import fastq

        self.wrap(checkpoint.StageCheckpointer, "stage", "checkpoint", name_arg=True)
        self.wrap(pipeline, "connected_components", "connected_components")
        self.wrap(pipeline, "dedup_files", "pipeline")
        self.wrap(incremental, "dedup_files", "pipeline")
        self.wrap(incremental, "dedup_files_incremental", "incremental")
        self.wrap(incremental.DedupIndex, "append", "incremental.append")
        self.wrap(sources, "read_files_table", "sources.read")
        self.wrap(sources, "write_table", "sources.write")
        self.wrap(fastq, "dedup_keys", "pipeline")
        self.wrap(fastq, "deduplicate_fastq", "fastq")
        self.wrap(fastq, "read_fastq", "fastq.read")
        self.wrap(fastq, "write_fastq", "fastq.write")

    def count_stage_rows(self) -> dict[str, int]:
        """Rows of the last materialized pair and edge stages, counted
        outside every span (call it between iterations)."""
        rows = {k: df.count() for k, df in self._frames.items()}
        self._frames.clear()
        return rows

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- summaries ---------------------------------------------------------
    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_seconds(self, sid: int) -> float:
        """Span duration minus the part its child spans cover."""
        return self.spans[sid].seconds - sum(c.seconds for c in self.children(sid))

    def under(self, root: int) -> list[Span]:
        """Every span below `root` (excluding it)."""
        out, todo = [], [root]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k.sid for k in kids]
        return out


def _ancestor_layers(spans: list[Span], s: Span) -> set[str]:
    out, p = set(), s.parent
    while p is not None:
        out.add(spans[p].layer)
        p = spans[p].parent
    return out


def layer_summary(tracer: Tracer, root: int) -> dict[str, float]:
    """Per-layer numbers for the spans below one iteration's root span.

    `<layer>.wall_s` sums the spans of a layer not nested in a span of
    the same layer; `<layer>.self_s` sums their self times. Task metrics
    sum over every span of the top-level layer (`sources` covers
    `sources.read` and `sources.write`); each job counts once, under the
    innermost span that ran it."""
    out: dict[str, float] = {}
    spans = tracer.under(root)

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for s in spans:
        lay = s.layer.split(".")[0]
        if s.layer not in _ancestor_layers(tracer.spans, s):
            add(f"{s.layer}.wall_s", s.seconds)
        add(f"{s.layer}.self_s", tracer.self_seconds(s.sid))
        add(f"{lay}.task_cpu_s", s.task_cpu_s)
        add(f"{lay}.gc_s", s.gc_s)
        add(f"{lay}.spill_mb", s.spill_mb)
        add(f"{lay}.shuffle_write_mb", s.shuffle_write_mb)
    top = tracer.children(root)
    out["driver.unattributed_s"] = tracer.spans[root].seconds - sum(
        s.seconds for s in top
    )
    return out


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


def fold_event_log(path: str, tracer: Tracer) -> None:
    """Adds each finished task's metrics to the span whose job group
    submitted it. Jobs outside any span (set-up, checks) are skipped."""
    stage_span: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if group.startswith("bench-span-"):
                    sid = int(group[len("bench-span-"):])
                    for st in e["Stage IDs"]:
                        stage_span[st] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if sid is None or not m:
                    continue
                s = tracer.spans[sid]
                s.task_cpu_s += m["Executor CPU Time"] / 1e9
                s.gc_s += m["JVM GC Time"] / 1e3
                s.shuffle_write_mb += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                )
                s.spill_mb += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 2**20
