"""Span tracing for the traced benchmark run, from outside the program.

The plans are not changed.  ``install`` swaps, in the two plan modules,
the names they call (``write_stage``, ``connected_components``,
``full_web_verdict``) for wrappers that record one span per call:

* lazy layers: the stage frame is forced with an eager
  ``localCheckpoint`` inside a compute span *before* the real
  ``write_stage`` receives it, so the ``write_stage`` span's self time
  is the sink alone;
* eager layers (``connected_components``, ``full_web_verdict``'s
  barriers): the call itself is the span.

Each span sets a Spark job group named after its id, so the task
metrics of an (uncompressed) event log fold per span.  Jobs started
from helper threads carry no group; they fall to the innermost span
open at their submission time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

# stage table -> layer that computes it
STAGE_LAYER = {
    "sentences": "extract", "tagged": "ner", "mentions": "spans",
    "triples_raw": "triples", "linked": "link", "components": "cc",
    "triples": "canon",
    "verdict": "web_verdict", "cleaned": "exact_substr",
    "chunks": "packing", "packed": "packing",
}
EAGER_LAYER = {"connected_components": "cc", "full_web_verdict": "web_verdict"}
LAYERS = ("extract", "ner", "spans", "triples", "link", "cc", "canon",
          "web_verdict", "exact_substr", "packing", "checkpoints")
ENGINE_METRICS = {            # name -> unit
    "task_cpu_s": "s", "gc_s": "s", "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "tasks": "count",
}


class Tracer:
    """In-memory spans of one traced run; all share ``run_id``."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.calls: dict = {}        # eager function name -> its first arg
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None, kind: str = "call"):
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": f"{self.run_id}/{len(self.spans)}", "run_id": self.run_id,
             "name": name, "layer": layer, "kind": kind, "parent": parent,
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def install(tracer: Tracer):
    """Wrap the functions the plans call; returns an ``uninstall``."""
    from ner_extractor_spark.plans import curation_pipeline as cp
    from ner_extractor_spark.plans import kg_pipeline as kp

    saved = []

    def patch(mod, name, make):
        orig = getattr(mod, name)
        saved.append((mod, name, orig))
        setattr(mod, name, make(orig))

    def traced_write_stage(orig):
        def write_stage(manifest, stage, df, *args, **kwargs):
            with tracer.span(f"write_stage:{stage}", "checkpoints", "sink"):
                if not manifest.done(stage):
                    with tracer.span(f"compute:{stage}",
                                     STAGE_LAYER.get(stage, stage), "compute"):
                        df = df.localCheckpoint(eager=True)
                return orig(manifest, stage, df, *args, **kwargs)
        return write_stage

    def traced_eager(orig):
        name = orig.__name__

        def call(*args, **kwargs):
            tracer.calls.setdefault(name, args[0])
            with tracer.span(name, EAGER_LAYER[name], "eager"):
                return orig(*args, **kwargs)
        return call

    for mod in (kp, cp):
        patch(mod, "write_stage", traced_write_stage)
    patch(kp, "connected_components", traced_eager)
    patch(cp, "full_web_verdict", traced_eager)

    def uninstall():
        for mod, name, orig in reversed(saved):
            setattr(mod, name, orig)
    return uninstall


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> duration minus the part covered by its children."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0)
            for s in spans}


def layer_seconds(spans: list[dict]) -> dict[str, float]:
    """Self time per layer; ``checkpoints`` is the sink self time."""
    st = self_times(spans)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        if s["layer"] in out and s["kind"] != "job":
            out[s["layer"]] += st[s["id"]]
    return out


def span_seconds(spans: list[dict], pred) -> float:
    return sum(s["end"] - s["start"] for s in spans if pred(s))


# -- event log ---------------------------------------------------------------

def event_log_files(log_dir: Path, app_id: str) -> list[Path]:
    """The app's event log: one file, or the numbered parts of a
    rolling log directory (``eventlog_v2_<app>/events_<n>_<app>``)."""
    rolling = sorted(log_dir.glob(f"eventlog_v2_{app_id}/events_*"),
                     key=lambda p: int(p.name.split("_")[1]))
    return rolling or [p for p in (log_dir / app_id,) if p.is_file()]


def _lines(files: list[Path]):
    for p in files:
        with open(p) as f:
            yield from f


def fold_event_log(files: list[Path], spans: list[dict]) -> dict[str, dict]:
    """Sum task metrics per layer over the jobs of each span.

    A job belongs to the span named by its job group, else to the
    innermost span open at its submission time; jobs outside every
    span (set-up, probes) are ignored."""
    by_id = {s["id"]: s for s in spans}
    stage_span: dict[int, dict] = {}
    jobs_per_span: dict[str, int] = {}
    totals = {layer: dict.fromkeys(ENGINE_METRICS, 0.0) for layer in LAYERS}

    def innermost(t: float):
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (
                    best is None or s["start"] >= best["start"]):
                best = s
        return best

    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            s = by_id.get(props.get("spark.jobGroup.id")) or innermost(
                ev.get("Submission Time", 0) / 1000.0)
            if s is None:
                continue
            jobs_per_span[s["id"]] = jobs_per_span.get(s["id"], 0) + 1
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = s
        elif kind == "SparkListenerTaskEnd":
            s = stage_span.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if s is None or not m or s["layer"] not in totals:
                continue
            t = totals[s["layer"]]
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            t["tasks"] += 1
    return {"layers": totals, "jobs_per_span": jobs_per_span}


# -- memory ------------------------------------------------------------------

def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pids) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and its descendants (the JVM and
    its Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb,
                               _rss_mb([me, *_descendants(me)]))
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb
