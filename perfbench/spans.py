"""Layer spans for the traced run, and per-layer numbers from Spark's event log.

A span is recorded in memory around each call the traced run makes into one
engine layer: its layer name, start, end and parent span. While a span is
open its calls run under their own Spark job group. After the session stops,
the event log it wrote is read back once, and every job and task is charged
to the innermost span open when it was submitted or launched. (Time, not the
job group, decides: the engine submits some jobs from its own worker threads,
which do not inherit the caller's job group.)

Per layer this yields: self time (span time minus child spans), jobs,
shuffle bytes written, bytes spilled to disk, task skew (the largest
max/median task time of any stage with at least two tasks), and the driver
gap (self time during which no task of the span was running).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

LAYERS = (
    "html_strip", "normalize", "signatures", "candidates", "verify", "rescue",
    "overlap", "connected_components", "delta", "incremental",
)
TIMING = {
    "s": "s", "jobs": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "task_skew": "ratio", "driver_gap_s": "s",
}
# counts read off each layer's outputs (and IncrementalDedup.batch_stats),
# with whether more is better
COUNTS = {
    "signatures.shingles": ("count", "lower"),
    "candidates.band_rows": ("count", "lower"),
    "candidates.pairs": ("count", "lower"),
    "candidates.pairs_per_doc": ("ratio", "lower"),
    "candidates.star_pairs": ("count", "lower"),
    "candidates.max_bucket": ("count", "lower"),
    "verify.pairs": ("count", "lower"),
    "verify.edges": ("count", "higher"),
    "verify.accept_ratio": ("ratio", "higher"),
    "rescue.orphans": ("count", "lower"),
    "rescue.pairs": ("count", "lower"),
    "rescue.edges": ("count", "higher"),
    "overlap.edges": ("count", "higher"),
    "connected_components.edges": ("count", "higher"),
    "connected_components.clusters": ("count", "higher"),
    "incremental.index_rows_joined": ("count", "lower"),
    "incremental.candidates": ("count", "lower"),
    "incremental.payload_rows": ("count", "lower"),
    "incremental.store_files": ("count", "lower"),
    # tracing overhead: summed layer walls of the traced run beside the
    # untraced run of the same work
    "trace.layers_s": ("s", "lower"),
    "trace.untraced_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}
PER_LAYER = {f"{layer}.{m}": unit for layer in LAYERS for m, unit in TIMING.items()}
PER_LAYER.update({name: unit for name, (unit, _) in COUNTS.items()})


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setJobGroup("perfbench", "outside any layer span")
        else:
            self.sc.setJobGroup(f"perfbench.{span['layer']}.{span['id']}", span["layer"])

    @contextmanager
    def span(self, layer: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans), "layer": layer,
            "parent": parent["id"] if parent else None,
            "start": time.time() * 1000.0, "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time() * 1000.0
            self._open.pop()
            self._group(parent)

    def layer_walls(self) -> float:
        """Summed wall time of the top-level spans, in seconds."""
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None) / 1000.0

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)


def read_event_log(log_dir: str) -> tuple[list[float], list[dict]]:
    """(job submission times, tasks) from the one event log in ``log_dir``.
    Times are epoch milliseconds, the clock ``Tracer`` uses."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    jobs, tasks = [], []
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append(float(ev["Submission Time"]))
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                    "launch": float(info["Launch Time"]),
                    "finish": float(info["Finish Time"]),
                    "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    return jobs, tasks


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _overlap(xs: list[tuple[float, float]], ys: list[tuple[float, float]]) -> float:
    total = 0.0
    for a, b in xs:
        for c, d in ys:
            total += max(0.0, min(b, d) - max(a, c))
    return total


def layer_metrics(spans: list[dict], jobs: list[float], tasks: list[dict]) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer in ``LAYERS``; a layer no span
    covered reports zeros."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def innermost(t: float) -> dict | None:
        hit = None
        for s in spans:  # spans are in start order, so the last hit is innermost
            if s["start"] <= t <= s["end"]:
                hit = s
        return hit

    own_jobs: dict[int, int] = {}
    for t in jobs:
        s = innermost(t)
        if s is not None:
            own_jobs[s["id"]] = own_jobs.get(s["id"], 0) + 1
    own_tasks: dict[int, list[dict]] = {}
    for task in tasks:
        s = innermost(task["launch"])
        if s is not None:
            own_tasks.setdefault(s["id"], []).append(task)

    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in TIMING}
    for s in spans:
        kids = _merge([(k["start"], k["end"]) for k in children.get(s["id"], [])])
        self_iv, cur = [], s["start"]
        for a, b in kids:
            if a > cur:
                self_iv.append((cur, a))
            cur = max(cur, b)
        if s["end"] > cur:
            self_iv.append((cur, s["end"]))
        self_ms = sum(b - a for a, b in self_iv)
        mine = own_tasks.get(s["id"], [])
        busy = _overlap(self_iv, _merge([(t["launch"], t["finish"]) for t in mine]))
        by_stage: dict[tuple, list[float]] = {}
        for t in mine:
            by_stage.setdefault(t["stage"], []).append(max(1.0, t["finish"] - t["launch"]))
        skew = max(
            (max(d) / statistics.median(d) for d in by_stage.values() if len(d) >= 2),
            default=0.0,
        )
        p = s["layer"] + "."
        out[p + "s"] += self_ms / 1000.0
        out[p + "jobs"] += own_jobs.get(s["id"], 0)
        out[p + "shuffle_write_mb"] += sum(t["shuffle_write"] for t in mine) / 1e6
        out[p + "spill_mb"] += sum(t["spill"] for t in mine) / 1e6
        out[p + "task_skew"] = max(out[p + "task_skew"], skew)
        out[p + "driver_gap_s"] += (self_ms - busy) / 1000.0
    return out
