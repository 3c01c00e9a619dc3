"""Per-layer numbers of a traced run: the Spark event log (read with stdlib
json) attributed to the benchmark's spans, plus the streaming listener's
per-trigger progress."""

from __future__ import annotations

import collections
import json
import os
import statistics

# stage accumulables summed per span
ACCUMULABLES = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "spill size": "spill_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "data sent to Python workers": "py_bytes_sent",
    "time to start Python workers": "py_worker_start_ms",
    "time to run Python workers": "py_worker_run_ms",
}
TRIGGER_PARTS = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")


def _events(event_dir: str):
    for d, _, files in os.walk(event_dir):
        for f in sorted(files):
            if f.startswith(".") or f.startswith("appstatus"):
                continue
            with open(os.path.join(d, f)) as fh:
                for line in fh:
                    yield json.loads(line)


def span_counters(event_dir: str, spans: list[dict]) -> dict[str, collections.Counter]:
    """Jobs and stage counters per span. A job belongs to the span named by
    its job group; a job without one (a streaming trigger's, run on the
    query's own thread) to the innermost span open when it was submitted."""
    names = {s["name"] for s in spans}

    def by_time(ms: int) -> str | None:
        t = ms / 1e3
        inside = [s for s in spans if s["start"] <= t <= s["end"]]
        return min(inside, key=lambda s: s["end"] - s["start"])["name"] if inside else None

    stage_span: dict[int, str | None] = {}
    out: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)
    for e in _events(event_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            span = group if group in names else by_time(e["Submission Time"])
            out[span]["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_span[sid] = span
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            span = stage_span.get(info["Stage ID"])
            for acc in info.get("Accumulables", []):
                key = ACCUMULABLES.get(acc.get("Name"))
                if key:
                    out[span][key] += int(float(acc["Value"]))
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part of it its child spans cover."""
    own = {s["name"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"]:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def stream_layers(progress: list[dict], ckpt_trigger_ms: list[float], spans: list[dict],
                  counters: dict) -> dict[str, float]:
    """Per-trigger split from the StreamingQueryListener, cross-checked
    against the trigger walls read from the checkpoint."""
    dur = [p.get("durationMs", {}) for p in progress]
    state = [op for p in progress for op in p.get("stateOperators", [])]
    run = next(s for s in spans if s["name"] == "streaming.run")
    last_end = max(
        (_iso_s(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1e3
         for p in progress), default=run["end"],
    )
    out = {f"streaming.{_snake(k)}_ms_p50": _p50([d[k] for d in dur if k in d])
           for k in TRIGGER_PARTS}
    out.update({
        "streaming.trigger_ms_p50": _p50([d["triggerExecution"] for d in dur if "triggerExecution" in d]),
        "streaming.trigger_ckpt_ms_p50": _p50(ckpt_trigger_ms),
        "streaming.triggers": len(progress),
        "streaming.state_commit_ms_p50": _p50([op.get("commitTimeMs", 0) for op in state]),
        "streaming.state_rows": state[-1].get("numRowsTotal", 0) if state else 0,
        "streaming.state_memory_bytes": max((op.get("memoryUsedBytes", 0) for op in state), default=0),
        "streaming.rows_dropped_by_watermark": sum(op.get("numRowsDroppedByWatermark", 0) for op in state),
        "streaming.py_bytes_sent": counters["streaming.run"]["py_bytes_sent"],
        "streaming.split_s": max(run["end"] - last_end, 0.0),
    })
    return out


def _snake(name: str) -> str:
    return "".join("_" + c.lower() if c.isupper() else c for c in name)


def _iso_s(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
