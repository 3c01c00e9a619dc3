"""One benchmark process: start Spark on local[4], attach the inputs, run the
workload once and write its timings to a JSON file.

    python3 perfbench/child.py '<json spec>'

The spec names the workload, its input and output paths, whether to trace,
and the file to write. Untraced, the workload runs through the engine's
public entry points (``runner.main`` and ``REGISTRY[q].fn``). Traced, the
same work is done by calling each layer's public function in the order
``runner.main`` calls them, each call inside a span (and a Spark job group
of the same name) with its output materialised inside the span.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener

MASTER = "local[4]"
STREAM_WINDOW_S = 300  # runner --stream-window default
STREAM_WATERMARK_S = 60  # runner --stream-watermark default
REF_WINDOWS = 2  # runner --ref-windows: windows 0 and 1, before the planted drift
# output tables of the batch pass, in the order runner.main writes them
BATCH_TABLES = ("verdicts", "violations", "stats", "drift", "decode_violations", "checkpoint")


class Spans:
    """Spans kept in memory; each one also sets the Spark job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        self.stack.append(name)
        self.sc.setJobGroup(name, name)
        rec = {"name": name, "parent": parent, "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)
            self.stack.pop()
            if parent:
                self.sc.setJobGroup(parent, parent)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def _success_mtime(path: str) -> float:
    return os.stat(os.path.join(path, "_SUCCESS")).st_mtime


def trigger_ms(ckpt: str) -> list[float]:
    """Per-trigger wall from the streaming checkpoint: commits/N minus offsets/N."""
    out = []
    offsets = os.path.join(ckpt, "offsets")
    commits = os.path.join(ckpt, "commits")
    for n in sorted(int(f) for f in os.listdir(offsets) if f.isdigit()):
        c = os.path.join(commits, str(n))
        if os.path.exists(c):
            out.append((os.stat(c).st_mtime - os.stat(os.path.join(offsets, str(n))).st_mtime) * 1e3)
    return out


# ---------------------------------------------------------------- untimed set-up


def attach(spark, spec: dict) -> None:
    """Attach the inputs and run one small warm-up query over them, so the
    timed call does not pay the JVM's first Spark job."""
    if spec["workload"] == "operator_sweep":
        events = spark.read.parquet(os.path.join(spec["sf_dir"], "events.parquet"))
        events.selectExpr("count(*)", "max(value)").collect()
    else:
        spark.read.parquet(spec["images"]).selectExpr("count(*)", "max(w)").collect()
        if spec.get("ref"):
            spark.read.parquet(spec["ref"]).selectExpr("count(*)").collect()


# ---------------------------------------------------------------- untraced runs


def batch_argv(spec: dict) -> list[str]:
    return ["--images", spec["images"], "--ref", spec["ref"], "--decode",
            "--out", spec["out"], "--master", MASTER, "--ref-windows", str(REF_WINDOWS)]


def stream_argv(spec: dict) -> list[str]:
    return ["--images", spec["images"], "--out", spec["out"], "--master", MASTER,
            "--stream", "--stream-combined", "--ref-windows", str(REF_WINDOWS)]


def run_batch(spark, spec: dict) -> dict:
    from al_drift_detection_spark import runner

    t0 = time.time()
    rc = runner.main(batch_argv(spec))
    t1 = time.time()
    # a step is one output table: the time from the call's start until it is written
    steps = [(_success_mtime(os.path.join(spec["out"], t)) - t0) * 1e3 for t in BATCH_TABLES]
    return {"rc": rc, "t0": t0, "t1": t1, "steps_ms": steps}


def run_stream(spark, spec: dict) -> dict:
    from al_drift_detection_spark import runner

    t0 = time.time()
    rc = runner.main(stream_argv(spec))
    t1 = time.time()
    steps = trigger_ms(os.path.join(spec["out"], "stream_ckpt", "stream_combined"))
    return {"rc": rc, "t0": t0, "t1": t1, "steps_ms": steps}


def run_sweep(spark, spec: dict) -> dict:
    from al_drift_detection_spark.operators import REGISTRY

    steps, errors = [], {}
    t0 = time.time()
    for q in spec["queries"]:
        spark.catalog.clearCache()
        tq = time.time()
        try:
            REGISTRY[q].fn(spark, spec["sf_dir"]).write.mode("overwrite").parquet(
                os.path.join(spec["out"], q)
            )
        except Exception as ex:  # noqa: BLE001 — a failed query counts, the sweep goes on
            errors[q] = str(ex).splitlines()[0][:200]
        steps.append((time.time() - tq) * 1e3)
    t1 = time.time()
    return {"rc": 0, "t0": t0, "t1": t1, "steps_ms": steps, "query_errors": errors}


# ---------------------------------------------------------------- traced runs


def traced_sources(spark, spans: Spans, spec: dict):
    with spans.span("sources"):
        images = spark.read.parquet(spec["images"])
        ref = spark.read.parquet(spec["ref"]) if spec.get("ref") else None
        meta_full = images.drop("bytes").cache()
        meta_full.count()
    return images, ref, meta_full


def traced_batch(spark, spans: Spans, spec: dict) -> dict:
    from pyspark.sql import functions as F

    from al_drift_detection_spark.checkpoint import Checkpoint
    from al_drift_detection_spark.decode import decode_checks
    from al_drift_detection_spark.drift import build_reference_sample, drift_scores
    from al_drift_detection_spark.runner import default_suite

    out = spec["out"]
    images, ref, meta = traced_sources(spark, spans, spec)
    ckpt = Checkpoint(f"{out}/checkpoint", run_id="run1")
    with spans.span("suite.run"):
        res = default_suite().run(meta, ref=ref.select("phash"))
        res.verdicts.orderBy("part", "check_name").write.mode("overwrite").parquet(f"{out}/verdicts")
        res.violations.write.mode("overwrite").parquet(f"{out}/violations")
    with spans.span("stats"):
        res.stats.write.mode("overwrite").parquet(f"{out}/stats")
        res.unpersist()
    with spans.span("drift.reference"):
        samples = build_reference_sample(meta.filter(F.col("window_id") < REF_WINDOWS), ["w", "h"])
    with spans.span("drift.scores"):
        drift_scores(meta, ["w", "h"], samples).orderBy(
            "part", "window_id", "column", "kernel"
        ).write.mode("overwrite").parquet(f"{out}/drift")
    with spans.span("decode"):
        decode_checks(images, ref).write.mode("overwrite").parquet(f"{out}/decode_violations")
    with spans.span("checkpoint.record"):
        ckpt.record(spark.read.parquet(f"{out}/verdicts"))
    return {}


class ProgressLog(StreamingQueryListener):
    """Keeps every streaming trigger's progress as a dict."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated = False

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated = True


def traced_stream(spark, spans: Spans, spec: dict) -> dict:
    from al_drift_detection_spark.streaming import driver as stream_driver

    out = spec["out"]
    progress = ProgressLog()
    spark.streams.addListener(progress)
    _, _, meta = traced_sources(spark, spans, spec)
    with spans.span("streaming.stage"):
        stream_driver.stage_bounded_stream(
            meta, f"{out}/_stream_input", STREAM_WINDOW_S, STREAM_WATERMARK_S
        )
    with spans.span("streaming.references"):
        refs = stream_driver.build_references(
            meta, REF_WINDOWS, [], slice_pairs=[], cond_pairs=[]
        )
    with spans.span("streaming.run"):
        stream_driver.run_closed_streams_combined(
            spark, f"{out}/_stream_input", out, refs, [],
            window_seconds=STREAM_WINDOW_S, watermark=f"{STREAM_WATERMARK_S} seconds",
        )
    deadline = time.time() + 10
    while not progress.terminated and time.time() < deadline:
        time.sleep(0.05)
    spark.streams.removeListener(progress)
    return {
        "progress": progress.progress,
        "ckpt_trigger_ms": trigger_ms(os.path.join(out, "stream_ckpt", "stream_combined")),
    }


def traced_sweep(spark, spans: Spans, spec: dict) -> dict:
    from al_drift_detection_spark.operators import REGISTRY

    for q in spec["queries"]:
        spark.catalog.clearCache()
        with spans.span(f"operators.{q}"):
            REGISTRY[q].fn(spark, spec["sf_dir"]).write.mode("overwrite").parquet(
                os.path.join(spec["out"], q)
            )
    return {}


def datagen_diff_rows(spark, spec: dict) -> int:
    """Rows that differ between the input tables (written by images.py) and
    what datagen.generate_images / generate_reference return for the same seed."""
    from al_drift_detection_spark import datagen

    args = (spec["rows"], spec["rows_per_window"])
    pairs = [(datagen.generate_images(spark, *args, seed=spec["seed"]), spec["images"])]
    if spec.get("ref"):
        pairs.append((datagen.generate_reference(spark, *args, seed=spec["seed"]), spec["ref"]))
    diff = 0
    for want, path in pairs:
        got = spark.read.parquet(path).select(want.columns)
        diff += want.exceptAll(got).count() + got.exceptAll(want).count()
    return diff


UNTRACED = {"batch_validate": run_batch, "stream_closed": run_stream, "operator_sweep": run_sweep}
TRACED = {"batch_validate": traced_batch, "stream_closed": traced_stream, "operator_sweep": traced_sweep}


def main(spec: dict) -> None:
    from al_drift_detection_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if spec["trace"]:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": spec["event_dir"],
        })
    t_session0 = time.time()
    spark = get_spark(master=MASTER, extra_conf=conf)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    result = {"session_s": time.time() - t_session0}
    attach(spark, spec)
    result["t_ready"] = time.time()

    if spec["trace"]:
        spans = Spans(sc)
        result.update(TRACED[spec["workload"]](spark, spans, spec))
        result["spans"] = spans.spans
        if spec["workload"] == "batch_validate":  # the stream reads the same generator's table
            result["datagen_diff_rows"] = datagen_diff_rows(spark, spec)
    else:
        result.update(UNTRACED[spec["workload"]](spark, spec))
    result["persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
    spark.stop()  # flushes the event log
    with open(spec["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
