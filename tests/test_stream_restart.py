"""Restart parity of the closed-window streaming pass: a query stopped after
the first k window files and restarted on the same output directory and
checkpoint gives, after dedupe_verdicts, the same verdict rows as one
uninterrupted run. Both driver modes run the same stateful function
(streaming/closed.closed_multi), so the combined run covers share-nothing
too."""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
from pyspark.sql import functions as F

# non-metric dimension columns per family sink — dedupe_verdicts keys
FAMILY_KEYS = {
    "stream_drift": ["column", "kernel"],
    "stream_health": ["check", "column"],
    "stream_uniqueness": [],
    "stream_quantiles": ["q"],
    "stream_association": [],
    "stream_frequent": ["rank"],
    "stream_cat_drift_fmt": [],
}


def _copy(files, dst):
    for f in files:
        shutil.copy2(f, dst)  # keeps mtimes: file discovery order = window order


def _rows(spark, path, keys):
    from al_drift_detection_spark.streaming.closed import dedupe_verdicts

    df = dedupe_verdicts(spark.read.parquet(path), keys)
    return df.orderBy(*df.columns).toPandas().reset_index(drop=True)


def test_combined_restart_matches_uninterrupted(spark, tmp_path_factory):
    from al_drift_detection_spark.streaming.driver import (
        build_references,
        run_closed_streams_combined,
        stage_bounded_stream,
    )
    from tests.test_closed_combined import _meta

    root = tmp_path_factory.mktemp("restart")
    stage = str(root / "stage")
    meta = _meta(spark)
    n_windows = stage_bounded_stream(meta, stage, 300, 60)
    refs = build_references(meta, ref_windows=2, cat_cols=["fmt"])

    out_full = str(root / "full")
    full = run_closed_streams_combined(spark, stage, out_full, refs, ["fmt"])
    assert set(full) == set(FAMILY_KEYS)

    window_files = sorted(glob.glob(f"{stage}/batch_*.parquet"))
    sentinel = [
        f for f in glob.glob(f"{stage}/*.parquet") if f not in window_files
    ]
    assert len(window_files) == n_windows == 4 and len(sentinel) == 1

    # first run sees windows 0-1 only: window 0 closes, window 1 stays open
    # in the state store when the query stops
    cut, out = str(root / "cut"), str(root / "out")
    os.makedirs(cut)
    k = 2
    _copy(window_files[:k], cut)
    first = run_closed_streams_combined(spark, cut, out, refs, ["fmt"])
    commits = f"{out}/stream_ckpt/stream_combined/commits"
    n_commits = len(os.listdir(commits))
    assert n_commits >= k
    first_commit = os.path.getmtime(f"{commits}/0")
    vol = spark.read.parquet(f"{out}/stream_health").filter(
        F.col("check") == "volume"
    )
    assert 0 < vol.count() < n_windows, first

    # restart on the same out dir + checkpoint with the rest of the feed:
    # window 1's rows were consumed by the first run, so its verdict can
    # only be right if its state survived the restart
    _copy(window_files[k:] + sentinel, cut)
    second = run_closed_streams_combined(spark, cut, out, refs, ["fmt"])
    assert len(os.listdir(commits)) > n_commits
    # resumed: the first run's batches were kept, not recomputed
    assert os.path.getmtime(f"{commits}/0") == first_commit
    assert second == full

    for name, keys in FAMILY_KEYS.items():
        a = _rows(spark, f"{out_full}/{name}", keys)
        b = _rows(spark, f"{out}/{name}", keys)
        assert len(a) == len(b) > 0, name
        for col in a.columns:
            if a[col].dtype == float:
                assert np.allclose(a[col], b[col], rtol=1e-9, atol=1e-12,
                                   equal_nan=True), f"{name}.{col}"
            else:
                assert a[col].where(a[col].notna(), None).tolist() == \
                    b[col].where(b[col].notna(), None).tolist(), f"{name}.{col}"
