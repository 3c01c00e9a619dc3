"""Exactly-once pair emission of the incremental MinHash-LSH index under
micro-batch replay: functions/dedup.incremental_minhash_pairs hands its
pairs to a durable `sink` BEFORE the store append (docstring step 4). With
a sink keyed by the micro-batch id (a dynamic-partition overwrite, the
shape a foreachBatch handler writes), a replay under the same id can
neither lose nor duplicate pairs. Pins the crash matrix of that contract.
Reference analog: incremental-vs-full retrain
(/root/reference/gan.py:161-170) driven continuously."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

BASE_TEXT = "the quick brown fox jumps over the lazy dog again and again today"

BATCH1 = [
    (0, BASE_TEXT),
    (1, BASE_TEXT + " extra"),
    (2, "completely different words about spark and parquet tables"),
    (3, "yet another unrelated document mentioning drift detection"),
]


def _docs(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        "doc_id long, text string",
    )


def _read_pairs(spark, pairs_dir):
    try:
        return (
            spark.read.parquet(pairs_dir)
            .select("a_id", "b_id", "est_jaccard")
            .toPandas()
            .sort_values(["a_id", "b_id"])
            .reset_index(drop=True)
        )
    except Exception:
        return pd.DataFrame(columns=["a_id", "b_id", "est_jaccard"])


def _batch_sink(pairs_dir, batch_id):
    """Durable pair sink keyed by the micro-batch id: a dynamic-partition
    overwrite rewrites only partition `_batch_id=N`, and an empty frame
    touches no partition at all."""

    def sink(pairs):
        (
            pairs.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(pairs_dir)
        )

    return sink


def _ingest(spark, rows, store, pairs_dir, batch_id):
    from al_drift_detection_spark.functions.dedup import incremental_minhash_pairs

    incremental_minhash_pairs(
        _docs(spark, rows), store, k=16, bands=4,
        sink=_batch_sink(pairs_dir, batch_id),
    )


def test_crash_before_append_reemits_same_pairs(spark, tmp_path):
    """Crash matrix, middle row: a failure BETWEEN the sink write and the
    store append leaves the batch unsigned; the replay (same batch_id)
    re-signs and overwrites the same partition with the SAME pairs — no
    loss, no duplication."""
    from al_drift_detection_spark.functions.dedup import incremental_minhash_pairs

    store, pairs_dir = str(tmp_path / "store"), str(tmp_path / "pairs")
    durable = _batch_sink(pairs_dir, 0)

    def crashing_sink(pairs):
        durable(pairs)
        raise RuntimeError("simulated crash after durable emission")

    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_minhash_pairs(
            _docs(spark, BATCH1), store, k=16, bands=4, sink=crashing_sink
        )
    assert not os.path.exists(store)  # append never happened
    emitted_first = _read_pairs(spark, pairs_dir)
    assert len(emitted_first) > 0

    _ingest(spark, BATCH1, store, pairs_dir, 0)  # replay under the SAME id
    emitted_retry = _read_pairs(spark, pairs_dir)
    pd.testing.assert_frame_equal(emitted_retry, emitted_first)
    assert spark.read.parquet(store).select("id").distinct().count() == 4


def test_replay_after_append_preserves_emission(spark, tmp_path):
    """Crash matrix, last row: a replay AFTER the append signs 0 docs and
    emits an empty frame; the dynamic-partition overwrite touches no
    partitions, so the earlier emission survives byte-for-byte."""
    store, pairs_dir = str(tmp_path / "store"), str(tmp_path / "pairs")
    _ingest(spark, BATCH1, store, pairs_dir, 0)
    first = _read_pairs(spark, pairs_dir)
    assert len(first) > 0
    store_rows = spark.read.parquet(store).count()

    _ingest(spark, BATCH1, store, pairs_dir, 0)  # replay: already signed
    pd.testing.assert_frame_equal(_read_pairs(spark, pairs_dir), first)
    assert spark.read.parquet(store).count() == store_rows
