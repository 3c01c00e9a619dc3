"""Seeded `images` + reference tables and the counts their planted strides imply.

Rows come from ``datagen._make_row``, the per-row function that
``datagen.generate_images`` / ``generate_reference`` map over ``spark.range``,
so the written tables hold the same rows those two functions return for the
same (rows, rows_per_window, seed) — without paying a JVM start to write them.
Every traced run checks that claim against those two functions
(``child.datagen_diff_rows``).

``expected_counts`` replays the planted-violation strides of ``_make_row``
(FIXTURES.md §1) to derive, without reading any output, how many rows each
suite check and each decode check must flag.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

WINDOWS_PER_PART = 2  # the generate_images default
SUITE_CHECKS = (
    "not_null_image_id", "non_empty_caption", "in_set_fmt", "between_w",
    "between_h", "unique_image_id", "referential_phash",
)
DECODE_CHECKS = ("decode_ok", "dims_match", "psnr_ge_40", "phash_match", "caption_match")

_IMAGES = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("part", pa.int32()), ("window_id", pa.int32()),
])
_REF = pa.schema([
    ("image_id", pa.string()), ("phash", pa.int64()),
    ("ref_bytes", pa.binary()), ("ref_caption", pa.string()),
])


def write(out_dir: str, n_rows: int, rows_per_window: int, seed: int) -> None:
    """Write ``images.parquet`` and ``ref.parquet`` under ``out_dir``."""
    from al_drift_detection_spark.datagen import _make_row

    n_windows = -(-n_rows // rows_per_window)
    img = {f.name: [] for f in _IMAGES}
    ref = {f.name: [] for f in _REF}
    for i in range(n_rows):
        r = _make_row(i, seed, n_windows, rows_per_window, WINDOWS_PER_PART)
        for k in img:
            img[k].append(r["blob" if k == "bytes" else k])
        if not r["orphan"] and r["image_id"] == f"img_{i:012d}":
            ref["image_id"].append(r["image_id"])
            ref["phash"].append(r["phash"])
            ref["ref_bytes"].append(r["ref_blob"])
            ref["ref_caption"].append(r["ref_caption"])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(img, schema=_IMAGES), os.path.join(out_dir, "images.parquet"))
    pq.write_table(pa.table(ref, schema=_REF), os.path.join(out_dir, "ref.parquet"))


def _planted(i: int) -> dict[str, bool]:
    """Which strides of ``_make_row`` fire on row ``i``."""
    return {
        "dup": i % 997 == 1 and i > 1,
        "trunc": i % 811 == 3,
        "w_off": i % 701 == 5,
        "h_zero": i % 703 == 7,
        "bad_fmt": i % 499 == 9 or i % 503 == 11,
        "no_caption": i % 211 == 13 or i % 213 == 15,
        "orphan": i % 1009 == 17,
        "noisy": i % 1013 == 19,
    }


def expected_counts(n_rows: int, rows_per_window: int) -> dict:
    """Per-(part, suite check) violation counts and per-decode-check totals.

    A row is in the reference set unless it is a planted orphan or duplicate;
    decode checks run only on rows whose image_id joins that set, and a
    noisy blob replaces a truncated one (it is assigned later).
    """
    rows = [_planted(i) for i in range(n_rows)]
    in_ref = [not (p["orphan"] or p["dup"]) for p in rows]
    n_parts = -(-(-(-n_rows // rows_per_window)) // WINDOWS_PER_PART)
    suite = {(part, c): 0 for part in range(n_parts) for c in SUITE_CHECKS}
    decode = dict.fromkeys(DECODE_CHECKS, 0)
    for i, p in enumerate(rows):
        part = i // rows_per_window // WINDOWS_PER_PART
        dup_pair = p["dup"] or (i + 1 < n_rows and rows[i + 1]["dup"])
        flags = {
            "non_empty_caption": p["no_caption"],
            "in_set_fmt": p["bad_fmt"],
            "between_h": p["h_zero"],
            "unique_image_id": dup_pair,
            "referential_phash": not in_ref[i],
        }
        for c, hit in flags.items():
            suite[(part, c)] += hit
        joins = in_ref[i - 1] if p["dup"] else in_ref[i]
        if not joins:
            continue
        if p["trunc"] and not p["noisy"]:
            decode["decode_ok"] += 1
            continue
        decode["dims_match"] += p["w_off"] or p["h_zero"]
        decode["psnr_ge_40"] += p["noisy"] or p["dup"]
        decode["phash_match"] += p["noisy"] or (p["dup"] and p["orphan"])
        decode["caption_match"] += p["no_caption"] or p["dup"]
    return {"n_parts": n_parts, "suite": suite, "decode": decode}
