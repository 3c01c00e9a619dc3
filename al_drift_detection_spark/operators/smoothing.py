"""W5 label smoothing — stateful stencil with carry-over, per group.

Port of the reference's `smooth` (/root/reference/cnn.py:149-172) semantics:
two sequential passes over an ordered label sequence; pass 1 fills any window
of `gap` rows whose endpoints agree on a non-crossing class; pass 2 fills
windows of `run` rows whose endpoints agree on a crossing class. Later
windows see earlier fills (in-place carry-over), so this is NOT expressible
as a pure SQL window function (SURVEY.md §2.5 W5) — it runs as an
applyInPandas grouped-map, one group per partition key, vectorized numpy
inside.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def smooth_sequence(
    labels: np.ndarray,
    crossing_classes: tuple[int, ...] = (1, 3),
    run: int = 120,
    gap: int = 60,
) -> np.ndarray:
    """In-place two-pass stencil smoothing (semantics of ref cnn.py:149-172)."""
    out = labels.copy()
    n = len(out)
    for i in range(n - gap):
        w0, w1 = out[i], out[i + gap - 1]
        if w0 == w1 and w0 not in crossing_classes:
            out[i : i + gap] = w0
    for i in range(n - run):
        w0, w1 = out[i], out[i + run - 1]
        if w0 == w1 and w0 in crossing_classes:
            out[i : i + run] = w0
    return out


def smooth_labels(
    df: DataFrame,
    group_col: str,
    order_col: str,
    label_col: str,
    crossing_classes: tuple[int, ...] = (1, 3),
    run: int = 120,
    gap: int = 60,
) -> DataFrame:
    """Grouped-map smoothing: order within group is explicit (never relies on
    physical row order — SURVEY.md §7 hard part (c))."""

    result_ddl = f"{group_col} long, {order_col} long, {label_col} int, label_smooth int"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        sm = smooth_sequence(
            pdf[label_col].to_numpy(), crossing_classes, run, gap
        )
        return pd.DataFrame(
            {
                group_col: pdf[group_col],
                order_col: pdf[order_col],
                label_col: pdf[label_col],
                "label_smooth": sm.astype("int32"),
            }
        )

    return (
        df.select(group_col, order_col, label_col)
        .groupBy(group_col)
        .applyInPandas(fn, result_ddl)
    )
