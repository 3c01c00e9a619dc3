"""Output checks, run with DuckDB after a run's timed region has ended.

Each check returns a list of problems; an empty list means the run's output
is correct.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

import images

VIOLATION_CAP = 100  # suite.CheckSuite default violation_cap_per_check
STREAM_WINDOW_S = 300  # runner --stream-window default
STREAM_BASE_TS = "2026-01-01 00:00:00"  # streaming.driver.BASE_TS
# rows each closed-window family writes per window (drift: ks, psi, mmd_rbf
# and vote for w and h; health: volume and caption completeness; quantiles:
# 4 quantiles of w; frequent: the 4 fmt values every 2,000-row window holds)
STREAM_ROWS_PER_WINDOW = {
    "stream_drift": 8, "stream_health": 2, "stream_uniqueness": 1,
    "stream_quantiles": 4, "stream_association": 1, "stream_frequent": 4,
}
SF_TABLES = ("events", "documents", "embeddings")


def _rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return con.execute(sql).fetchall()


def _vote_problems(got: dict[tuple[int, str], str], n_windows: int) -> list[str]:
    problems = []
    for col in ("w", "h"):
        for wid in range(n_windows):
            want = "fail" if wid >= n_windows - 2 else "pass"
            have = got.get((wid, col))
            if have != want:
                problems.append(f"drift vote {col} window {wid}: {have} != {want}")
    if len(got) != 2 * n_windows:
        problems.append(f"drift vote rows {len(got)} != {2 * n_windows}")
    return problems


def check_batch(out: str, n_rows: int, rows_per_window: int) -> list[str]:
    exp = images.expected_counts(n_rows, rows_per_window)
    n_windows = -(-n_rows // rows_per_window)
    con = duckdb.connect()
    problems = []

    verdicts = {
        (p, c): (n, v) for p, c, n, v in _rows(
            con, f"SELECT part, check_name, n_violations, verdict "
            f"FROM '{out}/verdicts/*.parquet'"
        )
    }
    want = {
        k: (n, "fail" if n else "pass") for k, n in exp["suite"].items()
    }
    if verdicts != want:
        bad = sorted(k for k in want.keys() | verdicts.keys()
                     if verdicts.get(k) != want.get(k))
        problems.append(f"verdicts differ at {bad[:5]}")

    viol = dict(_rows(
        con, f"SELECT part || ':' || check_name, count(*) "
        f"FROM '{out}/violations/*.parquet' GROUP BY 1"
    ))
    want_viol = {f"{p}:{c}": min(n, VIOLATION_CAP)
                 for (p, c), n in exp["suite"].items() if n}
    if viol != want_viol:
        problems.append(f"violation rows {viol} != {want_viol}")

    dec = dict(_rows(
        con, f"SELECT check_name, count(*) "
        f"FROM '{out}/decode_violations/*.parquet' GROUP BY 1"
    ))
    want_dec = {c: n for c, n in exp["decode"].items() if n}
    if dec != want_dec:
        problems.append(f"decode violations {dec} != {want_dec}")

    votes = {
        (w, c): v for w, c, v in _rows(
            con, f"SELECT window_id, \"column\", verdict "
            f"FROM '{out}/drift/*.parquet' WHERE kernel = 'vote'"
        )
    }
    problems += _vote_problems(votes, n_windows)

    (n_ckpt,), = _rows(con, f"SELECT count(*) FROM '{out}/checkpoint/*.parquet'")
    if n_ckpt != exp["n_parts"]:
        problems.append(f"checkpoint rows {n_ckpt} != {exp['n_parts']}")
    return problems


def check_stream(out: str, n_windows: int) -> list[str]:
    con = duckdb.connect()
    problems = []
    for family, per_window in STREAM_ROWS_PER_WINDOW.items():
        (n,), = _rows(con, f"SELECT count(*) FROM '{out}/{family}/*.parquet'")
        if n != n_windows * per_window:
            problems.append(f"{family} rows {n} != {n_windows} x {per_window}")
    votes = {
        (w, c): v for w, c, v in _rows(
            con, f"SELECT CAST(epoch(window_start - TIMESTAMP '{STREAM_BASE_TS}') "
            f"/ {STREAM_WINDOW_S} AS BIGINT), \"column\", verdict "
            f"FROM '{out}/stream_drift/*.parquet' WHERE kernel = 'vote'"
        )
    }
    return problems + _vote_problems(votes, n_windows)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form (columns sorted, floats to 9 dp)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        kind = str(df[c].dtype)
        if kind.startswith("float"):
            df[c] = df[c].round(9)
        elif kind.startswith(("int", "uint", "Int", "bool")):
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def check_sweep(sf_dir: str, out: str, oracles: dict[str, str]) -> dict[str, str]:
    """Compare each query's written result with its DuckDB oracle on the same
    tables; returns {query: problem} for the queries that differ."""
    con = duckdb.connect()
    for t in SF_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    problems = {}
    for name, sql in oracles.items():
        path = os.path.join(out, name)
        try:
            got = _normalize(con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf())
            want = _normalize(con.execute(sql).fetchdf())
        except duckdb.Error as ex:
            problems[name] = str(ex).splitlines()[0][:160]
            continue
        if list(got.columns) != list(want.columns):
            problems[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            problems[name] = f"rows {len(got)} != {len(want)}"
        elif not got.equals(want):
            problems[name] = "values differ"
    return problems
