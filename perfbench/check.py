"""Untimed output checks against DuckDB.

Batch queries are compared with their registry entry's own ``sql``.
Stream outputs are compared with DuckDB over the same generated event
files.  The two state machines depend on arrival order, so their
expected state orders each user's events by (micro-batch, event time),
with each file's micro-batch read back from the query's checkpoint.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

# the reference's achievement thresholds (config.properties:17), kept here
# rather than imported so the check stays independent of the package
THRESHOLDS = (1, 5, 10, 20, 30, 50, 75, 100)
GAP_MS = 86_400_000


def connect(tables_dir: str) -> duckdb.DuckDBPyConnection:
    """A bare DuckDB connection with one table per generated parquet
    file.  Tables, not views: the graph oracles repeat their event CTE
    once per round, and re-reading the parquet each time dominates."""
    con = duckdb.connect()
    for name in sorted(os.listdir(tables_dir)):
        table = name.removesuffix(".parquet")
        con.execute(
            f"CREATE TABLE {table} AS SELECT * FROM '{os.path.join(tables_dir, name)}'"
        )
    return con


def _canon(v) -> str:
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def _row_hashes(df: pd.DataFrame) -> np.ndarray:
    """Sorted per-row hashes of a frame whose cells are canonicalised:
    timestamps as epoch microseconds, integers as int64, floats to 6
    significant digits, containers as canonical strings."""
    cols = {}
    for c in sorted(df.columns):
        col = df[c].reset_index(drop=True)
        if pd.api.types.is_datetime64_any_dtype(col):
            col = col.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(col) or pd.api.types.is_integer_dtype(col):
            col = col.astype("int64")
        elif pd.api.types.is_float_dtype(col):
            col = col.map(lambda v: "nan" if pd.isna(v) else f"{v:.6g}")
        elif col.map(lambda v: isinstance(v, (list, tuple, dict, np.ndarray))).any():
            col = col.map(_canon)
        else:
            col = col.astype(str)
        cols[c] = col
    return np.sort(pd.util.hash_pandas_object(pd.DataFrame(cols), index=False).to_numpy())


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both frames hold the same multiset of rows over the same
    columns, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} expected"
    if not np.array_equal(_row_hashes(got), _row_hashes(want)):
        return "row values differ"
    return None


# ---- expected stream outputs -------------------------------------------

_REGISTERED = "SELECT * FROM ev WHERE user_id % 10 <> 0"

STREAM_SQL = {
    "anonymous_events": """
        SELECT event_id, user_id, event_type, ts, TRUE AS anonymous_user,
               value, props
        FROM ev WHERE user_id % 10 = 0""",
    "latest_per_user": f"""
        SELECT user_id, ts AS last_ts, value AS last_value, props AS last_props
        FROM ({_REGISTERED})
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""",
    "event_type_counts": f"""
        SELECT event_type, count(*) AS n_events FROM ({_REGISTERED})
        GROUP BY event_type""",
    "daily_counts": f"""
        SELECT date_trunc('day', ts)::TIMESTAMP AS day, event_type,
               count(*) AS n_events
        FROM ({_REGISTERED}) GROUP BY 1, 2""",
    "enriched_events": f"""
        SELECT e.user_id, c.c_mktsegment AS user_role,
               CASE WHEN c.c_custkey % 2 = 0 THEN 'MALE' ELSE 'FEMALE' END
                   AS user_gender,
               e.event_type, e.ts, e.value, e.props
        FROM ({_REGISTERED}) e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey""",
    # per-user streak state machine: events in (batch, ts) order; a
    # streak restarts when an event is more than a day past the running
    # maximum of every earlier event
    "streak_state": f"""
        WITH o AS (
            SELECT user_id, ts, epoch_ms(ts) AS ms,
                   row_number() OVER w AS rn,
                   max(epoch_ms(ts)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS prev_max
            FROM ({_REGISTERED}) JOIN fb_streak_state USING (file)
            WINDOW w AS (PARTITION BY user_id ORDER BY batch, ts)),
        r AS (
            SELECT user_id,
                   max(CASE WHEN prev_max IS NULL OR ms - prev_max > {GAP_MS}
                            THEN rn END) AS start_rn,
                   count(*) AS n_all, max(ts) AS end_ts
            FROM o GROUP BY user_id)
        SELECT r.user_id, o.ts AS streak_start, r.end_ts AS streak_end,
               r.n_all - r.start_rn + 1 AS n_events,
               ((epoch_ms(r.end_ts) - epoch_ms(o.ts)) // 1000) // 7
                   AS streak_units
        FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.start_rn""",
    # achievements: the n-th correct attempt in (batch, ts) order
    "threshold_crossings": f"""
        SELECT user_id, 'QUESTIONS_ANSWERED_CORRECTLY' AS achievement_id,
               rn AS threshold, ts AS achieved_at
        FROM (
            SELECT user_id, ts, row_number() OVER (
                       PARTITION BY user_id ORDER BY batch, ts) AS rn
            FROM ({_REGISTERED}) JOIN fb_threshold_crossings USING (file)
            WHERE value > 50)
        WHERE rn IN {THRESHOLDS}""",
}


def final_streaks(got: pd.DataFrame) -> pd.DataFrame:
    """The update-mode streak sink appends each batch's rows; a user's
    current streak is its row with the latest (start, count)."""
    got = got.sort_values(["user_id", "streak_start", "n_events"])
    return got.groupby("user_id", as_index=False).tail(1)


def expected_stream(
    con: duckdb.DuckDBPyConnection,
    source_dir: str,
    file_batches: dict[str, dict[str, int]],
) -> dict[str, pd.DataFrame]:
    """Expected final state of each stream output over every event file
    in ``source_dir``.  ``file_batches`` maps the two order-dependent
    outputs to their {file name: micro-batch id}."""
    con.execute(
        "CREATE OR REPLACE TEMP VIEW ev AS SELECT *, "
        "regexp_extract(filename, '[^/]+$') AS file "
        f"FROM read_parquet('{source_dir}/*.parquet', filename = true)"
    )
    for output, batches in file_batches.items():
        frame = pd.DataFrame(
            {"file": list(batches), "batch": list(batches.values())}
        )
        con.register(f"fb_{output}", frame)
    return {name: con.execute(sql).fetchdf() for name, sql in STREAM_SQL.items()}
