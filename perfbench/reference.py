"""Independent expected results, computed with DuckDB over the delivered
files; nothing here imports the program.

Validity rule (the program's documented op-C4 predicate): key, lsn and
ts present; op one of I/U/D; a non-null payload parses as JSON; non-
deletes carry text.  Valid events are deduplicated by lsn, and the
last writer on (ts, lsn) wins per (conv_id, turn_idx); a winning delete
removes the key.  role/tool are space-trimmed; text is NFC-normalized
and stripped here, in Python.
"""

from __future__ import annotations

import hashlib
import math
import unicodedata

import duckdb
import numpy as np
import pandas as pd

STATE_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

_VALID = """conv_id IS NOT NULL AND turn_idx IS NOT NULL AND lsn IS NOT NULL AND ts IS NOT NULL
  AND op IN ('I', 'U', 'D')
  AND (payload IS NULL OR json_valid(payload))
  AND (op = 'D' OR CASE WHEN json_valid(payload)
                        THEN json_extract_string(payload, '$.text') IS NOT NULL ELSE false END)"""


def _files_sql(files: list[str]) -> str:
    return "read_parquet([" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "])"


def _nfc_strip(s):
    return None if s is None else unicodedata.normalize("NFC", s).strip()


def lww_state(files: list[str]) -> tuple[pd.DataFrame, dict]:
    """Final state (STATE_COLUMNS, sorted by key) plus whole-log counts."""
    con = duckdb.connect()
    try:
        src = _files_sql(files)
        state = con.execute(f"""
            WITH v AS (SELECT * FROM {src} WHERE {_VALID}),
            d AS (SELECT DISTINCT ON (lsn) * FROM v ORDER BY lsn),
            w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                               ORDER BY ts DESC, lsn DESC) AS rn FROM d)
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   trim(json_extract_string(payload, '$.role')) AS role,
                   json_extract_string(payload, '$.text') AS text,
                   trim(json_extract_string(payload, '$.tool')) AS tool,
                   ts, op
            FROM w WHERE rn = 1 ORDER BY conv_id, turn_idx""").df()
        counts = con.execute(f"""
            SELECT count(*) AS delivered,
                   count(*) FILTER (WHERE {_VALID}) AS valid,
                   count(DISTINCT lsn) FILTER (WHERE {_VALID}) AS valid_unique
            FROM {src}""").df().iloc[0]
    finally:
        con.close()
    deleted = state[state["op"] == "D"][["conv_id", "turn_idx"]]
    live = state[state["op"] != "D"].drop(columns="op").reset_index(drop=True)
    live["text"] = live["text"].map(_nfc_strip)
    info = {
        "delivered": int(counts["delivered"]),
        "rejected": int(counts["delivered"] - counts["valid"]),
        "duplicates": int(counts["valid"] - counts["valid_unique"]),
        "live_rows": len(live),
        "deleted_keys": deleted,
    }
    return live[STATE_COLUMNS], info


def per_file_duplicates(files: list[str]) -> list[int]:
    """Valid redelivered events counted inside each file: one file is one
    micro-batch, and dedup is batch-local."""
    con = duckdb.connect()
    try:
        out = []
        for f in files:
            r = con.execute(f"""SELECT count(*) - count(DISTINCT lsn)
                                FROM {_files_sql([f])} WHERE {_VALID}""").fetchone()
            out.append(int(r[0]))
        return out
    finally:
        con.close()


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Spec columns in a fixed form: missing columns as null, turn_idx as
    int64, ts as microseconds, sorted by key."""
    out = pd.DataFrame({c: (df[c] if c in df.columns else None) for c in STATE_COLUMNS})
    out["turn_idx"] = out["turn_idx"].astype(np.int64)
    ts = pd.to_datetime(out["ts"])
    if getattr(ts.dt, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    out["ts"] = ts.astype("datetime64[us]").astype(np.int64)
    for c in ("conv_id", "role", "text", "tool"):
        out[c] = out[c].astype(object).where(out[c].notna(), None)
    return out.sort_values(["conv_id", "turn_idx"], ignore_index=True)


def state_hash(df: pd.DataFrame) -> str:
    c = canonical(df)
    rows = (c["conv_id"] + "\x01" + c["turn_idx"].astype(str)
            + "\x01" + c["role"].fillna("\x00") + "\x01" + c["text"].fillna("\x00")
            + "\x01" + c["tool"].fillna("\x00") + "\x01" + c["ts"].astype(str))
    return hashlib.sha256("\x02".join(rows.tolist()).encode("utf-8")).hexdigest()


# --------------------------------------------------------------- queries ---

def query_results(sql_by_name: dict[str, str], table_dir: str, tables: list[str]) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
        return {n: con.execute(sql).df() for n, sql in sql_by_name.items()}
    finally:
        con.close()


def _norm_value(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None) if v.tzinfo else v
    if isinstance(v, np.datetime64):
        return pd.Timestamp(v)
    return v


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, bool) or isinstance(b, bool):
            return a == b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive comparison; floats to 1e-9.  None when equal,
    else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(want.columns)

    def rows(df):
        recs = [tuple(_norm_value(v) for v in r) for r in df[cols].itertuples(index=False)]
        return sorted(recs, key=lambda r: tuple((x is None, str(type(x)), x if x is not None else 0) for x in r))

    for i, (a, b) in enumerate(zip(rows(got), rows(want))):
        if not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} != {b}"
    return None
