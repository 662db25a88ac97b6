"""Output checks, run after the measured window and outside timing.

- Registry queries are compared with their DuckDB ``oracle`` SQL over
  the same generated parquet: column names, row count and
  order-insensitive values, floats bit-for-bit.
- Recall is scored against the generator's planted truth.
- The ingest store is compared with a pandas recomputation of the
  landed CSVs.

No Spark import here: the fast tests drive these with pandas frames.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import math

import numpy as np
import pandas as pd


def _canon(v):
    """Hashable, type-sensitive form of one cell (floats by repr, so
    bitwise-different values differ; dates and timestamps unified)."""
    if v is None:
        return ("N",)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return ("nan",) if math.isnan(f) else ("f", repr(f))
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (pd.Timestamp, np.datetime64, dt.datetime, dt.date)):
        return ("N",) if pd.isna(v) else ("ts", str(pd.Timestamp(v)))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("l", tuple(_canon(x) for x in v))
    if pd.isna(v):
        return ("N",)
    return (type(v).__name__, str(v))


def _canon_col(col: pd.Series) -> list:
    """``_canon`` over a column, with the common dtypes done in bulk."""
    vals = col.tolist()
    kind = col.dtype.kind
    if kind == "f":
        return [("nan",) if v != v else ("f", repr(v)) for v in vals]
    if kind in "iu":
        return [("i", v) for v in vals]
    first = next((v for v in vals if v is not None and not pd.isna(v)), None)
    if kind == "M" or isinstance(first, (dt.date, pd.Timestamp)):
        # dates and timestamps of either engine, as nanoseconds
        ns = pd.to_datetime(col).to_numpy(dtype="datetime64[ns]").astype("int64")
        nat = pd.isna(col).to_numpy()
        return [("N",) if m else ("ts", int(v)) for v, m in zip(ns, nat)]
    return [("str", v) if type(v) is str else _canon(v) for v in vals]


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    return sorted(zip(*(_canon_col(pdf[c]) for c in sorted(pdf.columns))))


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    """Order-insensitive equality of two result frames."""
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    a, b = _rows(got), _rows(want)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return False, f"first differing sorted row: {diff}"
    return True, f"ok ({len(got)} rows)"


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive fingerprint of a result frame: equal for two
    frames exactly when ``compare_frames`` finds them equal."""
    rows = _rows(pdf)
    return hashlib.sha256(repr((sorted(pdf.columns), rows)).encode()).hexdigest()


def failed_ops(ops: list[dict], warm: dict, checks: dict) -> int:
    """Count the failed ops among ``ops`` (records with ``kind``,
    ``error`` and ``digest``). An op fails if it raised, if the check
    of its kind's warm-pass result failed, or if its result's digest
    differs from that warm result's (``warm``, by kind). An op that
    returns nothing (digest None) is judged by its kind's check."""
    return sum(
        1 for op in ops
        if op["error"] or not checks[op["kind"]][0]
        or (op["digest"] is not None and op["digest"] != warm.get(op["kind"]))
    )


def pair_recall(found, truth) -> float:
    """Share of planted (a, b) pairs present in ``found`` (unordered)."""
    if not truth:
        raise ValueError("no planted pairs")
    got = {(min(a, b), max(a, b)) for a, b in found}
    return sum((min(a, b), max(a, b)) in got for a, b in truth) / len(truth)


def topk_recall(found: dict, truth: dict) -> float:
    """Mean share of the exact top-k each query's result recovers."""
    hits = sum(len(set(found.get(q, [])) & set(t)) for q, t in truth.items())
    return hits / sum(len(t) for t in truth.values())


# ---------------------------------------------------------------------------
# daily_ingest recomputation
# ---------------------------------------------------------------------------

STORE_COLUMNS = [
    "Date", "Symbol", "Open", "High", "Low", "Close", "Volume",
    "Close_Change", "Close_Pct_Change", "Daily_Range", "Daily_Range_Pct",
]


def _round_half_up(x: np.ndarray, scale: int) -> np.ndarray:
    p = float(10**scale)
    return np.sign(x) * np.floor(np.abs(x) * p + 0.5) / p + 0.0


def read_landed_csv(path: str) -> pd.DataFrame:
    """Well-formed rows of one landed CSV (lines with the wrong field
    count are dropped, as the cleansing reader's DROPMALFORMED does)."""
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh))
    header, body = rows[0], [r for r in rows[1:] if len(r) == len(rows[0])]
    df = pd.DataFrame(body, columns=header)
    for c in ("Open", "High", "Low", "Close"):
        df[c] = df[c].astype("float64")
    df["Volume"] = df["Volume"].astype("int64")
    return df


def day_metrics(raw: pd.DataFrame) -> pd.DataFrame:
    """The stock_metrics kernel in pandas: per-symbol lag change and
    percent change over the day's rows ordered by date (first row 0),
    range metrics, half-up rounding to 4 places."""
    df = raw.sort_values(["Symbol", "Date"]).reset_index(drop=True)
    prev = df.groupby("Symbol")["Close"].shift(1)
    chg = (df["Close"] - prev).fillna(0.0)
    pct = ((df["Close"] / prev - 1.0) * 100.0).fillna(0.0)
    rng = df["High"] - df["Low"]
    df["Close_Change"] = _round_half_up(chg.to_numpy(), 4)
    df["Close_Pct_Change"] = _round_half_up(pct.to_numpy(), 4)
    df["Daily_Range"] = _round_half_up(rng.to_numpy(), 4)
    df["Daily_Range_Pct"] = _round_half_up((rng / df["Low"] * 100.0).to_numpy(), 4)
    return df[STORE_COLUMNS]


def expected_store(days: list[pd.DataFrame]) -> pd.DataFrame:
    """Upsert each day's metrics on (Symbol, Date), last write wins."""
    frames = [day_metrics(d).assign(_day=i) for i, d in enumerate(days)]
    allrows = pd.concat(frames, ignore_index=True)
    latest = allrows.sort_values("_day").groupby(["Symbol", "Date"]).tail(1)
    return latest.drop(columns="_day").sort_values(["Symbol", "Date"]).reset_index(drop=True)


def compare_store(got: pd.DataFrame, want: pd.DataFrame, tol: float = 1e-9) -> tuple[bool, str]:
    """Store read-back against the recomputation: same keys, same
    integer columns, floats equal within ``tol``."""
    got = got[STORE_COLUMNS].copy()
    got["Date"] = got["Date"].astype(str)
    got = got.sort_values(["Symbol", "Date"]).reset_index(drop=True)
    if len(got) != len(want):
        return False, f"store rows {len(got)} != {len(want)}"
    for c in ("Date", "Symbol", "Volume"):
        if not (got[c].astype(str).to_numpy() == want[c].astype(str).to_numpy()).all():
            return False, f"column {c} differs"
    for c in STORE_COLUMNS[2:]:
        if c == "Volume":
            continue
        d = np.abs(got[c].to_numpy(dtype="float64") - want[c].to_numpy(dtype="float64"))
        if not (d <= tol).all():
            i = int(np.argmax(d))
            return False, f"{c} differs at {got['Symbol'][i]} {got['Date'][i]}: {got[c][i]} != {want[c][i]}"
    return True, f"ok ({len(got)} rows)"
