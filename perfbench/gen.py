"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow, so the fast tests can run it
without Spark. The same ``(seed, size)`` always writes byte-identical
files. The program only ever sees these files, in the testdata layout
(``<dir>/<table>.parquet``) or, for ``daily_ingest``, as landed
quoted CSVs and event parquet files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

NGRAM = 3  # shingle width of the dedup queries the truth is planted for
NEAR_DUP_THRESHOLD = 0.6  # dedup_minhash_lsh's Jaccard threshold
EMBED_DIMS = 64
EMBED_LABELS = 10
TOPK = 10

_DAY_US = 86_400_000_000
_EPOCH = dt.date(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - _EPOCH).days


def _write(table: pa.Table, path: str) -> None:
    # One row group per file, like the reference testdata.
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


# ---------------------------------------------------------------------------
# Events (daily_ingest)
# ---------------------------------------------------------------------------


def events_table(
    rng: np.random.Generator,
    n: int,
    n_users: int,
    start: dt.date,
    n_days: int,
    first_id: int,
) -> pa.Table:
    """``events`` rows with ascending microsecond timestamps spread
    over ``n_days`` days from ``start``."""
    t0 = _days(start) * _DAY_US
    ts = np.sort(rng.integers(0, n_days * _DAY_US, n)) + t0
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype="int64"),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


# ---------------------------------------------------------------------------
# Corpus + embeddings with planted truth (corpus_dedup)
# ---------------------------------------------------------------------------


def shingles(text: str, n: int = NGRAM) -> set[str]:
    """Distinct word n-grams of whitespace tokens, the same set the
    dedup queries build for this lowercase, single-spaced vocabulary."""
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """``documents`` with planted exact copies and one-token-edit
    near-duplicates, and clustered ``embeddings`` with exact cosine
    top-10 truth. Returns the truth:

    - ``near_pairs``: (base_id, variant_id) pairs whose true shingle
      Jaccard is at least ``NEAR_DUP_THRESHOLD``;
    - ``exact_pairs``: (base_id, copy_id) verbatim copies;
    - ``topk``: {query vec_id: [10 exact nearest vec_ids]} for the
      query set ``similarity_ivf_topk_nprobe2`` uses (vec_id % 100 == 0).
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(VOCAB)
    # The structure (doc lengths, which docs are copies or variants,
    # cluster sizes) is the same for every seed; only the content is
    # drawn from it. So every seed asks for the same amount of work.
    lengths = [8 + (i * 37) % 93 for i in range(n_docs)]
    for i in range(n_docs):
        if i % 10 == 9:
            lengths[i - 4] = max(lengths[i - 4], 40)
    texts: list[str] = []
    near_pairs: list[tuple[int, int]] = []
    exact_pairs: list[tuple[int, int]] = []
    for i in range(n_docs):
        if i % 10 == 9:
            # one-token edit of a doc of >= 40 tokens: Jaccard >= 0.85
            base = i - 4
            toks = texts[base].split(" ")
            pos = int(rng.integers(0, len(toks)))
            shift = 1 + int(rng.integers(0, len(VOCAB) - 1))
            toks[pos] = VOCAB[(VOCAB.index(toks[pos]) + shift) % len(VOCAB)]
            texts.append(" ".join(toks))
            if jaccard(shingles(texts[base]), shingles(texts[i])) >= NEAR_DUP_THRESHOLD:
                near_pairs.append((base, i))
        elif i % 25 == 12:
            texts.append(texts[i - 7])
            exact_pairs.append((i - 7, i))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), lengths[i])]))
    _write(
        pa.table({
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": vocab_pick(rng, LANGS, n_docs),
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }),
        f"{out_dir}/documents.parquet",
    )

    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIMS))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.arange(n_vecs) % EMBED_LABELS
    vecs = centers[labels] + rng.normal(0.0, 0.09, (n_vecs, EMBED_DIMS))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(
        pa.table({
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype("int32"),
        }),
        f"{out_dir}/embeddings.parquet",
    )
    return {
        "near_pairs": near_pairs,
        "exact_pairs": exact_pairs,
        "topk": exact_topk(vecs, [q for q in range(n_vecs) if q % 100 == 0]),
    }


def vocab_pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return list(np.array(values)[rng.integers(0, len(values), n)])


def exact_topk(vecs: np.ndarray, query_ids: list[int], k: int = TOPK) -> dict:
    """Exact cosine top-k per query (self excluded, ties by id)."""
    v = vecs.astype("float64")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out = {}
    for q in query_ids:
        sims = v @ v[q]
        sims[q] = -np.inf
        order = np.lexsort((np.arange(len(v)), -sims))
        out[q] = [int(j) for j in order[:k]]
    return out


# ---------------------------------------------------------------------------
# Daily ingest: landed quote CSVs with revisions + event files
# ---------------------------------------------------------------------------

CSV_COLUMNS = ["Date", "Symbol", "Open", "High", "Low", "Close", "Volume"]


def trading_days(n: int, start: dt.date = dt.date(2024, 1, 2)) -> list[dt.date]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _quote(v: str) -> str:
    return '"' + v.replace('"', '""') + '"'


def ingest_days(
    out_dir: str,
    seed: int,
    n_days: int,
    n_symbols: int,
    revise_window: int,
    revisions_per_day: int,
    malformed_per_day: int,
    events_per_day: int,
) -> list[dict]:
    """One quoted CSV (all fields quoted, header) and one events
    parquet file per trading day. Each CSV holds the day's bar for
    every symbol, revised bars for ``revisions_per_day`` random
    (symbol, date) keys of the trailing ``revise_window`` days, and
    ``malformed_per_day`` lines with a wrong field count. Returns
    one record per day: paths, landed bytes, data-line and malformed
    counts."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    symbols = [f"S{i:03d}" for i in range(n_symbols)]
    days = trading_days(n_days)
    price = rng.uniform(20.0, 400.0, n_symbols)
    days_out = []
    for d_idx, day in enumerate(days):
        price = price * (1.0 + rng.normal(0.0, 0.02, n_symbols))
        rows = [_bar(rng, day, s, p) for s, p in zip(symbols, price)]
        lo = max(0, d_idx - revise_window)
        if d_idx > 0 and revisions_per_day:
            window = (d_idx - lo) * n_symbols
            picks = rng.choice(window, size=min(revisions_per_day, window), replace=False)
            for k in sorted(int(p) for p in picks):
                k_day, k_sym = lo + k // n_symbols, k % n_symbols
                p = rng.uniform(20.0, 400.0)
                rows.append(_bar(rng, days[k_day], symbols[k_sym], p))
        lines = [",".join(_quote(c) for c in CSV_COLUMNS)]
        lines += [",".join(_quote(v) for v in r) for r in rows]
        for m in range(malformed_per_day):
            at = int(rng.integers(1, len(lines)))
            bad = [day.isoformat(), symbols[0], "1.0"] if m % 2 == 0 else \
                [day.isoformat(), symbols[0], "1", "2", "0.5", "1.5", "10", "extra"]
            lines.insert(at, ",".join(_quote(v) for v in bad))
        csv_path = f"{out_dir}/quotes_{d_idx:03d}.csv"
        with open(csv_path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        ev_path = f"{out_dir}/events_{d_idx:03d}.parquet"
        _write(
            events_table(rng, events_per_day, 200, day, 1, d_idx * events_per_day),
            ev_path,
        )
        days_out.append({
            "day": d_idx,
            "date": day.isoformat(),
            "csv": csv_path,
            "events": ev_path,
            "csv_bytes": os.path.getsize(csv_path),
            "data_lines": len(rows),
            "malformed": malformed_per_day,
        })
    return days_out


def _bar(rng: np.random.Generator, day: dt.date, sym: str, close: float) -> list[str]:
    c = round(float(close), 2)
    hi = round(c * (1.0 + rng.uniform(0.0, 0.03)), 2)
    lo = round(c * (1.0 - rng.uniform(0.0, 0.03)), 2)
    op = round(rng.uniform(lo, hi), 2)
    vol = int(rng.integers(10_000, 5_000_000))
    return [day.isoformat(), sym, f"{op:.2f}", f"{hi:.2f}", f"{lo:.2f}", f"{c:.2f}", str(vol)]


def tree_digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    import hashlib

    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for fn in sorted(files):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
