"""Fast tests of the benchmark's own logic; no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import types

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, gen, stats
from perfbench.trace import PKG, Tracer


def _all_inputs(root, seed):
    gen.corpus(f"{root}/corpus", seed, 120, 300)
    gen.ingest_days(f"{root}/ingest", seed, 3, 5, 2, 3, 2, 50)
    return gen.tree_digest(str(root))


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _all_inputs(tmp_path / "a", 7)
    b = _all_inputs(tmp_path / "b", 7)
    c = _all_inputs(tmp_path / "c", 8)
    assert a == b
    assert a != c


def test_planted_truth_is_consistent(tmp_path):
    import pyarrow.parquet as pq

    truth = gen.corpus(str(tmp_path), 3, 400, 600)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas().set_index("doc_id")
    assert truth["near_pairs"], "no near-duplicates planted"
    for a, b in truth["near_pairs"]:
        ta, tb = docs.loc[a, "text"], docs.loc[b, "text"]
        assert ta != tb
        assert gen.jaccard(gen.shingles(ta), gen.shingles(tb)) >= gen.NEAR_DUP_THRESHOLD
    for a, b in truth["exact_pairs"]:
        assert docs.loc[a, "text"] == docs.loc[b, "text"]

    emb = pq.read_table(tmp_path / "embeddings.parquet").to_pandas()
    vecs = np.stack(emb["embedding"].to_numpy()).astype("float64")
    assert sorted(truth["topk"]) == [q for q in range(600) if q % 100 == 0]
    for q, nbrs in truth["topk"].items():
        assert len(nbrs) == gen.TOPK and q not in nbrs
        cos = [
            (float(vecs[q] @ vecs[j] / np.linalg.norm(vecs[q]) / np.linalg.norm(vecs[j])), j)
            for j in range(len(vecs)) if j != q
        ]
        best = sorted(cos, key=lambda t: (-t[0], t[1]))[: gen.TOPK]
        assert [j for _, j in best] == nbrs


def test_tail_is_highest_percentile_with_ten_beyond():
    value, pct, n = stats.tail(range(1, 101))
    assert (value, n) == (90, 100)
    assert sum(v > value for v in range(1, 101)) == 10
    assert pct == 90.0
    # exactly eleven samples: the smallest is the only one with ten beyond
    assert stats.tail([5.0] + [9.0] * 10)[0] == 5.0
    # fewer samples than that: nothing beyond the minimum is resolvable
    assert stats.tail([3.0, 1.0, 2.0])[0] == 1.0
    with pytest.raises(ValueError):
        stats.tail([])


def test_self_time_subtracts_union_of_children():
    # children overlap (1-3, 2-5) and one runs past the parent's end
    assert stats.self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == 4.0
    assert stats.self_time((0.0, 10.0), []) == 10.0
    assert stats.self_time((0.0, 10.0), [(0.0, 10.0), (3.0, 4.0)]) == 0.0


def test_perturbed_result_counts_as_failed_op():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    same = want.iloc[::-1].reset_index(drop=True)
    bad = want.copy()
    bad.loc[1, "v"] = 1.2500000000000002
    assert checks.compare_frames(same, want)[0]
    assert not checks.compare_frames(bad, want)[0]
    assert not checks.compare_frames(want.iloc[:2], want)[0]
    assert checks.digest(same) == checks.digest(want) != checks.digest(bad)

    # q1's warm result passed its check; q2's did not.
    verdicts = {"q1": checks.compare_frames(same, want), "q2": checks.compare_frames(bad, want)}
    warm = {"q1": checks.digest(want), "q2": checks.digest(bad)}

    def op(kind, frame, error=None):
        return {"kind": kind, "error": error, "digest": checks.digest(frame)}

    assert checks.failed_ops([op("q1", same), op("q1", want)], warm, verdicts) == 0
    # a timed q1 result that differs from the checked warm one
    assert checks.failed_ops([op("q1", same), op("q1", bad)], warm, verdicts) == 1
    # q2 matches its warm result, but that result failed the check
    assert checks.failed_ops([op("q2", bad)], warm, verdicts) == 1
    assert checks.failed_ops([op("q1", same, error="Traceback")], warm, verdicts) == 1
    # an op without a result (an ingest day) is judged by its kind's check
    assert checks.failed_ops([{"kind": "q1", "error": None, "digest": None}], warm, verdicts) == 0


def test_ingest_recomputation_sees_revised_row(tmp_path):
    days = gen.ingest_days(str(tmp_path), 5, 3, 4, 2, 6, 2, 10)
    frames = [checks.read_landed_csv(d["csv"]) for d in days]
    assert [len(f) for f in frames] == [d["data_lines"] for d in days]
    store = checks.expected_store(frames).set_index(["Symbol", "Date"])
    first = frames[0].set_index(["Symbol", "Date"])
    revised = [k for k in first.index
               if any(k in f.set_index(["Symbol", "Date"]).index for f in frames[1:])]
    assert revised, "no revision planted"
    for k in revised:
        last = next(f for f in reversed(frames) if k in f.set_index(["Symbol", "Date"]).index)
        assert store.loc[k, "Close"] == last.set_index(["Symbol", "Date"]).loc[k, "Close"]
    assert len(store) == len({k for f in frames for k in f.set_index(["Symbol", "Date"]).index})
    ok, _ = checks.compare_store(store.reset_index(), store.reset_index()[checks.STORE_COLUMNS])
    assert ok


def test_tracer_patches_every_importer_and_restores():
    mod = types.ModuleType(f"{PKG}._bench_fake")
    user = types.ModuleType(f"{PKG}._bench_fake_user")

    def work(x):
        return x + 1

    mod.work = user.work = work
    sys.modules[mod.__name__], sys.modules[user.__name__] = mod, user
    try:
        tr = Tracer()
        tr.install([(mod.__name__, "work", "fake.work", "fake", None)], streams=False)
        assert user.work(1) == 2 and mod.work(2) == 3
        assert [s.name for s in tr.spans] == ["fake.work", "fake.work"]
        tr.uninstall()
        assert mod.work is work and user.work is work
    finally:
        del sys.modules[mod.__name__], sys.modules[user.__name__]


def test_corpus_check_with_one_kind_failing_reports_instead_of_raising(tmp_path):
    import duckdb

    from perfbench.workloads import CorpusDedup
    from sp500_stock_etl_spark.plans.registry import all_queries

    wl = CorpusDedup(str(tmp_path), 4)
    wl.N_DOCS, wl.N_VECS = 120, 300
    wl.generate()
    con = duckdb.connect()
    for fn in os.listdir(wl.data_dir):
        con.execute(f"CREATE VIEW {fn.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{wl.data_dir}/{fn}')")
    reg = all_queries()
    # every warm result is the oracle's, but dedup_exact's run raised
    got = {k: con.execute(reg[k].oracle).df() for k in wl.queries if k != "dedup_exact"}
    verdicts, quality = wl.check(None, got)
    assert not verdicts["dedup_exact"][0]
    assert verdicts["dedup_minhash_lsh"][0]
    assert quality == {}


def test_ingest_check_without_a_store_reports_instead_of_raising(tmp_path):
    from perfbench.workloads import DailyIngest

    wl = DailyIngest(str(tmp_path), 4)
    wl.N_DAYS, wl.N_SYMBOLS, wl.EVENTS_PER_DAY = 3, 5, 20
    wl.generate()
    wl.begin_pass(None, 1)
    # every day raised before its CSV write and merge
    for kind in wl.pass_order(None):
        wl.after_op(kind)
    wl.end_pass(None, 1)
    verdicts, quality = wl.check(None, {})
    assert set(verdicts) == set(wl.pass_order(None))
    assert not any(ok for ok, _ in verdicts.values())
    assert "no store manifest" in verdicts[wl.pass_order(None)[0]][1]
    assert quality == {"rows_dropped": []}
    assert wl.pass_stats() == {}
