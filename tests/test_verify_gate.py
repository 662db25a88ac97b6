"""The size-gated Jaccard verify (operators/dedup.py, r11): a
provably-bounded candidate set takes a zero-shuffle broadcast plan;
anything the gate cannot bound takes the spill-safe aggregate shape
(shape 3, the r10 OOM fix). Pins:

1. the two shapes are BIT-IDENTICAL on the same input;
2. the gate routes by the byte budget (env-overridable), so the
   prefix_jaccard-style unbounded candidate volume can never reach a
   broadcast build;
3. empty candidate sets are handled by both shapes;
4. the gate's row sizes ride the job that materializes the shingle
   frame (no job of their own), and do not depend on row order.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sp500_stock_etl_spark.caching import release_caches
from sp500_stock_etl_spark.operators import dedup as D
from tests.jobgroups import count_jobs, group_jobs, run_in_group


def _corpus(spark):
    rows = []
    for i in range(60):
        words = " ".join(f"w{(i * 7 + k) % 23}" for k in range(12))
        rows.append((i, words))
        if i % 5 == 0:  # planted near-dup
            rows.append((1000 + i, words + " tail"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shapes_bit_identical(spark, monkeypatch):
    docs = _corpus(spark)
    results = {}
    for shape in ("broadcast", "agg"):
        monkeypatch.setenv("SPARK_GRAFT_VERIFY_SHAPE", shape)
        out = D.minhash_lsh_dedup(docs, "doc_id", "text")
        results[shape] = sorted(map(tuple, out.collect()))
    assert results["broadcast"] == results["agg"]
    assert len(results["agg"]) > 0, "fixture must produce near-dups"


def test_gate_routes_by_budget(spark, monkeypatch):
    docs = _corpus(spark)
    sh = D.with_shingles(docs, "doc_id", "text", 3)
    pairs = spark.createDataFrame(
        [(0, 1000), (5, 1005)], "doc_a long, doc_b long"
    )
    monkeypatch.delenv("SPARK_GRAFT_VERIFY_SHAPE", raising=False)
    # A 1-byte budget can never admit a broadcast build.
    monkeypatch.setenv("SPARK_GRAFT_VERIFY_BUDGET_BYTES", "1")
    assert D._verify_size_gate(pairs, sh) is False
    # A huge budget admits this tiny candidate set.
    monkeypatch.setenv("SPARK_GRAFT_VERIFY_BUDGET_BYTES", str(10**12))
    assert D._verify_size_gate(pairs, sh) is True


def test_empty_candidates_both_shapes(spark, monkeypatch):
    docs = _corpus(spark)
    sh = D.with_shingles(docs, "doc_id", "text", 3)
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    for shape in ("broadcast", "agg"):
        monkeypatch.setenv("SPARK_GRAFT_VERIFY_SHAPE", shape)
        out = D.jaccard_verify(empty, sh, 0.6)
        assert out.count() == 0
        assert out.columns == ["doc_a", "doc_b", "jaccard"]


def test_gate_decision_trail(spark, monkeypatch):
    docs = _corpus(spark)
    monkeypatch.delenv("SPARK_GRAFT_VERIFY_SHAPE", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_VERIFY_BUDGET_BYTES", raising=False)
    D.LAST_GATE_DECISIONS.clear()
    D.minhash_lsh_dedup(docs, "doc_id", "text").count()
    assert len(D.LAST_GATE_DECISIONS) == 1
    rec = D.LAST_GATE_DECISIONS[0]
    assert {"n_pairs", "est_total", "budget", "fast"} <= set(rec)
    assert rec["fast"] is True  # tiny corpus must take the fast path


def test_jaccard_expr_matches_distinct_concat_union(spark):
    """r14: the verify's union is inclusion-exclusion
    (|A|+|B|-|A∩B|) instead of size(array_distinct(concat)). Pin the
    two expressions bit-identical on distinct-element arrays covering
    disjoint / partial / identical / subset overlaps — the full range
    the verify can see (with_shingles arrays are always distinct)."""
    rows = [
        (["a", "b", "c"], ["x", "y"]),          # disjoint
        (["a", "b", "c"], ["b", "c", "d"]),     # partial
        (["a", "b"], ["a", "b"]),               # identical
        (["a", "b", "c", "d"], ["b", "c"]),     # subset
        (["a"], ["a", "z", "q", "r"]),          # skewed sizes
    ]
    df = spark.createDataFrame(
        rows, "sh_a array<string>, sh_b array<string>"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    old_union = F.size(F.array_distinct(F.concat("sh_a", "sh_b"))).cast(
        "double"
    )
    got = df.select(
        D._jaccard_expr().alias("new"), (inter / old_union).alias("old")
    ).collect()
    for r in got:
        assert r["new"] == r["old"]  # bitwise (both exact doubles)


def _gate_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_VERIFY_SHAPE", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_VERIFY_BUDGET_BYTES", raising=False)


@pytest.mark.parametrize(
    "build, jobs",
    [
        # The observed row sizes replace the limit(2048) sample job
        # (the sampled gate made these 9 and 16).
        (lambda docs: D.minhash_lsh_dedup(docs, "doc_id", "text"), 7),
        (lambda docs: D.prefix_jaccard_pairs(docs, "doc_id", "text"), 14),
    ],
    ids=["minhash_lsh_dedup", "prefix_jaccard_pairs"],
)
def test_build_job_count(spark, monkeypatch, build, jobs):
    """Eager build jobs per call, counted under a job group in the
    local[8] test session (the returned frame is not acted on)."""
    _gate_env(monkeypatch)
    docs = _corpus(spark)
    _, got = count_jobs(spark, build, docs)
    release_caches()
    assert got == jobs


def test_unobserved_frame_gate_job_count(spark, monkeypatch):
    """A bare shingle frame (no Observation) gets its row sizes from
    one aggregate action over the whole frame, after the count: two
    jobs each (a shuffle stage and the final stage)."""
    _gate_env(monkeypatch)
    sh = D.with_shingles(_corpus(spark), "doc_id", "text", 3)
    pairs = spark.createDataFrame([(0, 1000), (5, 1005)], "doc_a long, doc_b long")
    assert count_jobs(spark, D._verify_size_gate, pairs, sh)[1] == 4


def test_minhash_gate_launches_no_job_after_candidate_count(spark, monkeypatch):
    """Everything after the gate's pairs.count() — reading the row
    sizes, the decision, building the verify plan — launches no Spark
    job: the row-byte Observation rode the count's job."""
    _gate_env(monkeypatch)
    docs = _corpus(spark)
    sc = spark.sparkContext
    cls = type(docs)
    count = cls.count
    groups = []

    def count_then_regroup(self):
        n = count(self)
        groups.append(f"after-count-{len(groups)}")
        sc.setJobGroup(groups[-1], groups[-1], False)
        return n

    monkeypatch.setattr(cls, "count", count_then_regroup)
    D.LAST_GATE_DECISIONS.clear()
    _, before = run_in_group(spark, D.minhash_lsh_dedup, docs, "doc_id", "text")
    monkeypatch.undo()
    release_caches()
    assert groups == ["after-count-0"], "the gate must count the pairs once"
    assert D.LAST_GATE_DECISIONS[0]["n_pairs"] > 0
    assert group_jobs(spark, before) > 0
    assert group_jobs(spark, groups[0]) == 0


def test_gate_estimate_independent_of_row_order(spark, monkeypatch):
    """The gate reads every row: the same rows arriving in a different
    order (repartition(1) vs repartition(3)) give the same est_row and
    decision, on the observed and the unobserved path alike, and
    est_row is the old per-row formula's max(2 x avg, max) over the
    whole frame: 3000 rows with one outlier, more rows than the
    2048-row sample the gate once read."""
    _gate_env(monkeypatch)
    n = F.when(F.col("id") == 2999, 400).otherwise(F.col("id") % 40 + 1)
    sh = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.array_repeat(F.concat(F.lit("s"), F.col("id").cast("string")), n.cast("int")).alias(
            "shingles"
        ),
    )
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "doc_a long, doc_b long")
    ref = sh.select(
        (F.length(F.concat_ws(" ", "shingles")) + F.size("shingles") * 24 + 80).alias("b")
    ).agg(F.avg("b").alias("avg"), F.max("b").alias("mx")).first()
    want = round(max(2.0 * ref["avg"], float(ref["mx"])), 1)
    monkeypatch.setenv("SPARK_GRAFT_VERIFY_BUDGET_BYTES", str(2 * want + 1))

    D.LAST_GATE_DECISIONS.clear()
    for parts in (1, 3):
        shuffled = sh.repartition(parts)
        D._verify_size_gate(pairs, shuffled)
        observed, obs = D.observe_row_bytes(shuffled)
        observed = observed.persist()
        observed.count()  # materializes the frame: the Observation fires
        D._verify_size_gate(pairs, observed, obs)
        observed.unpersist()
    got = {(r["est_row"], r["fast"]) for r in D.LAST_GATE_DECISIONS}
    assert got == {(want, True)}
