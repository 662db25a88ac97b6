"""Connected-components dedup-cluster resolution: propagation depth,
disjoint components, cycles, and isolated-pair behavior; the jobs each
algorithm launches."""

from __future__ import annotations

import pytest

from sp500_stock_etl_spark.caching import release_caches
from sp500_stock_etl_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)
from tests.jobgroups import count_jobs

PATH = [(i, i + 1) for i in range(10, 19)]
DISJOINT = [(1, 2), (2, 3), (3, 1), (7, 8), (100, 42)]


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, "src bigint, dst bigint")
    return {
        r.node: r.component for r in connected_components(df).collect()
    }


def test_long_path_needs_real_propagation(spark):
    # Path 10-11-...-19: diameter 9 — the min label must walk the
    # whole chain, not just one hop.
    got = _cc(spark, PATH)
    assert got == {i: 10 for i in range(10, 20)}


def test_disjoint_components_and_cycle(spark):
    got = _cc(spark, DISJOINT)
    assert got[1] == got[2] == got[3] == 1
    assert got[7] == got[8] == 7
    assert got[100] == got[42] == 42
    assert len(got) == 7


def test_edge_order_and_direction_irrelevant(spark):
    a = _cc(spark, [(5, 4), (3, 4), (2, 3)])
    b = _cc(spark, [(2, 3), (4, 5), (4, 3)])
    assert a == b == {2: 2, 3: 2, 4: 2, 5: 2}


def test_nonconvergence_raises(spark):
    """A component whose diameter exceeds max_iter must fail loudly,
    not return silently split clusters (round-4 advice)."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3).collect()


@pytest.mark.parametrize(
    "algo, pairs, jobs",
    [
        # Propagation: only each round's checkpoint jobs (10 rounds on
        # the path, 2 on the disjoint graph); convergence is observed
        # on those jobs. The separate label pass and per-round count()
        # this replaced launched 71 and 15.
        (connected_components, PATH, 30),
        (connected_components, DISJOINT, 6),
        # Star contraction: edge counts observed on the checkpoints;
        # the exact exceptAll check still runs per round (was 89, 35).
        (connected_components_star, PATH, 77),
        (connected_components_star, DISJOINT, 29),
    ],
)
def test_build_job_count(spark, algo, pairs, jobs):
    """The eager build jobs per call, counted under a job group in the
    local[8] test session. The call's own return is the build; the
    action on the returned frame is not counted."""
    df = spark.createDataFrame(pairs, "src bigint, dst bigint")
    _, got = count_jobs(spark, algo, df)
    release_caches()
    assert got == jobs, f"{algo.__name__}: {got} build jobs, pinned {jobs}"
