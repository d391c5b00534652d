"""Runtime domain guard on ``clustering._update``: a vector WIDER than the
``dim`` upper bound must fail loudly instead of being silently truncated
(matching the engine's other fail-fast guards, e.g. pagerank_weighted's
int64 guard); shorter vectors keep the documented null-sliced tolerance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _update(spark, rows, dim):
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        _update,
    )

    assigned = spark.createDataFrame(
        rows, "vec_id long, cell long, qv array<long>"
    )
    return _update(assigned, dim=dim)


def test_wider_than_dim_raises(spark):
    rows = [(1, 0, [1, 2, 3, 4, 5])]  # 5-wide vector, dim=4
    with pytest.raises(Exception, match="wider than dim=4"):
        _update(spark, rows, dim=4).collect()


def test_exact_and_shorter_widths_still_work(spark):
    # one 4-wide and one 3-wide vector in the same cell: the per-cell
    # min(size) slice keeps the 3-wide common prefix, no error
    rows = [(1, 0, [4, 4, 4, 4]), (2, 0, [2, 2, 2])]
    out = {r.cell: r.cv for r in _update(spark, rows, dim=4).collect()}
    assert out == {0: [3, 3, 3]}


def test_guard_is_per_cell_not_global(spark):
    # the guard must trip even when only ONE cell holds a wide vector
    rows = [(1, 0, [1, 1]), (2, 1, [9, 9, 9])]
    with pytest.raises(Exception, match="wider than dim=2"):
        _update(spark, rows, dim=2).collect()


def test_derived_k_above_static_k_assigns_without_packed_guard(spark):
    """``target_cluster_size`` with ``keep_vec=False``: the in-plan k
    (here ceil(100/10) = 10) exceeds the static ``k`` default of 8, so the
    final assignment must not take the packed (score, cell) arg-min whose
    domain guard is bounded by ``k`` — every vector lands in one of the
    ten seeded cells, exactly as the ``keep_vec=True`` path assigns it."""
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        kmeans_assignments,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 13), float(i % 7), -1.0, 2.5]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: r.cluster
        for r in kmeans_assignments(
            emb, iters=2, target_cluster_size=10, dim=4
        ).collect()
    }
    want = {
        r.vec_id: r.cluster
        for r in kmeans_assignments(
            emb, iters=2, target_cluster_size=10, dim=4, keep_vec=True
        ).collect()
    }
    assert len(got) == 100 and got == want
    assert set(got.values()) <= set(range(10))
    assert max(got.values()) >= 8  # a cell the static k would reject
