"""Runtime domain guards of the k-means kernel. ``clustering._update``: a
vector WIDER than the ``dim`` upper bound must fail loudly instead of being
silently truncated (matching the engine's other fail-fast guards, e.g.
pagerank_weighted's int64 guard); shorter vectors keep the documented
null-sliced tolerance. ``clustering._assign``, the nearest-centroid
kernel k-means, PQ and IVF share: NULL or ragged vectors and the int64
overflow bound raise named errors in every caller, ties go to the smaller
cell (also in the order of a multi-cell IVF probe), and an empty corpus
assigns nothing."""

from __future__ import annotations

import numpy as np
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


def _kmeans(spark, rows, **kw):
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        kmeans_assignments,
    )

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return kmeans_assignments(emb, **kw)


def test_ties_go_to_the_smaller_cell(spark):
    # seeds 0..3 sit at the corners of a square; every other point is
    # equidistant from two or four of them, so the arg-min is a pure tie
    corners = [[0.0, 0.0], [2.0, 0.0], [0.0, 2.0], [2.0, 2.0]]
    ties = {4: [1.0, 0.0], 5: [2.0, 1.0], 6: [1.0, 2.0], 7: [1.0, 1.0]}
    rows = list(enumerate(corners)) + list(ties.items())
    for keep_vec in (False, True):
        got = {
            r.vec_id: r.cluster
            for r in _kmeans(
                spark, rows, k=4, iters=1, dim=2, keep_vec=keep_vec
            ).collect()
        }
        assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 0, 5: 1, 6: 2, 7: 0}


@pytest.mark.parametrize("keep_vec", [False, True])
def test_empty_corpus_gives_empty_result(spark, keep_vec):
    for kw in ({}, {"target_cluster_size": 4}):
        out = _kmeans(spark, [], iters=2, dim=2, keep_vec=keep_vec, **kw)
        assert out.collect() == []
        assert "cluster" in out.columns


def _pq_codes(spark, rows):
    from mapreducemovieanalysis_cloud_spark.operators.pq import pq_codes

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return pq_codes(emb, m=2, k=2, iters=1, dim=2)[0]


def _ivf_topk(spark, rows):
    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        ann_ivf_topk,
    )

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.where("vec_id < 2").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    return ann_ivf_topk(emb, queries, k=2, n_centroids=2, nprobe=1)


@pytest.mark.parametrize(
    "bad, match",
    [
        ((9, None), "clustering._assign: NULL vector"),
        ((9, [1.0, None]), "clustering._assign: NULL vector"),
        # ragged within a batch, or a batch of its own that is wider
        # than the codebook, depending on how the rows are partitioned
        (
            (9, [1.0, 2.0, 3.0]),
            "clustering._assign: (ragged vectors|vector width 3, expected 2)",
        ),
        # narrower: pq_codes' last subvector of it comes out empty
        (
            (9, [1.0]),
            "clustering._assign: (ragged vectors|vector width [01], "
            "expected [12])",
        ),
    ],
)
def test_null_or_ragged_vectors_raise(spark, bad, match):
    """Every caller of the shared kernel — k-means, PQ encoding, IVF cell
    assignment — raises its named error on a NULL or ragged embedding.
    pq_codes slices each vector into ``m`` subvectors, so a vector wider
    than ``dim`` fails pq's own in-plan guard before the kernel sees it."""
    rows = [(i, [float(i), 1.0]) for i in range(8)] + [bad]
    pq_match = (
        "pq._subspace_points: vector wider than dim=2 \\(got 3\\)"
        if len(bad[1] or []) > 2
        else match
    )
    for run, want in [
        (lambda: _kmeans(spark, rows, k=2, iters=1, dim=2), match),
        (lambda: _ivf_topk(spark, rows), match),
        (lambda: _pq_codes(spark, rows), pq_match),
    ]:
        with pytest.raises(Exception, match=want):
            run().collect()


def _kernel_cells(spark, cents, points, keep):
    """(id, [cells in kernel order]) of ``points`` against the IVF
    codebook of ``cents`` (id -> vector) through the shared kernel."""
    from mapreducemovieanalysis_cloud_spark.functions.vector import quantize
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        _assign,
    )
    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        _ivf_codebook,
    )

    ddl = "cent_id long, cent_vec array<double>"
    cells = _ivf_codebook(spark.createDataFrame(list(cents.items()), ddl))
    pts = spark.createDataFrame(
        list(points.items()), "id long, v array<double>"
    ).select("id", quantize("v").alias("qv"))
    got = {}
    for r in _assign(pts, cells, keep=keep, out=["id"]).collect():
        got.setdefault(r.id, []).append(r.cell)
    return got


def test_equal_dots_go_to_the_smaller_centroid_id(spark):
    # x·c5 == x·c3 == 2 and x·c8 == 1; the L2 distances order them
    # differently (|x - c5|² = 2 < |x - c3|² = 5), so only the zero-norm
    # arg-max-dot decision gives [3, 5, 8]. The codebook frame lists the
    # larger id first: the order must come from the kernel.
    cents = {5: [0.0, 1.0], 3: [2.0, 0.0], 8: [1.0, 0.0]}
    x = {0: [1.0, 2.0]}
    assert _kernel_cells(spark, cents, x, 1) == {0: [3]}
    assert _kernel_cells(spark, cents, x, 2) == {0: [3, 5]}
    # keep beyond the codebook size keeps every cell once
    assert _kernel_cells(spark, cents, x, 9) == {0: [3, 5, 8]}


def test_ivf_nprobe_cells_match_brute_force(spark, sf_dir):
    """The query-side IVF cells (nprobe of them, best first) of every
    sf0.001 embedding equal a pure-Python arg-max-dot reference with the
    smaller centroid id first on ties."""
    from mapreducemovieanalysis_cloud_spark.functions.vector import quantize
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    qv = {
        r.vec_id: r.qv
        for r in emb.select("vec_id", quantize("embedding").alias("qv"))
        .collect()
    }
    cents = {i: vecs[i] for i in range(8)}
    want = {
        i: sorted(
            range(8), key=lambda c: (-sum(a * b for a, b in zip(v, qv[c])), c)
        )[:3]
        for i, v in qv.items()
    }
    assert len(want) == len(rows) > 8
    assert _kernel_cells(spark, cents, vecs, 3) == want


def test_codebook_width_mismatch_raises(spark):
    # every point 3 wide against a 2-wide codebook (the update slices a
    # cell to its narrowest member, here the 2-wide seed)
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        _assign,
    )

    pts = spark.createDataFrame(
        [(1, [1, 2, 3], 14)], "vec_id long, qv array<long>, pn2 long"
    )
    codebook = {0: (np.array([0]), np.array([[1, 1]]), np.array([2]))}
    with pytest.raises(Exception, match="vector width 3, expected 2"):
        _assign(pts, codebook).collect()


def test_int64_overflow_bound_raises(spark):
    # 2000.0 quantizes to 2e9: every norm fits in int64 (4e18), but
    # d*(max|x| + max|c|)^2 = 1.6e19 >= 2^63 — a matmul term could wrap
    rows = [(0, [2000.0]), (1, [-2000.0]), (2, [1.0])]
    with pytest.raises(Exception, match="int64 overflow bound violated"):
        _kmeans(spark, rows, k=2, iters=1, dim=1).collect()
    # the same shape within the bound assigns normally
    ok = [(0, [1000.0]), (1, [-1000.0]), (2, [1.0])]
    out = _kmeans(spark, ok, k=2, iters=1, dim=1)
    assert {r.vec_id: r.cluster for r in out.collect()} == {0: 0, 1: 1, 2: 0}


def test_list_matrix_decodes_sliced_and_empty_batches():
    import pyarrow as pa

    from mapreducemovieanalysis_cloud_spark.functions.vector import (
        list_matrix,
    )

    arr = pa.array([[1, 2], [3, 4], [5, 6], [7, 8]], pa.list_(pa.int64()))
    assert list_matrix(arr.slice(1, 2)).tolist() == [[3, 4], [5, 6]]
    assert list_matrix(arr.slice(4), 2).shape == (0, 2)
    with pytest.raises(ValueError, match="k: ragged vectors"):
        list_matrix(pa.array([[1, 2], [3]]), label="k")
    with pytest.raises(ValueError, match="k: vector width 2, expected 3"):
        list_matrix(arr, 3, "k")
