"""The similarity tiers' shared steps. ``similarity._topk`` is the one
per-query top-k: every tier keeps exactly ``k`` rows per query, ranked
by its score and then by the smaller ``neighbor_id`` on ties, with an
int ``rank``. ``similarity._with_qv`` quantizes each vector once."""

from __future__ import annotations

import pytest

# three vectors tie for query 0's nearest neighbor and two for query 1's;
# the rows list the larger ids first, so the order must come from the rank
_ROWS = [
    (0, [1.0, 0.0], 0),
    (1, [0.0, 1.0], 0),
    (9, [1.0, 0.5], 1),
    (7, [1.0, 0.5], 1),
    (4, [1.0, 0.5], 1),
    (5, [0.5, 1.0], 1),
    (3, [0.5, 1.0], 1),
    (2, [-1.0, 0.0], 1),
    (6, [0.0, -1.0], 1),
    (8, [-1.0, -1.0], 0),
]


def _brute(corpus, queries, k):
    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        brute_force_topk,
    )

    return brute_force_topk(corpus, queries.drop("label"), k=k)


def _hard(corpus, queries, k):
    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        hard_negatives,
    )

    return hard_negatives(corpus, queries, k=k)


def _sq8(corpus, queries, k):
    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        sq8_topk,
    )

    return sq8_topk(corpus, queries.drop("label"), k=k)


def _pq(corpus, queries, k):
    from mapreducemovieanalysis_cloud_spark.operators.pq import ann_pq_topk

    return ann_pq_topk(
        corpus, queries.drop("label"), topk=k, m=2, k=2, iters=2, dim=2
    )


@pytest.mark.parametrize(
    "tier, score, desc, top",
    [
        (_brute, "cosine", True, {0: [4, 7], 1: [3, 5]}),
        (_hard, "cosine", True, {0: [4, 7], 1: [3, 5]}),
        (_sq8, "dist_sq", False, {0: [4, 7], 1: [3, 5]}),
        (_pq, "adc_d2", False, None),
    ],
    ids=["cosine", "cosine_extra_cols", "dist_sq", "adc_d2"],
)
def test_ties_rank_by_smaller_neighbor_id(spark, tier, score, desc, top):
    """Each query gets exactly ``k`` rows, without its own id, ranked
    by ``(score, neighbor_id)`` — checked against every candidate's score
    — and a planted tie sits at the top. The PQ codes of this corpus tie
    more widely, so its top is only checked against the reference."""
    corpus = spark.createDataFrame(
        _ROWS, "vec_id long, embedding array<float>, label int"
    )
    queries = corpus.where("vec_id < 2").withColumnRenamed(
        "vec_id", "query_id"
    )
    k = 2
    top_k = tier(corpus, queries, k)
    assert dict(top_k.dtypes)["rank"] == "int"
    got = top_k.collect()
    every = tier(corpus, queries, len(_ROWS)).collect()
    for q in (0, 1):
        cands = [r for r in every if r.query_id == q]
        assert q not in {r.neighbor_id for r in cands}
        want = sorted(
            cands,
            key=lambda r: (-r[score] if desc else r[score], r.neighbor_id),
        )[:k]
        mine = sorted(
            (r for r in got if r.query_id == q), key=lambda r: r.rank
        )
        assert [r.rank for r in mine] == list(range(1, k + 1))
        assert [r.neighbor_id for r in mine] == [
            r.neighbor_id for r in want
        ]
        # a planted tie among the first k + 1, so the tie-break decides
        best = sorted((r[score] for r in cands), reverse=desc)[: k + 1]
        assert len(set(best)) < k + 1
        if top is not None:
            assert [r.neighbor_id for r in mine] == top[q]


def test_with_qv_quantizes_once(spark):
    """One quantizing ``transform`` per row in the executed plan: the
    norm reads the projected ``qv`` column instead of quantizing again."""
    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        _with_qv,
    )

    emb = spark.createDataFrame(
        [(1, [0.5, -2.0])], "vec_id long, embedding array<float>"
    )
    df = _with_qv(emb, "vec_id", "embedding", "nid")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("transform(") == 1
    (row,) = df.collect()
    assert (row.nid, row.qv_nid) == (1, [500000, -2000000])
    assert row.nrm_nid == pytest.approx((500000**2 + 2000000**2) ** 0.5)
