"""Parity + contracts for the round-13 wave (queries/round13_staged.py):
the exact Spark-vs-DuckDB comparison the driver runs, the wave's
registration pin, plan hygiene, and behavioral pins of each operator's
semantics on planted inputs — including the merged==rebuild contracts
of the two new additive stores and the streaming CMS appender."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark import registry
from tests.oracle import assert_matches_oracle

ROUND13 = (
    "hits_trade_authority",
    "hybrid_search_rrf",
    "incremental_cms_hitters",
    "incremental_hist_percentiles",
    "ktruss_suppliers",
    "preference_pairs_by_source",
    "skipgram_pair_topk",
)


@pytest.mark.parametrize("name", ROUND13)
def test_staged_matches_oracle(spark, oracle_sf_dir, name):
    assert_matches_oracle(
        registry.queries()[name](spark, oracle_sf_dir),
        registry.oracle_sql()[name],
        oracle_sf_dir,
    )


def test_staged_are_registered():
    """ROUND13 is exactly the set of queries round13_staged registers, each
    with an oracle: a query added to the module without a parity entry
    above, or a name above that no longer registers, fails here."""
    mod = "mapreducemovieanalysis_cloud_spark.queries.round13_staged"
    live = {
        name for name, fn in registry.queries().items()
        if fn.__module__ == mod
    }
    assert live == set(ROUND13)
    assert live <= set(registry.oracle_sql())


def test_staged_plan_hygiene(executed_plan):
    BNLJ_BY_DESIGN = {
        # broadcast 1-vector query x corpus scoring (the ann_bruteforce
        # whitelist justification) + the bm25 1-row corpus-stats
        # broadcast (the bm25_rank justification) — both legs of the
        # fusion are whitelisted kernels
        "hybrid_search_rrf",
    }
    for name in ROUND13:
        plan = executed_plan(name)
        assert "CartesianProduct" not in plan, name
        if name not in BNLJ_BY_DESIGN:
            assert "BroadcastNestedLoopJoin" not in plan, name


# ---- CMS store contracts ------------------------------------------------------


def test_cms_store_merged_equals_rebuild(spark, tmp_path):
    """Cell ADDITION makes any batch split equivalent: a store built
    from a 2-way split and one built from a 3-way split of the same
    rows merge to the IDENTICAL cell table, which equals the one-shot
    sketch over the unsplit rows."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches
    from mapreducemovieanalysis_cloud_spark.sources.writers import (
        read_epochs,
    )

    rows = [(i, i % 7) for i in range(200)]
    df = spark.createDataFrame(rows, "rid long, user_id long")

    def build(store: str, ways: int) -> None:
        for b in range(ways):
            sketches.incremental_cms_append(
                df.where(F.col("rid") % ways == b), store, f"b{b}", "user_id"
            )

    s2, s3 = str(tmp_path / "s2"), str(tmp_path / "s3")
    build(s2, 2)
    build(s3, 3)

    def merged(store: str):
        return sorted(
            map(
                tuple,
                read_epochs(spark, f"{store}/cells")
                .groupBy("row_idx", "bucket")
                .agg(F.sum("cell_count").alias("n"))
                .collect(),
            )
        )

    oneshot = sorted(
        map(
            tuple,
            sketches._cms_cells(
                df, "user_id", sketches.CMS_DEPTH, sketches.CMS_WIDTH
            )
            .withColumnRenamed("cell_count", "n")
            .collect(),
        )
    )
    assert merged(s2) == merged(s3) == oneshot


def test_cms_store_estimate_is_overestimate_and_finds_hot_key(
    spark, tmp_path
):
    """The merged-store estimate keeps the CMS guarantee (est >= true)
    and the planted hot key tops the ranking with its exact count
    (w=64 cells, 8 distinct keys: the hot key's min cell can only be
    inflated by collisions, and with this few keys its estimate is
    exact unless all three rows collide)."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches

    rows = [(i, 42) for i in range(500)] + [
        (1000 + i, i % 7) for i in range(70)
    ]
    df = spark.createDataFrame(rows, "rid long, user_id long")
    store = str(tmp_path / "s")
    sketches.incremental_cms_append(
        df.where(F.col("rid") % 2 == 0), store, "b0", "user_id"
    )
    sketches.incremental_cms_append(
        df.where(F.col("rid") % 2 == 1), store, "b1", "user_id"
    )
    out = sketches.incremental_cms_topk(spark, store, "user_id", k=3).collect()
    true = {r.user_id: r.n for r in df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert out[0].user_id == 42
    assert out[0].est_count >= 500
    for r in out:
        assert r.est_count >= true[r.user_id]  # CMS never underestimates


def test_cms_streaming_sink_matches_batch(spark, tmp_path):
    """The streaming appender (streaming/cms.cms_hitters_sink) must
    leave the store answering identically to a batch-built store over
    the same rows — after the first micro-batch AND after a late file
    (cell addition makes any micro-batch partitioning equivalent for
    cells; candidates grow monotonically with each batch's top-m)."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches
    from mapreducemovieanalysis_cloud_spark.streaming import cms

    rows1 = [(i, i % 5) for i in range(50)]
    rows2 = [(100 + i, 42) for i in range(30)]
    schema = "rid long, user_id long"
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    src = tmp_path / "src"
    b1.write.parquet(str(src / "f1"))

    store = str(tmp_path / "store")
    stream = spark.readStream.schema(b1.schema).parquet(str(src / "*"))
    q = cms.cms_hitters_sink(
        stream, store, "user_id", checkpoint_path=str(tmp_path / "ckpt")
    )

    def batch_store(df, path: str) -> str:
        sketches.incremental_cms_append(df, path, "all", "user_id")
        return path

    def topk(path: str):
        return sorted(
            map(
                tuple,
                sketches.incremental_cms_topk(
                    spark, path, "user_id", k=5
                ).collect(),
            )
        )

    try:
        q.processAllAvailable()
        want1 = topk(batch_store(b1, str(tmp_path / "bs1")))
        assert topk(store) == want1
        b2.write.parquet(str(src / "f2"))
        q.processAllAvailable()
        want2 = topk(batch_store(b1.unionByName(b2), str(tmp_path / "bs2")))
        got2 = topk(store)
        assert got2 == want2
        assert got2 != want1  # the late hot key actually surfaced
        est = dict(got2)
        assert 42 in est and est[42] >= 30
    finally:
        q.stop()


# ---- histogram store contracts ------------------------------------------------


def test_hist_store_split_invariance_and_percentiles(spark, tmp_path):
    """Any batch split merges to the same histogram (counts add), and
    the bin-resolution percentiles match a python replay of the
    cumulative rule on planted values."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches

    # 100 rows with cents = 1000 * i: bins (width 10_000) are 0..9,
    # 10 rows each
    rows = [(i, "g", 1000 * i) for i in range(100)]
    df = spark.createDataFrame(rows, "rid long, g string, cents long")

    def build(store: str, ways: int) -> str:
        for b in range(ways):
            sketches.incremental_hist_append(
                df.where(F.col("rid") % ways == b), store, f"b{b}",
                "g", "cents", 10_000,
            )
        return store

    out2 = sketches.hist_percentiles(
        spark, build(str(tmp_path / "s2"), 2), "g", 10_000
    ).collect()
    out3 = sketches.hist_percentiles(
        spark, build(str(tmp_path / "s3"), 3), "g", 10_000
    ).collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out3))

    [r] = out2
    assert r.n_rows == 100
    # python replay: bin b has cum = 10*(b+1); first bin with
    # 100*cum >= q*100 is ceil(q/10)-1; lower bound = bin * 10_000
    import math

    for q, got in ((50, r.p50_lo_cents), (90, r.p90_lo_cents),
                   (99, r.p99_lo_cents)):
        want_bin = math.ceil(q / 10) - 1
        assert got == want_bin * 10_000, (q, got)


# ---- HITS behavioral pin -------------------------------------------------------


def test_hits_planted_graph_exact_scores(spark):
    """Exact integer replay on a planted directed graph:
    c1 -> {s1, s2}, c2 -> {s1}, c3 -> {s1}.
    a1 = indegree: s1=3, s2=1.  h1(c) = sum a1 over its suppliers:
    c1=4, c2=3, c3=3.  a2(s) = sum h1 over its customers: s1=10, s2=4.
    h2(c): c1=14, c2=10, c3=10."""
    from mapreducemovieanalysis_cloud_spark.operators.graph import (
        hits_scores,
    )

    edges = spark.createDataFrame(
        [("c1", "s1"), ("c1", "s2"), ("c2", "s1"), ("c3", "s1")],
        "src string, dst string",
    )
    out = {(r.node, r.kind): r.score for r in hits_scores(edges).collect()}
    assert out[("c1", "hub")] == 14
    assert out[("c2", "hub")] == 10
    assert out[("c3", "hub")] == 10
    assert out[("s1", "authority")] == 10
    assert out[("s2", "authority")] == 4


# ---- k-truss behavioral pin ----------------------------------------------------


def test_ktruss_keeps_clique_prunes_star(spark):
    """A K4 clique survives the 4-truss (every edge has support 2)
    while a star hub attached to it is pruned (star edges close no
    triangles) — the cohesion distinction k-core cannot make."""
    from mapreducemovieanalysis_cloud_spark.operators.graph import (
        ktruss_edges,
    )

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    star = [(5, 10 + i) for i in range(6)]  # hub 5 with 6 leaves
    bridge = [(1, 5)]  # attach the hub to the clique
    edges = spark.createDataFrame(
        [(u, v) for u, v in clique + star + bridge], "u long, v long"
    )
    out = {(r.u, r.v): r.support for r in ktruss_edges(edges, k=4).collect()}
    assert set(out) == set(clique)
    assert all(s == 2 for s in out.values())


def test_ktruss_second_round_prunes_cascade(spark):
    """A triangle hanging off a clique by one shared edge survives
    round 1 (its edges have support 1 < 2, pruned) — verify the fixed
    second round re-measures support in the SHRUNKEN graph: an edge of
    the clique that lost a triangle to round-1 pruning keeps k-truss
    membership only if its remaining support suffices."""
    from mapreducemovieanalysis_cloud_spark.operators.graph import (
        ktruss_edges,
    )

    # K4 on {1,2,3,4} plus a pendant triangle {3,4,9}: edge (3,4) has
    # support 3 in round 0; pendant edges (3,9),(4,9) have support 1
    # and are pruned by k=4 (need >= 2); in round 2 (3,4) is back to
    # support 2 — still a survivor, but with the honest recount.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pendant = [(3, 9), (4, 9)]
    edges = spark.createDataFrame(k4 + pendant, "u long, v long")
    out = {(r.u, r.v): r.support for r in ktruss_edges(edges, k=4).collect()}
    assert set(out) == set(k4)
    assert out[(3, 4)] == 2  # recounted WITHOUT the pruned pendant


# ---- skipgram behavioral pin ---------------------------------------------------


def test_skipgram_planted_weights(spark):
    """'a b c' yields (a,b) and (b,c) at distance 1 (1_000_000 each)
    and (a,c) at distance 2 (500_000); pairs are canonical unordered
    and weights sum across repeats."""
    from mapreducemovieanalysis_cloud_spark.operators.curation import (
        skipgram_pair_counts,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "c b")], "doc_id long, text string"
    )
    out = {(r.t1, r.t2): (r.weight_micro, r.n_pairs)
           for r in skipgram_pair_counts(docs, window=2, topk=10).collect()}
    # doc2's "c b" adds another distance-1 (b,c) pair
    assert out[("a", "b")] == (1_000_000, 1)
    assert out[("b", "c")] == (2_000_000, 2)
    assert out[("a", "c")] == (500_000, 1)


# ---- preference pairs behavioral pin --------------------------------------------


def test_preference_pairs_ordering_and_no_overlap(spark):
    """Planted source with strictly ordered distinct-ratios: pair 1 is
    (best, worst), pair 2 (2nd best, 2nd worst); with 5 docs only
    floor(5/2)=2 pairs emit (the middle doc is on neither side);
    margins are positive and decreasing."""
    from mapreducemovieanalysis_cloud_spark.operators.curation import (
        preference_pairs,
    )

    texts = {
        1: "a b c d e",        # ratio 1.0
        2: "a b c d d",        # 0.8
        3: "a b c c c",        # 0.6
        4: "a b b b b",        # 0.4
        5: "a a a a a",        # 0.2
    }
    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in texts.items()],
        "doc_id long, text string, source string",
    )
    out = sorted(
        map(tuple, preference_pairs(docs, per_source=5).collect())
    )
    assert out == [
        ("s", 1, 1, 5, 800_000),
        ("s", 2, 2, 4, 400_000),
    ]


# ---- RRF fusion behavioral pin ---------------------------------------------------


def test_rrf_fuse_integer_arithmetic(spark):
    """A doc ranked 1st+2nd across the two lists must beat a doc
    ranked 1st in only one; scores are the exact integer sums."""
    from mapreducemovieanalysis_cloud_spark.operators.ranking import (
        rrf_fuse,
    )

    a = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank int")
    out = {r.doc_id: (r.rrf_micro, r.n_lists)
           for r in rrf_fuse([a, b], topk=10).collect()}
    assert out[20] == (1_000_000 // 62 + 1_000_000 // 61, 2)
    assert out[10] == (1_000_000 // 61, 1)
    assert out[30] == (1_000_000 // 62, 1)
    assert out[20][0] > out[10][0] > out[30][0]


def test_rrf_fuse_empty_input_raises():
    import pytest

    from mapreducemovieanalysis_cloud_spark.operators.ranking import (
        rrf_fuse,
    )

    with pytest.raises(ValueError, match="ranked input"):
        rrf_fuse([])
