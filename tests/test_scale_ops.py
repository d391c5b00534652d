"""Round-2b scale operators: bloom prefilter join, BM25, duplicate
passages, SCD2 intervals, integer histograms."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark import plans
from mapreducemovieanalysis_cloud_spark.operators import (
    aggregates,
    cdc,
    dedup,
    joins,
    ranking,
)
from mapreducemovieanalysis_cloud_spark.sources.readers import load_table


# ---------------------------------------------------------------------------
# bloom_prefilter_join
# ---------------------------------------------------------------------------


def test_bloom_prefilter_join_matches_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") < 3)
        .select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    )
    got = joins.bloom_prefilter_join(orders, dim, on="o_custkey")
    want = orders.join(dim, "o_custkey")
    assert got.count() == want.count()
    assert (
        got.select(F.sum("o_orderkey"), F.sum("c_nationkey")).collect()
        == want.select(F.sum("o_orderkey"), F.sum("c_nationkey")).collect()
    )


def test_bloom_prefilter_semi_join_is_broadcast(spark, sf_dir):
    """The bucket-set filter must apply as a broadcast (map-side) semi join
    — if it planned as a shuffled join the prefilter would cost the very
    Exchange it exists to avoid."""
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") < 3)
        .select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    )
    plan = plans.executed_plan(
        joins.bloom_prefilter_join(orders, dim, on="o_custkey")
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_bloom_prefilter_tiny_bucket_space_still_exact(spark):
    """Saturated filter (m=2): every fact row passes the prefilter, the
    exact join still discards the false positives."""
    fact = spark.range(0, 1000).select(F.col("id").alias("k"))
    dim = spark.createDataFrame([(5, "a"), (7, "b")], ["k", "v"])
    got = joins.bloom_prefilter_join(fact, dim, on="k", num_buckets=2)
    assert sorted(r.k for r in got.collect()) == [5, 7]


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def _mk_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


def test_bm25_matches_hand_computation(spark):
    texts = [
        "join join join filter scan",
        "join scan",
        "filter filter scan scan scan",
        "vector stream",
    ]
    out = {
        r.doc_id: (r.bm25_micro, r.n_terms_hit)
        for r in ranking.bm25_scores(
            _mk_docs(spark, texts), ["join", "vector"], topk=10
        ).collect()
    }
    # hand computation with the same constants
    n, dls = 4, [5, 2, 5, 2]
    avgdl = sum(dls) / n
    def score(tf, df, dl):
        idf = (n - df + 0.5) / (df + 0.5)
        return round(
            idf * ((tf * ranking.K1_PLUS_1)
                   / (tf + ranking.K1 * (ranking.ONE_MINUS_B
                      + (ranking.B * dl) / avgdl))) * 1e6
        )
    want = {
        0: (score(3, 2, 5), 1),
        1: (score(1, 2, 2), 1),
        3: (score(1, 1, 2), 1),
    }
    assert out == want


def test_bm25_rewards_tf_and_penalizes_common_terms(spark):
    texts = [
        "rare rare common filler filler",   # doc 0: high tf of rare term
        "rare common filler filler filler", # doc 1
        "common filler filler filler text", # doc 2
        "common filler filler filler text", # doc 3
    ]
    ranked = ranking.bm25_scores(
        _mk_docs(spark, texts), ["rare", "common"], topk=4
    ).collect()
    assert ranked[0].doc_id == 0  # tf=2 of the rarest term wins
    # 'common' appears in all 4 docs -> tiny idf; doc 2/3 score lowest
    assert {r.doc_id for r in ranked[-2:]} == {2, 3}


# ---------------------------------------------------------------------------
# duplicate_passages
# ---------------------------------------------------------------------------


def test_duplicate_passages_finds_planted_passage(spark):
    planted = "a b c d e f g h"
    texts = [
        f"x1 x2 {planted} y1 y2",
        f"z1 {planted} z2 z3",
        "unrelated words only here padding padding padding padding",
    ]
    out = dedup.duplicate_passages(_mk_docs(spark, texts), n=8).collect()
    by_passage = {r.passage: r for r in out}
    assert planted in by_passage
    r = by_passage[planted]
    assert r.n_docs == 2 and r.n_occurrences == 2 and r.first_doc == 0
    # no window crossing the planted region recurs in both docs
    assert all(
        p == planted or by_passage[p].n_docs < 2 for p in by_passage
    )


def test_duplicate_passages_counts_within_doc_repeats(spark):
    eight = "p q r s t u v w"
    texts = [f"{eight} {eight}", f"junk {eight} junk2"]
    out = dedup.duplicate_passages(_mk_docs(spark, texts), n=8).collect()
    row = next(r for r in out if r.passage == eight)
    assert row.n_docs == 2 and row.n_occurrences == 3


# ---------------------------------------------------------------------------
# SCD2
# ---------------------------------------------------------------------------


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_scd2_intervals_chain(spark):
    rows = [
        (1, 1, _ts("2024-01-01 00:00:00"), "view"),
        (1, 2, _ts("2024-01-01 01:00:00"), "view"),
        (1, 3, _ts("2024-01-01 02:00:00"), "click"),
        (1, 4, _ts("2024-01-01 03:00:00"), "view"),
        (2, 5, _ts("2024-01-01 00:30:00"), "signup"),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "event_id", "ts", "event_type"]
    )
    out = {
        (r.user_id, r.version): r
        for r in cdc.scd2_intervals(df).collect()
    }
    assert len(out) == 4
    v1 = out[(1, 1)]
    assert (v1.state, v1.n_events) == ("view", 2)
    assert v1.valid_from == "2024-01-01 00:00:00"
    assert v1.valid_to == "2024-01-01 02:00:00"  # next run's start
    v2 = out[(1, 2)]
    assert (v2.state, v2.valid_to) == ("click", "2024-01-01 03:00:00")
    v3 = out[(1, 3)]
    assert (v3.state, v3.valid_to) == ("view", cdc.OPEN_END)
    assert out[(2, 1)].valid_to == cdc.OPEN_END


def test_scd2_single_exchange(spark, sf_dir):
    """Both windows, the run group-by, and the closing lead all cluster on
    user_id — the whole operator must plan exactly ONE shuffle."""
    df = cdc.scd2_intervals(load_table(spark, sf_dir, "events"))
    plan = plans.executed_plan(df)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


# ---------------------------------------------------------------------------
# int_histogram
# ---------------------------------------------------------------------------


def test_int_histogram_exact_boundaries(spark):
    cents = [0, 1, 2_499_999, 2_500_000, 4_999_999, 5_000_000, 7_400_000]
    df = spark.createDataFrame([(c,) for c in cents], ["c"])
    out = {
        r.bucket: (r.bucket_lo_cents, r.n_rows, r.sum_cents)
        for r in aggregates.int_histogram(
            df, F.col("c"), bucket_width_cents=2_500_000
        ).collect()
    }
    assert out[0] == (0, 3, 2_500_000)
    assert out[1] == (2_500_000, 2, 7_499_999)
    assert out[2] == (5_000_000, 2, 12_400_000)


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def _mk_emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_pq_codes_shape(spark):
    import random

    rng = random.Random(7)
    emb = _mk_emb(
        spark, [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    )
    codes, cents = __import__(
        "mapreducemovieanalysis_cloud_spark.operators.pq", fromlist=["pq"]
    ).pq_codes(emb, m=2, k=4, iters=2, dim=8)
    rows = codes.collect()
    assert len(rows) == 40 * 2  # m codes per vector
    assert all(0 <= r.code < 4 for r in rows)
    crows = cents.collect()
    assert {(r.j, r.cell) for r in crows} <= {
        (j, c) for j in range(2) for c in range(4)
    }
    assert all(len(r.cv) == 4 for r in crows)  # subdim
    # every code is the pure-Python per-subspace arg-min of the exact
    # squared distance to the returned centroids, smaller cell on ties
    from mapreducemovieanalysis_cloud_spark.functions.vector import quantize

    qv = {
        r.vec_id: r.qv
        for r in emb.select("vec_id", quantize("embedding").alias("qv"))
        .collect()
    }
    book = {}
    for r in crows:
        book.setdefault(r.j, []).append((r.cell, r.cv))
    want = {
        (v, j): min(
            book[j],
            key=lambda c: (
                sum((a - b) ** 2 for a, b in zip(x[4 * j:4 * j + 4], c[1])),
                c[0],
            ),
        )[0]
        for v, x in qv.items()
        for j in range(2)
    }
    assert {(r.vec_id, r.j): r.code for r in rows} == want


def test_pq_ann_recovers_cluster_structure(spark):
    """Two well-separated clusters: PQ neighbors of a cluster-A query must
    all come from cluster A (ADC error is far smaller than the
    inter-cluster gap)."""
    import random

    from mapreducemovieanalysis_cloud_spark.operators import pq as pqm

    rng = random.Random(3)
    a = [[1.0 + rng.uniform(-0.05, 0.05) for _ in range(8)] for _ in range(20)]
    b = [[-1.0 + rng.uniform(-0.05, 0.05) for _ in range(8)] for _ in range(20)]
    emb = _mk_emb(spark, a + b)  # ids 0..19 cluster A, 20..39 cluster B
    queries = emb.where("vec_id IN (2, 25)").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    out = pqm.ann_pq_topk(
        emb, queries, topk=5, m=2, k=4, iters=2, dim=8
    ).collect()
    for r in out:
        if r.query_id == 2:
            assert r.neighbor_id < 20, r
        else:
            assert r.neighbor_id >= 20, r


def test_pq_train_sample_matches_oracle(spark, sf_dir, oracle_sf_dir):
    """The sampled-codebook-training tier (pq_codes train_sample) stays
    oracle-exact: intermediate Lloyd assigns over the md5 1/2 vector
    sample, final encoding assign over every vector, mirrored CTE-for-CTE
    in DuckDB via _pq_oracle(train_where=...)."""
    from mapreducemovieanalysis_cloud_spark.operators import pq as pqm
    from mapreducemovieanalysis_cloud_spark.queries.scale_queries import (
        _pq_oracle,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table
    from tests.oracle import assert_matches_oracle

    train_where = (
        "CAST(('0x' || substr(md5('pqtrain:' || CAST(vec_id AS VARCHAR)),"
        " 1, 4)) AS INTEGER) % 2 = 0"
    )
    sql = _pq_oracle(train_where=train_where)
    for d in (sf_dir, oracle_sf_dir):
        emb = load_table(spark, d, "embeddings")
        queries = emb.where(F.col("vec_id") < 5).selectExpr(
            "vec_id AS query_id", "embedding"
        )
        out = pqm.ann_pq_topk(
            emb, queries, topk=10, m=4, k=16, iters=2, dim=64,
            train_sample=2,
        )
        assert_matches_oracle(out, sql, d)


def test_pq_train_sample_none_unchanged(spark, sf_dir):
    """train_sample=None is bit-identical to the pre-knob kernel (the
    registered ann_pq contract surface must not move)."""
    from mapreducemovieanalysis_cloud_spark import registry
    from tests.oracle import assert_matches_oracle

    q = registry.queries()["ann_pq"]
    sql = registry.oracle_sql()["ann_pq"]
    assert_matches_oracle(q(spark, sf_dir), sql, sf_dir)


def test_pq_train_sample_recovers_cluster_structure(spark):
    """Sampled training must not break neighbor quality on separable
    data: with half the vectors training the codebooks, cluster-A
    queries still draw all top-5 neighbors from cluster A."""
    import random

    from mapreducemovieanalysis_cloud_spark.operators import pq as pqm

    rng = random.Random(11)
    a = [[1.0 + rng.uniform(-0.05, 0.05) for _ in range(8)] for _ in range(20)]
    b = [[-1.0 + rng.uniform(-0.05, 0.05) for _ in range(8)] for _ in range(20)]
    emb = _mk_emb(spark, a + b)
    queries = emb.where("vec_id IN (2, 25)").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    out = pqm.ann_pq_topk(
        emb, queries, topk=5, m=2, k=4, iters=2, dim=8, train_sample=2
    ).collect()
    assert len(out) == 10
    for r in out:
        if r.query_id == 2:
            assert r.neighbor_id < 20, r
        else:
            assert r.neighbor_id >= 20, r


# ---------------------------------------------------------------------------
# z-ordered write
# ---------------------------------------------------------------------------


def test_zorder_value_interleaves_bits(spark):
    from mapreducemovieanalysis_cloud_spark.sources.writers import zorder_value

    df = spark.createDataFrame([(3, 5)], ["x", "y"])
    # x=0b011, y=0b101 -> z interleaves x at even, y at odd positions:
    # bits (y2 x2 y1 x1 y0 x0) = 1 0 0 1 1 1 = 0b100111 = 39
    z = df.select(
        zorder_value([F.col("x"), F.col("y")], bits=3).alias("z")
    ).first().z
    assert z == 39


def test_write_zordered_prunes_on_both_dims(spark, sf_dir, tmp_path):
    """A box predicate must overlap only a strict subset of files on EACH
    dimension's footer stats — linear sort can only deliver that for its
    leading column."""
    import glob

    import pyarrow.parquet as pq_

    from mapreducemovieanalysis_cloud_spark.sources.writers import (
        write_zordered,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    out = str(tmp_path / "zorders")
    write_zordered(
        orders, out, zorder_cols=("o_custkey", "o_totalprice"), num_files=8
    )
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 8

    def file_ranges(col):
        rngs = []
        for f in files:
            md = pq_.ParquetFile(f).metadata
            idx = next(
                i
                for i in range(len(md.schema))
                if md.schema.column(i).name == col
            )
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            rngs.append((min(mins), max(maxs)))
        return rngs

    ck = file_ranges("o_custkey")
    tp = file_ranges("o_totalprice")
    ck_lo = min(lo for lo, _ in ck)
    ck_hi = max(hi for _, hi in ck)
    tp_lo = min(lo for lo, _ in tp)
    tp_hi = max(hi for _, hi in tp)
    # box = lower quarter of each dimension
    ck_cut = ck_lo + (ck_hi - ck_lo) / 4
    tp_cut = tp_lo + (tp_hi - tp_lo) / 4
    surviving = [
        i
        for i in range(len(files))
        if ck[i][0] <= ck_cut and tp[i][0] <= tp_cut
    ]
    assert len(surviving) < len(files), (ck, tp)
    # and the z-ordered copy still answers the box query exactly
    got = (
        spark.read.parquet(out)
        .where((F.col("o_custkey") <= ck_cut) & (F.col("o_totalprice") <= tp_cut))
        .count()
    )
    want = orders.where(
        (F.col("o_custkey") <= ck_cut) & (F.col("o_totalprice") <= tp_cut)
    ).count()
    assert got == want > 0


def test_zorder_read_path_pushes_box_and_can_skip_row_groups(
    spark, sf_dir, tmp_path, monkeypatch
):
    """READ-side proof for the z-ordered layout (the write-side test above
    pins the footer stats): the registered query's scan must push BOTH box
    predicates into the parquet reader (``PushedFilters`` — that is what
    row-group pruning keys on), and the layout's row-group stats must rule
    out a strict majority of row groups for the box, so the pushed filters
    actually have something to skip."""
    import glob

    import pyarrow.parquet as pq_

    from mapreducemovieanalysis_cloud_spark.queries import round4_queries as r4

    monkeypatch.setattr(
        r4, "zordered_orders_path", lambda _sf: str(tmp_path / "zo")
    )
    df = r4.zorder_pruned_scan(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters:", 1)[1].split("\n", 1)[0]
    assert "o_custkey" in pushed and "o_totalprice" in pushed, pushed

    total, match = 0, 0
    for f in glob.glob(str(tmp_path / "zo" / "part-*.parquet")):
        md = pq_.ParquetFile(f).metadata
        cols = {md.schema.column(i).name: i for i in range(len(md.schema))}
        for rg in range(md.num_row_groups):
            total += 1
            ck = md.row_group(rg).column(cols["o_custkey"]).statistics
            tp = md.row_group(rg).column(cols["o_totalprice"]).statistics
            if ck.min <= r4._ZBOX_CUSTKEY and tp.min < r4._ZBOX_PRICE:
                match += 1
    assert total >= 8 and match < total / 2, (match, total)

    want = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_custkey") <= r4._ZBOX_CUSTKEY)
            & (F.col("o_totalprice") < r4._ZBOX_PRICE)
        )
        .count()
    )
    assert df.count() == want > 0


# ---------------------------------------------------------------------------
# triangles
# ---------------------------------------------------------------------------


def test_triangle_counts_known_graph(spark):
    from mapreducemovieanalysis_cloud_spark.operators import graph

    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant 4-5
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        ["u", "v"],
    )
    out = {r.node: r.n_triangles for r in graph.triangle_counts(edges).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_cooccurrence_edges_threshold(spark):
    from mapreducemovieanalysis_cloud_spark.operators import graph

    items = spark.createDataFrame(
        [("g1", 1), ("g1", 2), ("g2", 1), ("g2", 2), ("g3", 1), ("g3", 3),
         ("g1", 1)],  # duplicate membership must not double-count
        ["grp", "node"],
    )
    got = {
        (r.u, r.v)
        for r in graph.cooccurrence_edges(
            items, "grp", "node", min_shared=2
        ).collect()
    }
    assert got == {(1, 2)}  # 1-3 co-occur only once


# ---------------------------------------------------------------------------
# resample + funnel + outliers
# ---------------------------------------------------------------------------


def test_resample_locf_fills_gaps(spark):
    from mapreducemovieanalysis_cloud_spark.operators import timeseries

    rows = [
        (1, 1, _ts("2024-01-01 00:10:00"), 1.00),
        (1, 2, _ts("2024-01-01 00:50:00"), 2.00),  # later in same hour wins
        (1, 3, _ts("2024-01-01 03:20:00"), 5.00),  # hours 1,2 are gaps
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "event_id", "ts", "value"]
    )
    out = {
        r.hour: (r.n_events, r.value_cents)
        for r in timeseries.resample_hourly_locf(df).collect()
    }
    assert out == {
        "2024-01-01 00:00:00": (2, 200),
        "2024-01-01 01:00:00": (0, 200),  # carried forward
        "2024-01-01 02:00:00": (0, 200),
        "2024-01-01 03:00:00": (1, 500),
    }


def test_funnel_requires_strict_order(spark):
    from mapreducemovieanalysis_cloud_spark.operators import timeseries

    rows = [
        # user 1 completes the funnel in order
        (1, "view", _ts("2024-01-01 00:00:00")),
        (1, "click", _ts("2024-01-01 01:00:00")),
        (1, "purchase", _ts("2024-01-01 02:00:00")),
        # user 2 purchases BEFORE clicking -> reaches click, not purchase
        (2, "view", _ts("2024-01-01 00:00:00")),
        (2, "purchase", _ts("2024-01-01 00:30:00")),
        (2, "click", _ts("2024-01-01 01:00:00")),
        # user 3 never views -> in no stage
        (3, "click", _ts("2024-01-01 00:00:00")),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    out = {
        r.stage: r.n_users
        for r in timeseries.funnel_counts(
            df, ["view", "click", "purchase"]
        ).collect()
    }
    assert out == {"view": 2, "click": 2, "purchase": 1}


def test_integer_z_outliers_exact_gate(spark):
    # group: nine 100s and one 1000 -> the 1000 is far out; also check a
    # value exactly AT the threshold is NOT flagged (strict >)
    rows = [("a", i, 100) for i in range(9)] + [("a", 9, 1000)]
    df = spark.createDataFrame(rows, ["g", "id", "cents"])
    out = aggregates.integer_z_outliers(
        df, group_col="g", id_col="id", cents_col=F.col("cents"),
        z_num=2, z_den=1,
    ).collect()
    assert [(r.id, r.value_cents) for r in out] == [(9, 1000)]


# ---------------------------------------------------------------------------
# negative sampling / vocab tokenization / sequences
# ---------------------------------------------------------------------------


def test_negative_pairs_deterministic_and_self_free(spark):
    from mapreducemovieanalysis_cloud_spark.operators import curation

    docs = spark.range(0, 200).select(F.col("id").alias("doc_id"))
    a = curation.negative_pairs(docs, k=3).collect()
    b = curation.negative_pairs(docs, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    assert all(r.id_a != r.id_b for r in a)  # lead() can never self-pair
    per_doc = {}
    for r in a:
        per_doc.setdefault(r.id_a, []).append(r.neg_rank)
    # every doc emits at most k negatives, ranks are 1..j with no gaps
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_doc.values())
    assert max(len(v) for v in per_doc.values()) == 3


def test_negative_pairs_append_stability(spark):
    """Adding new docs must not change which negatives EXISTING pairs got
    from predecessors... (the md5 order of old ids is unchanged; new ids
    only insert new positions). Check pairs of old docs survive."""
    from mapreducemovieanalysis_cloud_spark.operators import curation

    old = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    both = spark.range(0, 150).select(F.col("id").alias("doc_id"))
    pairs_old = {
        (r.id_a, r.id_b) for r in curation.negative_pairs(old, k=1).collect()
    }
    pairs_both = {
        (r.id_a, r.id_b)
        for r in curation.negative_pairs(both, k=1).collect()
    }
    # at k=1 a pair (a -> successor) changes only if a new id lands between
    # them in md5 order; most old pairs must survive an append
    assert len(pairs_old & pairs_both) > len(pairs_old) * 0.5


def test_tokenize_with_vocab_roundtrip(spark):
    from mapreducemovieanalysis_cloud_spark.operators import curation

    docs = spark.createDataFrame(
        [(0, "a b a c"), (1, "b b zzz")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in curation.tokenize_with_vocab(
        docs, vocab_size=3
    ).collect()}
    # freq: b=3, a=2, c=1 -> ids b=0, a=1, c=2; zzz is OOV
    assert out[0].ids_csv == "1,0,1,2"
    assert (out[0].n_tokens, out[0].n_oov) == (4, 0)
    assert out[1].ids_csv == "0,0,-1"
    assert (out[1].n_tokens, out[1].n_oov) == (3, 1)


def test_user_event_sequences_order(spark):
    from mapreducemovieanalysis_cloud_spark.operators import timeseries

    rows = [
        (1, 2, _ts("2024-01-01 01:00:00"), "click"),
        (1, 1, _ts("2024-01-01 00:00:00"), "view"),
        # same ts -> event_id tie-break decides order
        (1, 4, _ts("2024-01-01 02:00:00"), "purchase"),
        (1, 3, _ts("2024-01-01 02:00:00"), "view"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "event_type"])
    r = timeseries.user_event_sequences(df).first()
    assert r.seq == "view>click>view>purchase"
    assert r.n_events == 4
    assert r.first_ts == "2024-01-01 00:00:00"
    assert r.last_ts == "2024-01-01 02:00:00"


# ---------------------------------------------------------------------------
# mapInArrow
# ---------------------------------------------------------------------------


def test_arrow_norms_match_jvm_expression(spark, sf_dir):
    """The numpy kernel must agree bit-for-bit with the pure-JVM
    formulation (same quantization, same IEEE sqrt)."""
    from mapreducemovieanalysis_cloud_spark.functions.vector import (
        qnorm2,
        quantize,
    )
    from mapreducemovieanalysis_cloud_spark.operators import arrowops

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        r.vec_id: r.l2_micro
        for r in arrowops.embedding_norms_arrow(emb).collect()
    }
    want = {
        r.vec_id: r.l2
        for r in emb.select(
            "vec_id",
            F.round(F.sqrt(qnorm2(quantize("embedding")).cast("double")))
            .cast("long")
            .alias("l2"),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_arrow_norms_handles_empty_vectors(spark):
    from mapreducemovieanalysis_cloud_spark.operators import arrowops

    emb = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r.l2_micro for r in
           arrowops.embedding_norms_arrow(emb).collect()}
    assert out == {1: 5_000_000, 2: 0}


# ---------------------------------------------------------------------------
# equidepth_histogram / grouped_linreg
# ---------------------------------------------------------------------------


def test_equidepth_histogram_buckets_balanced(spark):
    from mapreducemovieanalysis_cloud_spark.operators import aggregates as ag

    # 0..999 cents, 10 buckets -> each bucket should hold ~100 rows and
    # partition the value range without gaps or overlap
    df = spark.range(1000).select(F.col("id").alias("v"))
    out = sorted(
        ag.equidepth_histogram(df, F.col("v"), n_buckets=10).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in out] == list(range(10))
    assert sum(r.n_rows for r in out) == 1000
    for r in out:
        assert 50 <= r.n_rows <= 150  # near-equi-depth on uniform data
    for lo, hi in zip(out, out[1:]):
        assert lo.max_cents < hi.min_cents  # disjoint, ordered ranges
    assert sum(r.sum_cents for r in out) == 999 * 1000 // 2


def test_grouped_linreg_exact_line(spark):
    from mapreducemovieanalysis_cloud_spark.operators import aggregates as ag

    # group 1: y = 250x + 1000 exactly; group 2: constant x -> dropped;
    # group 3: single point -> dropped
    rows = [(1, x, 250 * x + 1000) for x in range(5)]
    rows += [(2, 7, 10), (2, 7, 20), (3, 0, 5)]
    df = spark.createDataFrame(rows, "g long, x long, y long")
    out = {r.g: r for r in ag.grouped_linreg(
        df, "g", F.col("x"), F.col("y")
    ).collect()}
    assert set(out) == {1}
    assert out[1].n == 5
    assert out[1].slope_micro == 250_000_000
    assert out[1].intercept_cents == 1000


def test_ivf_pq_matches_oracle(spark, sf_dir, oracle_sf_dir):
    from mapreducemovieanalysis_cloud_spark import registry
    from tests.oracle import assert_matches_oracle

    q = registry.queries()["ann_ivf_pq"]
    sql = registry.oracle_sql()["ann_ivf_pq"]
    for d in (sf_dir, oracle_sf_dir):
        assert_matches_oracle(q(spark, d), sql, d)


def test_ivf_pq_recovers_cluster_structure(spark):
    """Two well-separated clusters: the coarse IVF stage must route each
    query into its own cluster's cells, and PQ ADC must rank within it —
    neighbors of a cluster-A query all come from cluster A."""
    import random

    from mapreducemovieanalysis_cloud_spark.operators import pq as pqm

    rng = random.Random(7)
    a = [[1.0 + rng.uniform(-0.05, 0.05) for _ in range(8)] for _ in range(20)]
    b = [[-1.0 + rng.uniform(-0.05, 0.05) for _ in range(8)] for _ in range(20)]
    emb = _mk_emb(spark, a + b)  # ids 0..19 cluster A, 20..39 cluster B
    queries = emb.where("vec_id IN (2, 25)").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    out = pqm.ann_ivf_pq_topk(
        emb, queries, topk=5, n_centroids=4, nprobe=2, m=2, k=4, iters=2,
        dim=8,
    ).collect()
    assert {r.query_id for r in out} == {2, 25}
    for r in out:
        if r.query_id == 2:
            assert r.neighbor_id < 20, r
        else:
            assert r.neighbor_id >= 20, r


def test_ivf_pq_scans_fewer_candidates_than_pq(spark, sf_dir):
    """The IVF stage must strictly shrink the ADC candidate set (that is
    its entire point): per query, candidates scored by IVF-PQ < corpus."""
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        _assign,
    )
    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        _ivf_codebook,
        _with_qv,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where("vec_id < 5").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    # candidate count per query = corpus rows in probed cells
    cells = _ivf_codebook(emb.where("vec_id < 8"), "vec_id", "embedding")
    cassign = _assign(
        _with_qv(emb, "vec_id", "embedding", "nid"), cells, "qv_nid"
    ).select("nid", "cell")
    qassign = _assign(
        _with_qv(queries, "query_id", "embedding", "query_id"), cells,
        "qv_query_id", 2,
    ).select("query_id", "cell")
    n_corpus = emb.count()
    per_q = (
        cassign.join(qassign, "cell")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_cand"))
        .collect()
    )
    assert len(per_q) == 5
    assert all(r.n_cand < n_corpus for r in per_q)
