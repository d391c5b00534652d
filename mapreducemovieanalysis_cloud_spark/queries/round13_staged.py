"""Round-13 query wave, built in round 10 and registered through
``registry.query`` in round 13 per the committed window plan (the
round-10/12 ledgers).  ``tests/test_round13_staged.py`` runs the
driver-identical Spark-vs-DuckDB parity plus behavioral pins.

What the wave adds (three threads the repo's forward plan left open):

* The ADDITIVE-sketch store tier, completing the mergeable-store
  algebra (FM masks OR-merge — round 12; pair counts ADD — round 11):
  - ``incremental_cms_hitters`` — heavy hitters served from a stored
    count-min sketch + per-batch candidate keys; merged cells equal a
    rebuild EXACTLY (counts add), so "hot keys to date" never rescans
    history.  ``streaming/cms.py`` is the foreachBatch appender twin.
  - ``incremental_hist_percentiles`` — bin-resolution percentiles from
    a stored fixed-bin histogram (the quantile twin of the FM store:
    exact percentiles need a corpus sort; the store answers from
    O(bins) longs maintained O(batch)).
* The retrieval read-path's missing FUSION tier:
  - ``hybrid_search_rrf`` — reciprocal-rank fusion of the registered
    BM25 lexical ranking and the registered exact-cosine ANN ranking,
    integer 1e6 div (60+rank) arithmetic end to end — how a curation
    pipeline actually mines "documents like this seed" (lexical OR
    semantic hit, rank-fused, no score normalization).
* Graph + training-data staples the existing families point at:
  - ``hits_trade_authority`` — 2-iteration unnormalized HITS
    hubs/authorities over the directed customer->supplier graph
    (exact integer scores; the directed complement of PageRank).
  - ``ktruss_suppliers`` — fixed-round k-truss pruning (k=4) of the
    supplier co-occurrence graph: the cohesion tier between the
    registered triangle counts and k-core.
  - ``skipgram_pair_topk`` — GloVe-style windowed co-occurrence
    pair counts with 1/d micro weights, the embedding-trainer input.
  - ``preference_pairs_by_source`` — deterministic (chosen, rejected)
    DPO-style pairs per source from the distinct-ratio quality score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
    _COSINE,
    _QUANT,
)
from mapreducemovieanalysis_cloud_spark.registry import query
from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

# ---- hybrid lexical+semantic retrieval via reciprocal-rank fusion -----------

# the registered bm25_rank query's terms — measured scheme == shipped
# scheme, as with every calibration/fusion query
_RRF_TERMS = ["join", "vector", "stream"]
_RRF_LIST_K = 50
_RRF_TOPK = 20
_RRF_QUERY_VEC = 0  # doc_id == vec_id by corpus construction (TESTDATA.md)


def _rrf_oracle() -> str:
    from mapreducemovieanalysis_cloud_spark.operators.ranking import (
        RRF_K,
        bm25_oracle_sql,
    )

    bm = bm25_oracle_sql(_RRF_TERMS, topk=_RRF_LIST_K)
    return f"""
    WITH bmr AS (SELECT doc_id,
                        ROW_NUMBER() OVER (ORDER BY bm25_micro DESC,
                                           doc_id ASC) AS rank
                 FROM ({bm})),
    q AS (SELECT vec_id AS query_id, {_QUANT.format(v='embedding')} AS qa
          FROM embeddings WHERE vec_id = {_RRF_QUERY_VEC}),
    c AS (SELECT vec_id AS neighbor_id, {_QUANT.format(v='embedding')} AS qb
          FROM embeddings),
    sc AS (SELECT neighbor_id, {_COSINE} AS cosine
           FROM q, c WHERE neighbor_id <> query_id),
    cr AS (SELECT neighbor_id AS doc_id, rank FROM (
             SELECT neighbor_id,
                    ROW_NUMBER() OVER (ORDER BY cosine DESC,
                                       neighbor_id ASC) AS rank
             FROM sc)
           WHERE rank <= {_RRF_LIST_K}),
    u AS (SELECT doc_id, 1000000 // ({RRF_K} + rank) AS p FROM bmr
          UNION ALL
          SELECT doc_id, 1000000 // ({RRF_K} + rank) AS p FROM cr)
    SELECT doc_id, CAST(SUM(p) AS BIGINT) AS rrf_micro,
           COUNT(*) AS n_lists
    FROM u GROUP BY doc_id
    ORDER BY rrf_micro DESC, doc_id ASC LIMIT {_RRF_TOPK}
    """


@query("hybrid_search_rrf", oracle=_rrf_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the two registered retrieval paths:
    the BM25 lexical top-50 (ranking.bm25_scores, the bm25_rank terms
    verbatim) and the exact-cosine semantic top-50 for query vector 0
    (similarity.brute_force_topk, the ann_bruteforce kernel) — fused
    by integer RRF (1e6 div (60 + rank), ranks already deterministic
    on both sides), top-20 by (rrf_micro desc, doc_id asc).

    Why RRF and not score interpolation: BM25 micro-units and cosine
    live on incomparable scales; rank fusion needs no normalization
    constant and is therefore engine-exact.  doc_id == vec_id by
    corpus construction.

    Scale: both input rankings are top-k bounded before the fusion
    union (O(2k) rows); the BM25 side is one corpus scan, the cosine
    side one corpus scan against a broadcast 1-vector query — the
    production shape swaps the brute-force leg for the stored IVF/PQ
    probe, fusing the SAME (id, rank) contract."""
    from mapreducemovieanalysis_cloud_spark.operators import (
        ranking,
        similarity,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bm = ranking.bm25_scores(docs, _RRF_TERMS, topk=_RRF_LIST_K)
    bm_ranked = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_micro").desc(), F.col("doc_id")))
        .alias("rank"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    cos = similarity.brute_force_topk(
        emb,
        emb.where(F.col("vec_id") == _RRF_QUERY_VEC).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=_RRF_LIST_K,
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return ranking.rrf_fuse([bm_ranked, cos], topk=_RRF_TOPK)


# ---- stored count-min sketch: heavy hitters without rescans -----------------

_CMS_CAND_M = 20
_CMS_TOPK = 10


def _inc_cms_oracle() -> str:
    # depth/width derive from the operator's own constants (the ANF
    # FM_BIT_CAP precedent): a CMS_DEPTH/CMS_WIDTH change moves the
    # Spark side and this oracle together, never silently apart.
    from mapreducemovieanalysis_cloud_spark.operators.sketches import (
        CMS_DEPTH as depth,
        CMS_WIDTH as width,
    )

    def bucket(i: int, key: str = "user_id") -> str:
        return (
            f"CAST(('0x' || substr(md5('{i}:' || CAST({key} AS VARCHAR)), 1, 4))"
            f" AS INTEGER) % {width}"
        )

    cells = "\n      UNION ALL ".join(
        f"SELECT {i} AS row_idx, {bucket(i)} AS bucket FROM events"
        for i in range(depth)
    )
    probes = "\n      UNION ALL ".join(
        f"SELECT user_id, {i} AS row_idx, {bucket(i)} AS bucket FROM cand"
        for i in range(depth)
    )
    return f"""
    WITH bc AS (SELECT event_id % 2 AS b, user_id, COUNT(*) AS n
                FROM events GROUP BY 1, 2),
    cand AS (SELECT DISTINCT user_id FROM (
               SELECT user_id,
                      ROW_NUMBER() OVER (PARTITION BY b
                                         ORDER BY n DESC, user_id ASC) AS r
               FROM bc)
             WHERE r <= {_CMS_CAND_M}),
    cells AS ({cells}),
    cms AS (SELECT row_idx, bucket, COUNT(*) AS cell_count
            FROM cells GROUP BY 1, 2),
    probes AS ({probes}),
    est AS (SELECT p.user_id, CAST(MIN(c.cell_count) AS BIGINT) AS est_count
            FROM probes p JOIN cms c
              ON c.row_idx = p.row_idx AND c.bucket = p.bucket
            GROUP BY 1)
    SELECT user_id, est_count FROM est
    ORDER BY est_count DESC, user_id ASC LIMIT {_CMS_TOPK}
    """


@query("incremental_cms_hitters", oracle=_inc_cms_oracle())
def incremental_cms_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter users served from the INCREMENTALLY maintained
    count-min store (operators/sketches.incremental_cms_append): two
    batches (event_id parity) append their d=3 x w=64 cells — which
    ADD, so the merged sketch equals a full-stream rebuild EXACTLY,
    the md5-bucket construction being the registered cms_heavy_hitters
    one verbatim — plus their top-20 candidate keys; the consumer
    probes the merged sketch over the candidate union and returns the
    top-10 by (estimate desc, user asc).  The oracle replays the
    batch-split candidate rule and sketches the full stream (cell
    addition makes the two equivalent by construction).

    vs the registered cms_heavy_hitters: that query RE-SKETCHES the
    stream per ask and joins exact counts (a full groupBy); this one
    answers from depth x width + |candidates| stored longs — at 100 TB
    the difference between a daily O(batch) append and a daily corpus
    rescan.  Row-level batch splits are safe (counts add per row).

    Store cache: fingerprint+version-keyed via operators/storecache
    (atomic publish, stale-build sweep)."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches
    from mapreducemovieanalysis_cloud_spark.operators.storecache import (
        cached_store,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")

    def _build(build: str) -> None:
        sketches.incremental_cms_append(
            ev.where(F.col("event_id") % 2 == 0), build, "b0",
            "user_id", cand_m=_CMS_CAND_M,
        )
        sketches.incremental_cms_append(
            ev.where(F.col("event_id") % 2 == 1), build, "b1",
            "user_id", cand_m=_CMS_CAND_M,
        )

    store = cached_store(
        sf_dir,
        "spark_graft_cms_inc",
        sketches.CMS_STORE_VERSION,
        "events",
        _build,
    )
    return sketches.incremental_cms_topk(
        spark, store, "user_id", k=_CMS_TOPK
    )


# ---- stored fixed-bin histogram: percentiles without sorts ------------------

_HIST_BIN_CENTS = 1_000_000  # $10k bins over o_totalprice
_HIST_QS = (50, 90, 99)


def _inc_hist_oracle() -> str:
    q_cols = ",\n           ".join(
        f"CAST(MIN(CASE WHEN cum * 100 >= total * {q}"
        f" THEN bin * {_HIST_BIN_CENTS} END) AS BIGINT) AS p{q}_lo_cents"
        for q in _HIST_QS
    )
    return f"""
    WITH b AS (SELECT o_orderpriority,
                      CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        // {_HIST_BIN_CENTS} AS bin
               FROM orders),
    hb AS (SELECT o_orderpriority, bin, COUNT(*) AS n FROM b GROUP BY 1, 2),
    c AS (SELECT o_orderpriority, bin,
                 SUM(n) OVER (PARTITION BY o_orderpriority ORDER BY bin
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(n) OVER (PARTITION BY o_orderpriority) AS total
          FROM hb)
    SELECT o_orderpriority,
           CAST(MAX(total) AS BIGINT) AS n_rows,
           {q_cols}
    FROM c GROUP BY o_orderpriority
    """


@query("incremental_hist_percentiles", oracle=_inc_hist_oracle())
def incremental_hist_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-priority order-value percentiles (p50/p90/p99 at $10k-bin
    resolution) served from the INCREMENTALLY maintained histogram
    store (operators/sketches.incremental_hist_append): two batches
    (orderkey parity) append (group, bin, count) partials; counts ADD,
    so the merged histogram equals a full rebuild exactly and the
    oracle can sketch the unsplit table.  The percentile is the lower
    bound of the first bin where 100 x cumulative >= q x total —
    integer arithmetic end to end.

    This is the quantile member of the mergeable-store algebra (FM
    OR-merge distinct counts, CMS ADD-merge frequencies): exact
    percentiles need a per-group sort over all history; the store
    answers at bin resolution from O(occupied bins) longs maintained
    O(batch) — the percentile_approx posture, but with state that is
    storable, mergeable, and engine-exact."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches
    from mapreducemovieanalysis_cloud_spark.operators.storecache import (
        cached_store,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )

    def _build(build: str) -> None:
        sketches.incremental_hist_append(
            orders.where(F.col("o_orderkey") % 2 == 0), build, "b0",
            "o_orderpriority", "cents", _HIST_BIN_CENTS,
        )
        sketches.incremental_hist_append(
            orders.where(F.col("o_orderkey") % 2 == 1), build, "b1",
            "o_orderpriority", "cents", _HIST_BIN_CENTS,
        )

    store = cached_store(
        sf_dir,
        "spark_graft_hist_inc",
        sketches.HIST_STORE_VERSION,
        "orders",
        _build,
    )
    return sketches.hist_percentiles(
        spark, store, "o_orderpriority", _HIST_BIN_CENTS, _HIST_QS
    )


# ---- HITS hubs/authorities over the directed trade graph --------------------

_HITS_TOPK = 25

_HITS_ORACLE = f"""
    WITH e AS (SELECT DISTINCT
                 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                 's' || CAST(l.l_suppkey AS VARCHAR) AS dst
               FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    a1 AS (SELECT dst, COUNT(*) AS a1 FROM e GROUP BY 1),
    h1 AS (SELECT src, CAST(SUM(a1) AS BIGINT) AS h1
           FROM e JOIN a1 USING (dst) GROUP BY 1),
    a2 AS (SELECT dst, CAST(SUM(h1) AS BIGINT) AS a2
           FROM e JOIN h1 USING (src) GROUP BY 1),
    h2 AS (SELECT src, CAST(SUM(a2) AS BIGINT) AS h2
           FROM e JOIN a2 USING (dst) GROUP BY 1),
    hubs AS (SELECT src AS node, 'hub' AS kind, h2 AS score FROM h2
             ORDER BY h2 DESC, src ASC LIMIT {_HITS_TOPK}),
    auths AS (SELECT dst AS node, 'authority' AS kind, a2 AS score FROM a2
              ORDER BY a2 DESC, dst ASC LIMIT {_HITS_TOPK})
    SELECT node, kind, score FROM hubs
    UNION ALL
    SELECT node, kind, score FROM auths
    """


@query("hits_trade_authority", oracle=_HITS_ORACLE)
def hits_trade_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unnormalized HITS iterations over the DIRECTED
    customer->supplier purchase graph (lineitem joined to orders,
    distinct pairs; the pagerank_trade_graph derivation minus the
    bidirectional union): top-25 hub customers and top-25 authority
    suppliers with exact integer scores — hub(c) = how much
    well-bought supply c buys, authority(s) = how much well-buying
    demand s serves.  No normalization constant means no float to
    round: every score is a sum of counts (operators/graph.hits_scores
    docstring for the iteration algebra).

    Scale: each half-iteration is one groupBy over the edge list —
    the PageRank shuffle shape without the degree division."""
    from mapreducemovieanalysis_cloud_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    # no .distinct() here: hits_scores dedups its edge input itself
    # (select(src, dst).distinct()) — a query-side distinct would pay
    # the corpus-sized dedup shuffle twice for an identical result
    edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
            "src"
        ),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
            "dst"
        ),
    )
    return graph.hits_scores(edges, topk=_HITS_TOPK)


# ---- fixed-round k-truss over the supplier co-occurrence graph --------------

_KTRUSS_K = 4

# identical edge definition to the registered triangle_counts_suppliers
# oracle — min_shared=20 co-orders
_KTRUSS_EDGES_CTE = """
    li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    pr AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS shared
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                               AND a.l_suppkey < b.l_suppkey
           GROUP BY 1, 2),
    e0 AS (SELECT u, v FROM pr WHERE shared >= 20)
    """


def _truss_round(src: str, out_adj: str, out_sup: str) -> str:
    """One k-truss round in SQL: adjacency of the survivor set, then
    per-edge common-neighbor support."""
    return f"""{out_adj} AS (SELECT u AS node, v AS nbr FROM {src}
            UNION ALL SELECT v, u FROM {src}),
    {out_sup} AS (SELECT e.u, e.v, COUNT(*) AS support
            FROM {src} e
            JOIN {out_adj} a ON a.node = e.u
            JOIN {out_adj} b ON b.node = e.v AND b.nbr = a.nbr
            GROUP BY 1, 2)"""


_KTRUSS_ORACLE = f"""
    WITH {_KTRUSS_EDGES_CTE},
    {_truss_round("e0", "adj0", "sup0")},
    e1 AS (SELECT u, v FROM sup0 WHERE support >= {_KTRUSS_K - 2}),
    {_truss_round("e1", "adj1", "sup1")}
    SELECT u, v, CAST(support AS BIGINT) AS support
    FROM sup1 WHERE support >= {_KTRUSS_K - 2}
    """


@query("ktruss_suppliers", oracle=_KTRUSS_ORACLE)
def ktruss_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss edges of the supplier co-occurrence graph (min_shared=20
    co-orders, the registered triangle/k-core graph): two fixed
    support-prune rounds keep only edges participating in >= 2
    triangles among survivors — the cohesion tier BETWEEN triangle
    counts (per-node) and k-core (degree-based): a k-core can be a
    star hub with zero triangles; a k-truss edge is embedded in
    actual mutual structure.  Fixed rounds keep the result a pure
    function of the input (operators/graph.ktruss_edges docstring).

    Scale: per round one wedge join over the shrinking survivor set —
    the triangle-counting cost the registered query already pays,
    paid ``rounds`` times on monotonically less data."""
    from mapreducemovieanalysis_cloud_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li, group_col="l_orderkey", node_col="l_suppkey", min_shared=20
    )
    return graph.ktruss_edges(edges, k=_KTRUSS_K, rounds=2)


# ---- GloVe-style windowed co-occurrence pairs --------------------------------

_SKIP_WINDOW = 2
_SKIP_TOPK = 40


def _skipgram_oracle() -> str:
    legs = "\n      UNION ALL ".join(
        f"""SELECT least(a.tok, b.tok) AS t1, greatest(a.tok, b.tok) AS t2,
                 {1_000_000 // d} AS w
          FROM tok a JOIN tok b
            ON a.doc_id = b.doc_id AND b.i = a.i + {d}"""
        for d in range(1, _SKIP_WINDOW + 1)
    )
    return rf"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    tok AS (SELECT doc_id, i, t[i] AS tok
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
                  FROM toks)),
    legs AS ({legs})
    SELECT t1, t2, CAST(SUM(w) AS BIGINT) AS weight_micro,
           COUNT(*) AS n_pairs
    FROM legs GROUP BY 1, 2
    ORDER BY weight_micro DESC, t1 ASC, t2 ASC LIMIT {_SKIP_TOPK}
    """


@query("skipgram_pair_topk", oracle=_skipgram_oracle())
def skipgram_pair_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 windowed token co-occurrence pairs (window +-2, classic
    1/d distance weight in integer micro units) — the GloVe/word2vec
    co-occurrence matrix head, the input every embedding trainer
    consumes (operators/curation.skipgram_pair_counts).  Pairs are
    unordered-canonical (least, greatest), weight 1e6 div d, ranked
    (weight desc, t1, t2).

    Scale: positions self-join on (doc, pos + d) per fixed d — cost is
    window x corpus tokens, never quadratic in document length, and
    the pair aggregate combines map-side."""
    from mapreducemovieanalysis_cloud_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return curation.skipgram_pair_counts(
        docs, window=_SKIP_WINDOW, topk=_SKIP_TOPK
    )


# ---- deterministic preference pairs (DPO training-data shape) ----------------

_PREF_PER_SOURCE = 5


def _pref_oracle() -> str:
    return rf"""
    WITH toks AS (SELECT source, doc_id,
                         string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    sc AS (SELECT source, doc_id,
                  CAST(len(list_distinct(t)) AS BIGINT) * 1000000 // len(t)
                    AS s
           FROM toks),
    r AS (SELECT source, doc_id, s,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY s DESC, doc_id ASC) AS rb,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY s ASC, doc_id DESC) AS rw,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM sc),
    best AS (SELECT source, rb AS pair_idx, doc_id AS chosen_doc, s AS cs
             FROM r WHERE rb <= {_PREF_PER_SOURCE} AND rb * 2 <= n),
    worst AS (SELECT source, rw AS pair_idx, doc_id AS rejected_doc, s AS rs
              FROM r WHERE rw <= {_PREF_PER_SOURCE} AND rw * 2 <= n)
    SELECT source, CAST(pair_idx AS INT) AS pair_idx, chosen_doc,
           rejected_doc, CAST(cs - rs AS BIGINT) AS margin_micro
    FROM best JOIN worst USING (source, pair_idx)
    """


@query("preference_pairs_by_source", oracle=_pref_oracle())
def preference_pairs_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic DPO/RLHF-style preference pairs per source: pair
    i matches the i-th BEST document by distinct-token-ratio micro
    score with the i-th WORST (mirror-ordered windows, exact-integer
    score, i <= min(5, n div 2) so the sides never overlap);
    margin_micro = chosen - rejected is the pair's confidence weight
    (operators/curation.preference_pairs).

    This completes the training-objective dataset trio (masked-LM
    round 12, span-corruption round 12, preference pairs here): all
    three are pure functions of the corpus the oracle replays
    draw-for-draw.

    Scale: one tokenize pass, two per-source rank windows, one
    per-(source, i) join — window state is per-source counters."""
    from mapreducemovieanalysis_cloud_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    return curation.preference_pairs(docs, per_source=_PREF_PER_SOURCE)
