"""Round-14 query wave, registered through ``registry.query``.

Built while the round-11/12/13 driver windows were fully committed
(each registered its own wave + the stalest rotation rows, count pins
263 -> 270 -> 277).  ``tests/test_round14_staged.py`` runs the
driver-identical Spark-vs-DuckDB parity plus planted behavioral
fixtures and independent python brute-force replays.

What the wave adds (new capabilities, not variants — the round-10
ledger's round-14 shortlist, executed):

* ``incremental_directed_edges`` — the DIRECTED customer->supplier
  edge-count store: SCALE.md's round-10 probe table shows the 41 MB
  lineitem⋈orders edge derivation DOMINATING ``hits_trade_authority``
  (2.9x wall, 15.6x shuffle at 10x) — exactly the cost the round-11
  undirected pair-count store removed for the triangle family.  Counts
  of linking orders merge by ADDITION (an ingest day closes its
  orders), so the merged edge list equals a full rebuild exactly.
* ``stored_hits_authority`` — HITS served from that store: the
  consumer-tested-store proof (the ``stored_graph_triangles``
  pattern), against the round-13 HITS oracle VERBATIM — the store is
  only worth shipping if the registered algorithm answers identically
  from it.
* ``pagerank_weighted_stored`` — weighted PageRank over the round-11
  undirected pair-count store, shared-order counts as edge weights:
  the rank now follows trade VOLUME, not mere adjacency (a supplier
  co-occurring 100x outweighs one co-occurring 20x), in the same
  quantized-integer recurrence as the registered
  ``pagerank_trade_graph``.
* ``components_stored_edges`` — connected components served from the
  stored edge list via the O(log n)-round large-star/small-star
  kernel: the supplier-graph partition map (which trade communities
  exist at min_shared=20) with zero fact-table rescans.
* ``zipf_slope_tokens`` — the fitted Zipf exponent per source
  (integer-moment least squares on micro-quantized log-rank /
  log-freq over the top-100 head): the corpus-health SCALAR the
  registered ``token_head_mass`` permille summary points at — a
  steeper slope is templated/boilerplate, a flatter one diverse.
* ``session_funnel_steps`` — the ordered view->click->purchase funnel
  WITHIN a 30-minute-gap session: the registered ``funnel_conversion``
  counts users who ever converted; this counts SESSIONS that convert
  in one visit — the product question (does a visit convert?) the
  events tier couldn't answer.
* ``session_transition_matrix`` — first-order Markov transitions over
  consecutive SAME-SESSION events (n + permille rows per type pair):
  the registered ``event_transition_matrix`` chains a user's whole
  history, so yesterday's last event "transitions" into today's first;
  the session boundary break makes it the within-visit next-action
  prior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark.queries.round13_staged import (
    _HITS_ORACLE,
)
from mapreducemovieanalysis_cloud_spark.registry import query
from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

# ---- incremental DIRECTED customer->supplier edge store ----------------------

_DIR_MIN_ORDERS = 2

_DIR_EDGES_ORACLE = f"""
    WITH e AS (SELECT DISTINCT l.l_orderkey, o.o_custkey AS custkey,
                      l.l_suppkey AS suppkey
               FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT custkey, suppkey, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM e GROUP BY 1, 2 HAVING COUNT(*) >= {_DIR_MIN_ORDERS}
    """


def directed_store_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-absent the DIRECTED customer->supplier edge-count store
    for ``sf_dir`` and return its path — shared by every stored-graph
    consumer of the directed tier (incremental_directed_edges here,
    stored_hits_authority below), so they all read ONE store per
    corpus.  Protocol identical to round11_staged.cooc_store_path
    (atomic publish, stale-on-code-change via the version key, orphan
    sweep); fingerprint keys on lineitem — the driver regenerates the
    TPC-H tables together, so a lineitem fingerprint change implies an
    orders change."""
    from mapreducemovieanalysis_cloud_spark.operators import graph
    from mapreducemovieanalysis_cloud_spark.operators.storecache import (
        cached_store,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    items = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_orderkey").alias("okey"),
        F.col("o_custkey").alias("custkey"),
        F.col("l_suppkey").alias("suppkey"),
    )

    def _build(build: str) -> None:
        # parity on the ORDER key: an order's lineitems and its customer
        # link land wholly in one batch — the complete-groups contract
        graph.incremental_directed_append(
            items.where(F.col("okey") % 2 == 0), build, "b0",
            group_col="okey", src_col="custkey", dst_col="suppkey",
        )
        graph.incremental_directed_append(
            items.where(F.col("okey") % 2 == 1), build, "b1",
            group_col="okey", src_col="custkey", dst_col="suppkey",
        )

    return cached_store(
        sf_dir,
        "spark_graft_directed_inc",
        graph.DIRECTED_STORE_VERSION,
        "lineitem",
        _build,
    )


@query("incremental_directed_edges", oracle=_DIR_EDGES_ORACLE)
def incremental_directed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed customer->supplier edge list (who buys from whom,
    weighted by linking-order count) served from an INCREMENTALLY
    maintained edge-count store: the fact table arrives as two batches
    (l_orderkey parity — complete orders per batch), each appended at
    O(batch) cost (operators/graph.incremental_directed_append), and
    the edge list is the merged counts at n_orders >= {m}.  Because
    per-batch linking-order counts merge by ADDITION, the merged edges
    equal a full-corpus rebuild EXACTLY — the oracle is the
    full-rebuild derivation, no weaker tier.

    This is the directed complement of the registered
    ``incremental_graph_edges`` (round-11): the undirected store feeds
    the co-occurrence family (triangles, k-core, components); this one
    feeds the directed family (HITS, PageRank-over-purchases) — the
    derivation SCALE.md's probes show dominating hits_trade_authority
    becomes a store read.

    Scale: stored state is (custkey, suppkey, cnt) partials — bounded
    by distinct trading pairs, never order-line volume; the merge is
    one (src, dst)-keyed groupBy over batch-count rows; the threshold
    prunes before any traversal."""
    from mapreducemovieanalysis_cloud_spark.operators import graph

    return graph.incremental_directed_edges(
        spark, directed_store_path(spark, sf_dir),
        min_count=_DIR_MIN_ORDERS,
    ).select(
        F.col("src").alias("custkey"),
        F.col("dst").alias("suppkey"),
        F.col("n_groups").alias("n_orders"),
    )


incremental_directed_edges.__doc__ = incremental_directed_edges.__doc__.format(
    m=_DIR_MIN_ORDERS
)


# ---- HITS served from the directed store -------------------------------------

_HITS_TOPK = 25


# The oracle is the round-13 HITS oracle VERBATIM (byte-pinned by test):
# the stored edge list at min_count=1 is exactly the distinct
# lineitem⋈orders pair set, so HITS from the store must equal HITS from
# the inline derivation.
@query("stored_hits_authority", oracle=_HITS_ORACLE)
def stored_hits_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unnormalized HITS iterations served from the INCREMENTALLY
    maintained directed edge store (directed_store_path — one store per
    corpus, shared with incremental_directed_edges): the identical
    ``graph.hits_scores`` kernel the round-13 query runs, with only the
    edge SOURCE swapped from the 41 MB lineitem⋈orders derivation to a
    store read.  The oracle is the round-13 HITS oracle verbatim —
    merged counts equal the rebuild, so the hub/authority scores must
    too.

    This is the directed store's consumer proof (the
    stored_graph_triangles pattern): at 100 TB the win is that the
    edge derivation SCALE.md's probes show dominating
    hits_trade_authority (2.9x wall, 15.6x shuffle at 10x) is replaced
    by a read of edge-count partials an ingest day maintains at
    O(batch)."""
    from mapreducemovieanalysis_cloud_spark.operators import graph

    edges = graph.incremental_directed_edges(
        spark, directed_store_path(spark, sf_dir), min_count=1
    ).select(
        F.concat(F.lit("c"), F.col("src").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("dst").cast("string")).alias("dst"),
    )
    return graph.hits_scores(edges, topk=_HITS_TOPK)


# ---- weighted PageRank over the stored undirected pair counts ----------------

_PRW_MIN_SHARED = 20
_PRW_ITERS = 2
_PRW_DAMP = 85


def _pagerank_weighted_oracle(
    iters: int = _PRW_ITERS, damping_pct: int = _PRW_DAMP
) -> str:
    """Unrolled-CTE replay of the quantized-integer WEIGHTED recurrence
    (graph.pagerank_weighted docstring) over the full-rebuild edge
    derivation — the store equals the rebuild, so the oracle derives
    from the fact table like the registered incremental_graph_edges
    oracle does."""
    from mapreducemovieanalysis_cloud_spark.operators import graph

    base_num = (100 - damping_pct) * graph.SCALE
    ctes = [
        f"""
        li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        pr AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS shared
               FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                   AND a.l_suppkey < b.l_suppkey
               GROUP BY 1, 2),
        ed AS (SELECT u AS src, v AS dst, shared AS w FROM pr
               WHERE shared >= {_PRW_MIN_SHARED}
               UNION ALL
               SELECT v, u, shared FROM pr WHERE shared >= {_PRW_MIN_SHARED}),
        nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        ws AS (SELECT src, SUM(w) AS wsum FROM ed GROUP BY src),
        r0 AS (SELECT node, {graph.SCALE} // n AS rank FROM nodes, nn)
        """
    ]
    for i in range(1, iters + 1):
        ctes.append(
            """
        c{i} AS (SELECT e.dst AS node, SUM((r.rank * e.w) // s.wsum) AS contrib
                 FROM ed e JOIN ws s ON s.src = e.src
                 JOIN r{prev} r ON r.node = e.src GROUP BY e.dst),
        r{i} AS (SELECT nd.node,
                        {base} // (100 * n)
                          + ({d} * COALESCE(c.contrib, 0)) // 100 AS rank
                 FROM nodes nd CROSS JOIN nn
                 LEFT JOIN c{i} c ON c.node = nd.node)
            """.format(i=i, prev=i - 1, base=base_num, d=damping_pct)
        )
    return (
        "WITH {} SELECT node AS suppkey, CAST(rank AS BIGINT) AS rank "
        "FROM r{}".format(",".join(ctes), iters)
    )


@query("pagerank_weighted_stored", oracle=_pagerank_weighted_oracle())
def pagerank_weighted_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank ({it} quantized-integer iterations, d=0.{d})
    over the supplier co-occurrence graph served from the round-11
    pair-count store, shared-order counts as edge weights: rank flows
    proportionally to trade VOLUME (graph.pagerank_weighted — each
    out-edge carries rank·w div wsum), so a supplier co-occurring 100x
    outweighs one at the 20x threshold — the centrality the registered
    unweighted ``pagerank_trade_graph`` flattens.

    Store-consumer posture: the edge derivation (distinct + group-keyed
    self-join over the full fact table) is a store read of pair-count
    partials; the recurrence itself is one weight-sum aggregate plus
    one join + dst-keyed aggregate per iteration, every shuffle keyed
    on a node id."""
    from mapreducemovieanalysis_cloud_spark.operators import graph
    from mapreducemovieanalysis_cloud_spark.queries.round11_staged import (
        cooc_store_path,
    )

    edges = graph.incremental_cooccurrence_edges(
        spark, cooc_store_path(spark, sf_dir), min_shared=_PRW_MIN_SHARED
    )
    sym = edges.select("u", "v", "shared").unionAll(
        edges.select(
            F.col("v").alias("u"), F.col("u").alias("v"), "shared"
        )
    )
    ranks = graph.pagerank_weighted(
        sym.select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            F.col("shared").alias("w"),
        ),
        weight_col="w",
        iters=_PRW_ITERS,
        damping_pct=_PRW_DAMP,
    )
    return ranks.select(F.col("node").alias("suppkey"), "rank")


pagerank_weighted_stored.__doc__ = pagerank_weighted_stored.__doc__.format(
    it=_PRW_ITERS, d=_PRW_DAMP
)


# ---- connected components from the stored edge list --------------------------

_COMP_ORACLE = f"""
    WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_suppkey
                          FROM lineitem),
    pr AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS shared
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                               AND a.l_suppkey < b.l_suppkey
           GROUP BY 1, 2),
    ed AS (SELECT u, v FROM pr WHERE shared >= 20),
    sym AS (SELECT u AS a, v AS b FROM ed UNION ALL SELECT v, u FROM ed),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach(a, b) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
    )
    SELECT a AS suppkey, MIN(b) AS component FROM reach GROUP BY a
    """


@query("components_stored_edges", oracle=_COMP_ORACLE)
def components_stored_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the supplier co-occurrence graph served
    from the round-11 pair-count store: the trade-community partition
    map (component = min reachable suppkey) via the O(log n)-round
    large-star/small-star kernel (operators/clustering.star_components
    — the same kernel and the same recursive-transitive-closure oracle
    family as the registered dedup_clusters_star, on a different
    graph).  Nodes are the stored edge ENDPOINTS (min_shared=20):
    isolated suppliers aren't in the graph on either side.

    Store-consumer posture: zero fact-table rescans; contraction
    rounds are O(log n) regardless of diameter, every phase one
    grouped aggregate + one join on the (shrinking) edge list."""
    from mapreducemovieanalysis_cloud_spark.operators import graph
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        star_components,
    )
    from mapreducemovieanalysis_cloud_spark.queries.round11_staged import (
        cooc_store_path,
    )

    edges = graph.incremental_cooccurrence_edges(
        spark, cooc_store_path(spark, sf_dir), min_shared=20
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))
    nodes = (
        edges.select(F.col("src").alias("suppkey"))
        .union(edges.select(F.col("dst").alias("suppkey")))
        .distinct()
    )
    return star_components(nodes, edges, id_col="suppkey")


# ---- Zipf slope of the token frequency head -----------------------------------

_ZIPF_HEAD_K = 100

_ZIPF_ORACLE = rf"""
    WITH occ AS (SELECT source, unnest(
                   string_split_regex(trim(text), '\s+')) AS tok
                 FROM documents),
    cnt AS (SELECT source, tok, COUNT(*) AS c FROM occ GROUP BY 1, 2),
    rk AS (SELECT source, c, ROW_NUMBER() OVER (
             PARTITION BY source ORDER BY c DESC, tok) AS r
           FROM cnt),
    hd AS (SELECT source,
                  CAST(ROUND(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT)
                    AS x,
                  CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)
                    AS y
           FROM rk WHERE r <= {_ZIPF_HEAD_K}),
    m AS (SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(x * y) AS sxy
          FROM hd GROUP BY 1),
    f AS (SELECT source, n, sx, sy,
                 CAST(CAST(n AS HUGEINT) * sxy
                      - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS slope
          FROM m
          WHERE n >= 2
            AND CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0)
    SELECT source, CAST(n AS BIGINT) AS n_head,
           CAST(ROUND(slope * 1000000) AS BIGINT) AS slope_micro,
           CAST(ROUND((sy - slope * sx) / n) AS BIGINT) AS intercept_micro
    FROM f
    """


@query("zipf_slope_tokens", oracle=_ZIPF_ORACLE)
def zipf_slope_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fitted Zipf exponent per source: least-squares slope of
    ln(count) on ln(rank) over the top-{k} token head — the
    corpus-health SCALAR behind the registered ``token_head_mass``
    permille summary (slope ≈ -1 is classic Zipf; steeper is
    templated/boilerplate, flatter is diverse; the MEASURE a
    data-mixing decision thresholds on).

    Exactness: the grouped_zipf_slope contract — both log coordinates
    micro-quantize FIRST (the identical double expression on both
    engines), the five regression moments are exact int64 sums, the
    closed-form products ride DECIMAL(38,0)/HUGEINT, and only the
    final ratio drops to double before micro-rounding.

    Scale: one token-keyed partial-count aggregate
    (vocabulary-sized, Heaps-sublinear), a rank window over VOCAB rows
    per source, then a |sources|-row regression — the tokenize pass is
    the corpus floor, exactly like token_head_mass."""
    from mapreducemovieanalysis_cloud_spark.functions.text import tokens
    from mapreducemovieanalysis_cloud_spark.operators.aggregates import (
        grouped_zipf_slope,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    cnt = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("tok"))
    head = cnt.withColumn("r", F.row_number().over(w)).where(
        F.col("r") <= _ZIPF_HEAD_K
    )
    return grouped_zipf_slope(head, "source", rank_col="r", count_col="c")


zipf_slope_tokens.__doc__ = zipf_slope_tokens.__doc__.format(k=_ZIPF_HEAD_K)


# ---- session-scoped funnel -----------------------------------------------------

_FUNNEL_STAGES = ["view", "click", "purchase"]
_SESS_GAP_S = 1800

_SESS_CTES = """
    e AS (SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us
          FROM events),
    b AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                           OR us - lag(us) OVER w > 1800000000
                         THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT *, SUM(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sess
          FROM b)
    """

_FUNNEL_ORACLE = f"""
    WITH {_SESS_CTES},
    s0 AS (SELECT user_id, sess, MIN(us) AS t FROM s
           WHERE event_type = 'view' GROUP BY 1, 2),
    s1 AS (SELECT s.user_id, s.sess, MIN(s.us) AS t FROM s
           JOIN s0 ON s.user_id = s0.user_id AND s.sess = s0.sess
           WHERE s.event_type = 'click' AND s.us > s0.t GROUP BY 1, 2),
    s2 AS (SELECT s.user_id, s.sess, MIN(s.us) AS t FROM s
           JOIN s1 ON s.user_id = s1.user_id AND s.sess = s1.sess
           WHERE s.event_type = 'purchase' AND s.us > s1.t GROUP BY 1, 2)
    SELECT CAST(0 AS INT) AS stage_idx, 'view' AS stage,
           (SELECT COUNT(*) FROM s0) AS n_sessions
    UNION ALL SELECT 1, 'click', (SELECT COUNT(*) FROM s1)
    UNION ALL SELECT 2, 'purchase', (SELECT COUNT(*) FROM s2)
    """


@query("session_funnel_steps", oracle=_FUNNEL_ORACLE)
def session_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel WITHIN a 30-minute-gap
    session: the number of SESSIONS whose first stage-i event strictly
    follows their constrained first stage-(i-1) event in the SAME
    session (operators/timeseries.session_funnel_counts).  The
    registered ``funnel_conversion`` answers "did the user ever
    convert"; this answers the stricter product question — does a
    single visit convert? — a user who views today and purchases next
    week counts there but not here.  Session boundaries are the SAME
    rule as the registered ``sessionize_events`` (shared
    ``_with_session_idx`` prelude), so the two can never disagree on
    where a session starts.

    Scale: ONE user-keyed exchange serves the sessionization windows;
    each stage is one filtered aggregate keyed on (user, session)
    joined to the previous frontier — no per-session event arrays."""
    from mapreducemovieanalysis_cloud_spark.operators import timeseries

    return timeseries.session_funnel_counts(
        load_table(spark, sf_dir, "events"),
        stages=_FUNNEL_STAGES,
        gap_seconds=_SESS_GAP_S,
    )


# ---- session-scoped Markov transition matrix -----------------------------------

_TRANS_ORACLE = f"""
    WITH {_SESS_CTES},
    nx AS (SELECT event_type AS from_type,
                  lead(event_type) OVER w AS to_type,
                  lead(sess) OVER w = sess AS same
           FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    c AS (SELECT from_type, to_type, COUNT(*) AS n_trans FROM nx
          WHERE same AND to_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, CAST(n_trans AS BIGINT) AS n_trans,
           CAST(n_trans * 1000 // SUM(n_trans)
                  OVER (PARTITION BY from_type) AS BIGINT) AS p_permille
    FROM c
    """


@query("session_transition_matrix", oracle=_TRANS_ORACLE)
def session_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over consecutive
    SAME-SESSION events (operators/timeseries.session_transition_counts):
    (from_type, to_type, n_trans, p_permille) — the within-visit
    next-action prior.  The registered ``event_transition_matrix``
    chains each user's entire history, so the last event of one visit
    "transitions" into the first of the next days later; here a session
    boundary breaks the chain (the same 30-minute gap rule as
    ``sessionize_events``, shared ``_with_session_idx`` prelude).

    Exactness: integer counts and one integer permille division.
    Scale: the sessionize windows and the lead() share ONE user-keyed
    exchange; everything after is |event types|² rows."""
    from mapreducemovieanalysis_cloud_spark.operators import timeseries

    return timeseries.session_transition_counts(
        load_table(spark, sf_dir, "events"), gap_seconds=_SESS_GAP_S
    )
