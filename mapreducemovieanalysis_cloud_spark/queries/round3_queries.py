"""Round-3 widening: OLAP product-analytics (cohort retention, robust
outliers), lakehouse table maintenance (MERGE upsert kernel), and four more
training-data curation stages (fixed-weight quality classifier inference,
PMI collocation mining, SemDeDup semantic dedup, char-trigram in-domain LM
scoring).

Every query keeps the engine's exact-arithmetic discipline: money in integer
cents, medians in exact half/quarter units, classifier logits and LM scores
in integer micro/milli units, cosines as one IEEE division of exact int64
dot products — so the DuckDB oracle is bit-identical, never
tolerance-compared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
    _COSINE,
    _kmeans_oracle,
)
from mapreducemovieanalysis_cloud_spark.registry import query
from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

# ---- OLAP product analytics over the events stream table -------------------


@query(
    "cohort_retention",
    oracle="""
    WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
    first AS (SELECT user_id, MIN(d) AS first_d FROM ev GROUP BY user_id)
    SELECT CAST(date_trunc('week', f.first_d) AS VARCHAR) AS cohort_week,
           CAST(date_diff('day', f.first_d, e.d) // 7 AS BIGINT)
             AS offset_week,
           COUNT(DISTINCT e.user_id) AS n_users,
           COUNT(*) AS n_events
    FROM ev e JOIN first f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the ISO week of their
    first event; activity counted per (cohort, week-offset) cell.

    Two shuffles on user_id (first-event agg + the join back — co-located,
    AQE plans the join on the agg's partitioning) then one small agg on the
    (cohort, offset) key whose cardinality is O(weeks²), not O(users):
    map-side partials collapse the fact stream before the exchange. The
    distinct-user count shuffles (cohort, offset, user) partials — bounded
    by active (user, week) pairs, the same envelope every retention system
    carries. Ref pattern: /root/reference/MovieRating.java:81-105 (grouped
    count family)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("first_d"))
    return (
        ev.join(first, "user_id")
        .select(
            F.date_format(F.date_trunc("week", "first_d"), "yyyy-MM-dd")
            .alias("cohort_week"),
            F.expr("CAST(datediff(d, first_d) div 7 AS BIGINT)")
            .alias("offset_week"),
            "user_id",
        )
        .groupBy("cohort_week", "offset_week")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "outliers_value_mad",
    oracle="""
    WITH ev AS (SELECT event_id, event_type,
                       CAST(ROUND(value * 100) AS BIGINT) AS value_cents
                FROM events),
    med AS (SELECT event_type, median(value_cents) AS med FROM ev
            GROUP BY event_type),
    dev AS (SELECT e.event_id, e.event_type, e.value_cents,
                   CAST(ABS(2 * e.value_cents - CAST(2 * m.med AS BIGINT))
                        AS BIGINT) AS dev_x2
            FROM ev e JOIN med m ON e.event_type = m.event_type),
    mad AS (SELECT event_type, CAST(2 * median(dev_x2) AS BIGINT) AS mad_x4
            FROM dev GROUP BY event_type)
    SELECT d.event_type, d.event_id, d.value_cents, d.dev_x2, m.mad_x4
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    WHERE 2 * d.dev_x2 > 3 * m.mad_x4
    """,
)
def outliers_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outliers: |value - median| > 3 * MAD (median
    absolute deviation) — the outlier gate that, unlike the z-score cousin
    (``outliers_value_z``), a single wild point cannot silently widen.

    Exactness: cents are int64; an even-count median is the mean of two
    ints, so doubling it (dev_x2, mad_x4 = 2·MAD·2) keeps every quantity an
    exact integer and the 3-MAD test becomes pure int64
    (2·dev_x2 > 3·mad_x4). Both engines' interpolated 0.5-quantile computes
    lo + (hi-lo)·0.5, exact in IEEE for ints, so the hashes match bitwise.

    Scale: two tiny per-group aggregates (exact median shuffles the group's
    values once — at 100 TB swap ``percentile`` for ``approx_percentile``
    with cents-scale accuracy 1, same downstream algebra) broadcast back
    over one re-scan of the fact; no window over the full stream."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("value_cents"),
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value_cents, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value_cents",
        F.expr("CAST(ABS(2 * value_cents - CAST(2 * med AS BIGINT)) AS BIGINT)")
        .alias("dev_x2"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("CAST(2 * percentile(dev_x2, 0.5) AS BIGINT)").alias("mad_x4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.expr("2 * dev_x2 > 3 * mad_x4"))
        .select("event_type", "event_id", "value_cents", "dev_x2", "mad_x4")
    )


# ---- lakehouse table maintenance: the MERGE INTO kernel --------------------


@query(
    "merge_upsert_orders",
    oracle="""
    WITH t AS (SELECT o_orderkey, o_orderstatus,
                      CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        AS price_cents
               FROM orders),
    src AS (
      SELECT o_orderkey, 'X' AS o_orderstatus, price_cents + 100
               AS price_cents
      FROM t WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM t), 'N',
             CAST(0 AS BIGINT)
      FROM t WHERE o_orderkey % 97 = 0)
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
           COALESCE(s.price_cents, t.price_cents) AS price_cents,
           CASE WHEN s.o_orderkey IS NULL THEN 'keep'
                WHEN t.o_orderkey IS NULL THEN 'insert'
                ELSE 'update' END AS merge_action
    FROM t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO kernel: target snapshot ⟕⟖ CDC batch (updates for
    orderkey%5, inserts keyed past the target range for orderkey%97) →
    matched rows take the source, unmatched keep the target, source-only
    rows insert — the full-outer-join + coalesce plan every lakehouse MERGE
    lowers to. The synthetic insert keys offset by MAX(o_orderkey)+1 — a
    broadcast scalar, not a constant — so the CDC batch stays disjoint from
    real keys at ANY scale factor (a fixed 1e8 offset collides once
    o_orderkey exceeds 1e8, ~SF 17).

    Scale: at 100 TB the join is sort-merge on the table key with AQE; a
    real table format prunes it to only the files whose key ranges the
    (typically tiny) batch touches — the ``write_zordered``/``write_sorted``
    layouts in this repo provide exactly those disjoint row-group stats, so
    the two operators compose into partition-pruned upsert. Ref pattern:
    /root/reference/MovieRank.java:55-74 (keyed join family)."""
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias(
            "price_cents"
        ),
    )
    upd = t.where("o_orderkey % 5 = 0").select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("price_cents") + 100).alias("price_cents"),
    )
    off = t.agg((F.max("o_orderkey") + 1).alias("ins_offset"))
    ins = (
        t.where("o_orderkey % 97 = 0")
        .crossJoin(F.broadcast(off))
        .select(
            (F.col("o_orderkey") + F.col("ins_offset")).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(0).cast("long").alias("price_cents"),
        )
    )
    src = upd.unionByName(ins)
    tt, ss = t.alias("t"), src.alias("s")
    return tt.join(ss, "o_orderkey", "full_outer").select(
        F.col("o_orderkey"),
        F.coalesce("s.o_orderstatus", "t.o_orderstatus").alias(
            "o_orderstatus"
        ),
        F.coalesce("s.price_cents", "t.price_cents").alias("price_cents"),
        F.when(F.col("s.o_orderstatus").isNull(), "keep")
        .when(F.col("t.o_orderstatus").isNull(), "insert")
        .otherwise("update")
        .alias("merge_action"),
    )


# ---- training-data curation: classifier inference, collocations, ----------
# ---- semantic dedup, LM scoring --------------------------------------------


# The fixed-weight quality logit in exact centi-units — Spark SQL dialect.
# (Shared with source_quality_filter in round4_queries; the DuckDB dialect
# of the same expression is _SQL_LOGIT below.)
_SPARK_TOKS = r"split(trim(text), '\\s+')"
SPARK_LOGIT = (
    f"-300 + 2 * least(size({_SPARK_TOKS}), 200)"
    f" + (100 * size(array_distinct({_SPARK_TOKS})) div"
    f"    greatest(size({_SPARK_TOKS}), 1))"
    " + (100 * length(regexp_replace(text, '[^a-zA-Z]', '')) div"
    "    greatest(length(text), 1))"
)


@query(
    "quality_classifier",
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tok,
             CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
               AS BIGINT) AS n_distinct,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
               AS BIGINT) AS n_alpha
      FROM documents)
    SELECT doc_id,
           -300 + 2 * least(n_tok, 200)
                + (100 * n_distinct // greatest(n_tok, 1))
                + (100 * n_alpha // greatest(n_chars, 1)) AS logit_centi,
           CAST((-300 + 2 * least(n_tok, 200)
                + (100 * n_distinct // greatest(n_tok, 1))
                + (100 * n_alpha // greatest(n_chars, 1))) > 0 AS INT)
             AS keep_label
    FROM f
    """,
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight linear quality classifier inference (the fastText-style
    keep/drop gate of a curation pipeline): integer feature extraction →
    integer-weight dot product → thresholded label, entirely JVM-side
    expressions in one scan, zero shuffles.

    The logit stays in exact centi-units (int64) so inference is
    bit-reproducible across engines — the model-update path is a new weight
    vector, not new code. At 100 TB this is the cheapest pipeline stage:
    narrow projection, embarrassingly parallel, no exchange."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"CAST({SPARK_LOGIT} AS BIGINT)").alias("logit_centi"),
        F.expr(f"CAST(({SPARK_LOGIT}) > 0 AS INT)").alias("keep_label"),
    )


@query(
    "bigram_pmi",
    oracle=r"""
    WITH toks AS (SELECT string_split_regex(trim(text), '\s+') AS t
                  FROM documents WHERE length(trim(text)) > 0),
    uni AS (SELECT u.x, COUNT(*) AS cx
            FROM toks, unnest(t) AS u(x) GROUP BY u.x),
    tot AS (SELECT CAST(SUM(cx) AS BIGINT) AS tt FROM uni),
    big AS (SELECT t[i] AS x, t[i+1] AS y, COUNT(*) AS cxy
            FROM toks, unnest(generate_series(1, len(t)-1)) AS g(i)
            WHERE len(t) >= 2
            GROUP BY 1, 2),
    scored AS (
      SELECT b.x, b.y, b.cxy,
             CAST((b.cxy * tot.tt * 1000) // (ux.cx * uy.cx) AS BIGINT)
               AS pmi_ratio_milli
      FROM big b JOIN uni ux ON b.x = ux.x
                 JOIN uni uy ON b.y = uy.x
                 CROSS JOIN tot
      WHERE b.cxy >= 5)
    SELECT x, y, cxy, pmi_ratio_milli FROM scored
    ORDER BY pmi_ratio_milli DESC, x ASC, y ASC
    LIMIT 50
    """,
)
def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-style collocation mining: top-50 adjacent token pairs by the
    association ratio p(xy)/(p(x)p(y)) = cxy·T/(cx·cy), kept in exact
    integer milli-units (the log in true PMI is monotone in this ratio, so
    the ranking is identical and stays engine-exact).

    Shape at scale: one token explode feeding two grouped counts (unigram,
    bigram) with map-side partials; the ≥5-count support filter prunes the
    bigram tail BEFORE the count-join; unigram counts join on the token key
    (AQE broadcasts when the vocab fits, shuffle-joins otherwise);
    TakeOrderedAndProject for the top-k. Overflow envelope: cxy·T·1000 <
    2⁶³ holds to ~3×10⁹ tokens; past that, promote the ratio to
    DECIMAL(38,0) or rescale per-shard — documented knob, not a silent
    cap."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .where(F.length(F.trim("text")) > 0)
        .select(F.split(F.trim("text"), r"\s+").alias("t"))
    )
    tok = toks.select(F.explode("t").alias("x"))
    uni = tok.groupBy("x").agg(F.count(F.lit(1)).alias("cx"))
    tot = uni.agg(F.sum("cx").alias("tt"))
    big = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t)-2),"
                    " i -> struct(t[i] AS x, t[i+1] AS y))"
                )
            ).alias("b")
        )
        .select("b.x", "b.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .where(F.col("cxy") >= 5)
    )
    uy = uni.select(F.col("x").alias("y"), F.col("cx").alias("cy"))
    return (
        big.join(uni, "x")
        .join(uy, "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "cxy",
            F.expr("(cxy * tt * 1000) div (cx * cy)").alias(
                "pmi_ratio_milli"
            ),
        )
        .orderBy(
            F.col("pmi_ratio_milli").desc(), F.col("x").asc(), F.col("y").asc()
        )
        .limit(50)
    )


_SEMDEDUP_FINAL = f"""
    SELECT id_b AS vec_id, MIN(id_a) AS keeper,
           COUNT(*) AS n_better
    FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.qv AS qa, b.qv AS qb
          FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id)
    WHERE {_COSINE} >= 0.4
    GROUP BY id_b"""


# Expected cluster size the derived k targets: k = max(ceil(n/64), 2).
# At the driver's sf0.01 corpus (500 vectors) this lands on k=8 — the same
# blocking the fixed-k version used — while growing k ∝ n beyond it.
_SEMDEDUP_TARGET = 64
_SEMDEDUP_K_EXPR = (
    f"(SELECT greatest((count(*) + {_SEMDEDUP_TARGET - 1}) "
    f"// {_SEMDEDUP_TARGET}, 2) FROM pn)"
)


@query(
    "semantic_dedup",
    oracle=_kmeans_oracle(
        iters=2, final_select=_SEMDEDUP_FINAL, k_expr=_SEMDEDUP_K_EXPR
    ),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding corpus,
    compare cosines only WITHIN each cluster, report every vector that has
    a more-senior (smaller-id) near-duplicate — the keeper — plus how many
    seniors beat it. Downstream curation drops the reported rows.

    Scale posture: clustering bounds the pair space to Σ n_c² instead of
    n²; k is DERIVED from the corpus count, one count on the driver
    (k = max(ceil(n/64), 2), ``target_cluster_size``), so expected cluster
    size — and the per-cluster self-join — stays constant as data grows
    instead of clusters widening as n/k_fixed; the k×d codebook that
    grows with it is held on the driver. The assignment lineage carries
    (qv, pn2) through (``keep_vec=True``) so pairing re-uses one corpus
    pass: one Arrow assign pass per Lloyd iteration against the collected
    codebook, then the cluster-keyed self-join runs through ``operators.skew.salted_join`` —
    a natural cluster 16× the target (skewed data land there regardless
    of k) spreads over the salt buckets instead of funneling one task —
    then one grouped agg. Salting only routes rows (row-identical join),
    so cosines stay one IEEE division over exact int64 dots and the
    DuckDB oracle (k-means CTEs + plain pair join) matches bit-for-bit."""
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        kmeans_assignments,
    )
    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        _pair_cosine,
    )
    from mapreducemovieanalysis_cloud_spark.operators.skew import salted_join

    # localCheckpoint materializes the final assignment before the
    # self-join reads it twice (the PageRank/triangle pattern): without it
    # the pair join replays the corpus scan and the Arrow assign pass on
    # both sides; with it, the join reads (id, qv, pn2, cluster) twice.
    a = (
        kmeans_assignments(
            load_table(spark, sf_dir, "embeddings"),
            iters=2,
            keep_vec=True,
            target_cluster_size=_SEMDEDUP_TARGET,
        )
        .withColumn("nrm", F.sqrt(F.col("pn2").cast("double")))
        .localCheckpoint()
    )
    x = a.select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("qv").alias("qv_a"),
        F.col("nrm").alias("nrm_a"),
    )
    y = a.select(
        F.col("cluster").alias("cluster_b"),
        F.col("vec_id").alias("id_b"),
        F.col("qv").alias("qv_b"),
        F.col("nrm").alias("nrm_b"),
    )
    return (
        salted_join(x, y, "cluster", "cluster_b", salt_buckets=8)
        .where(F.col("id_a") < F.col("id_b"))
        .where(_pair_cosine("a", "b") >= 0.4)
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(
            F.min("id_a").alias("keeper"),
            F.count(F.lit(1)).alias("n_better"),
        )
    )


@query(
    "trigram_lm_score",
    oracle="""
    WITH d AS (SELECT doc_id, lower(text) AS tx FROM documents
               WHERE length(text) >= 3),
    tri AS (SELECT doc_id, substr(tx, i, 3) AS tri
            FROM d, unnest(generate_series(1, length(tx)-2)) AS g(i)),
    c3 AS (SELECT tri, COUNT(*) AS cnt3 FROM tri GROUP BY tri),
    c2 AS (SELECT substr(tri, 1, 2) AS bi, COUNT(*) AS cnt2
           FROM tri GROUP BY 1),
    scored AS (SELECT t.doc_id,
                      (c3.cnt3 * 1000000) // c2.cnt2 AS p_micro
               FROM tri t
               JOIN c3 ON t.tri = c3.tri
               JOIN c2 ON substr(t.tri, 1, 2) = c2.bi)
    SELECT doc_id, COUNT(*) AS n_tri,
           CAST(SUM(p_micro) // COUNT(*) AS BIGINT) AS lm_score_micro
    FROM scored GROUP BY doc_id
    """,
)
def trigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language-model scoring (the CCNet-style in-domain
    filter): train trigram/bigram-prefix counts on the corpus itself in one
    explode, then score each document by its mean conditional probability
    p(c₃|c₁c₂) = cnt₃/cnt₂, kept in exact integer micro-units (monotone in
    the true mean probability, so quality ranking is identical and
    bit-exact).

    Scale: the count tables are bounded by the character-set's trigram
    space, not the corpus — they broadcast at any data size (AQE converts
    the joins; no hint needed). The position explode runs ONCE: it
    collapses immediately into per-doc trigram counts (doc_id, tri, c) —
    bounded by docs × distinct-trigrams-per-doc, typically ~5× smaller
    than positions — persisted DISK_ONLY because three consumers (trigram
    totals, prefix totals, the scoring join) read it; per-occurrence sums
    become count-weighted sums over it (identical integers). The explode
    never carries document text, just 3-byte grams. Materialized via lazy
    ``localCheckpoint`` rather than persist: this function returns a lazy
    frame, so a persist here could never be unpersisted and would pin the
    lineage in the CacheManager for the app lifetime; checkpoint blocks
    are ContextCleaner-reclaimed once the consumer drops the frame."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") >= 3)
        .select("doc_id", F.lower(F.col("text")).alias("tx"))
    )
    dt = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tx)-2),"
                    " i -> substring(tx, i, 3))"
                )
            ).alias("tri"),
        )
        .groupBy("doc_id", "tri")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    c3 = dt.groupBy("tri").agg(F.sum("c").alias("cnt3"))
    c2 = (
        dt.select(F.substring("tri", 1, 2).alias("bi"), "c")
        .groupBy("bi")
        .agg(F.sum("c").alias("cnt2"))
    )
    return (
        dt.withColumn("bi", F.substring("tri", 1, 2))
        .join(c3, "tri")
        .join(c2, "bi")
        .select(
            "doc_id",
            "c",
            F.expr("c * ((cnt3 * 1000000) div cnt2)").alias("p_micro_w"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tri"),
            F.expr("CAST(SUM(p_micro_w) div SUM(c) AS BIGINT)").alias(
                "lm_score_micro"
            ),
        )
    )


# ---- SQL-surface widening: recursive CTE + LATERAL join --------------------


@query(
    "recursive_user_hierarchy",
    oracle="""
    WITH RECURSIVE u AS (SELECT DISTINCT user_id FROM events),
    walk(user_id, node, depth, path_sum) AS (
      SELECT user_id, user_id, 0, user_id FROM u
      UNION ALL
      SELECT user_id, node // 2, depth + 1, path_sum + node // 2
      FROM walk WHERE node > 0)
    SELECT user_id,
           CAST(MAX(depth) AS BIGINT) AS depth_to_root,
           CAST(MAX(path_sum) AS BIGINT) AS path_sum
    FROM walk GROUP BY user_id
    """,
)
def recursive_user_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the ``spark.sql`` entry path (Spark 4 WITH
    RECURSIVE → UnionLoop): walk each user up the synthetic binary
    hierarchy u → u div 2 to the root, reporting walk depth and the exact
    path-id sum. Iterative-depth traversal as ONE declarative statement —
    the engine loops, not the driver (contrast: label_propagation_components
    hand-schedules its rounds because it iterates to a data-dependent
    fixpoint over a full edge table).

    Scale: per-iteration frontier is one row per live walker, shrinking as
    walkers reach the root (depth ≈ log₂ user_id, so the loop runs
    O(log max_id) rounds over strictly bounded frames); state never leaves
    the cluster. Depth caps via spark.sql.cteRecursionLevelLimit guard
    runaway recursion at scale."""
    from mapreducemovieanalysis_cloud_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE walk(user_id, node, depth, path_sum) AS (
          SELECT user_id, user_id, 0, user_id
          FROM (SELECT DISTINCT user_id FROM events)
          UNION ALL
          SELECT user_id, node div 2, depth + 1, path_sum + node div 2
          FROM walk WHERE node > 0)
        SELECT user_id,
               CAST(MAX(depth) AS BIGINT) AS depth_to_root,
               CAST(MAX(path_sum) AS BIGINT) AS path_sum
        FROM walk GROUP BY user_id
        """
    )


@query(
    "lateral_top_customers",
    oracle="""
    SELECT n.n_name, t.c_custkey, t.rev_cents
    FROM nation n,
    LATERAL (
      SELECT c.c_custkey,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE c.c_nationkey = n.n_nationkey
      GROUP BY c.c_custkey
      ORDER BY rev_cents DESC, c_custkey ASC
      LIMIT 2) t
    """,
)
def lateral_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (the
    top-n-per-outer-row idiom), via the ``spark.sql`` entry path. Catalyst
    decorrelates to a DomainJoin + ranked window, i.e. the same physical
    plan the window_topk_per_group query builds by hand — registered to pin
    that the SQL surface supports the idiom, not just the DataFrame API.

    Scale: decorrelation means NO per-outer-row execution — one grouped
    aggregate over orders⋈customer partitioned by nation, one rank cut.
    The nation side broadcasts; nothing is quadratic in outer rows."""
    from mapreducemovieanalysis_cloud_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.rev_cents
        FROM nation n,
        LATERAL (
          SELECT c.c_custkey,
                 CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_cents
          FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
          WHERE c.c_nationkey = n.n_nationkey
          GROUP BY c.c_custkey
          ORDER BY rev_cents DESC, c_custkey ASC
          LIMIT 2) t
        """
    )


# ---- training-data assembly: sequence packing + mixture sampling -----------


@query(
    "pack_sequences",
    oracle=r"""
    WITH d AS (SELECT doc_id,
                      CAST(len(string_split_regex(trim(text), '\s+'))
                           AS BIGINT) AS n_tok
               FROM documents),
    c AS (SELECT doc_id, n_tok,
                 COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_prev
          FROM d)
    SELECT doc_id, n_tok, CAST(cum_prev AS BIGINT) AS cum_prev,
           CAST(cum_prev // 2048 AS BIGINT) AS pack_id,
           CAST(cum_prev % 2048 AS BIGINT) AS pack_offset
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training (concat-then-chunk into 2048-token
    context windows): each document's pack id and offset from a
    DISTRIBUTED two-phase global prefix sum over ascending doc_id —
    per-range-partition local running sums plus a broadcast p-row offset
    table, never the naive single-partition ORDER BY window (see
    operators.packing). The oracle IS that naive window — integer addition
    associativity makes the two formulations bit-identical."""
    from mapreducemovieanalysis_cloud_spark.operators.packing import (
        packed_positions,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            r"CAST(size(split(trim(text), '\\s+')) AS BIGINT)"
        ).alias("n_tok"),
    )
    return packed_positions(docs, ctx=2048)


@query(
    "train_mix_sample",
    oracle=r"""
    WITH d AS (SELECT doc_id, source,
                      CAST(len(string_split_regex(trim(text), '\s+'))
                           AS BIGINT) AS n_tok
               FROM documents),
    per_src AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS source_tokens
                FROM d GROUP BY source),
    tot AS (SELECT CAST(SUM(source_tokens) AS BIGINT) AS t,
                   COUNT(*) AS ns FROM per_src),
    rates AS (SELECT p.source, p.source_tokens,
                     CAST(t.t // t.ns AS BIGINT) AS target_tokens,
                     CAST(least(10000, ((t.t // t.ns) * 10000)
                                       // p.source_tokens) AS BIGINT)
                       AS rate_bp
              FROM per_src p CROSS JOIN tot t),
    kept AS (SELECT d.source,
                    COUNT(*) AS n_docs_kept,
                    CAST(SUM(d.n_tok) AS BIGINT) AS tokens_kept
             FROM d JOIN rates r ON d.source = r.source
             WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
                        AS INTEGER) % 10000 < r.rate_bp
             GROUP BY d.source)
    SELECT r.source, r.source_tokens, r.target_tokens, r.rate_bp,
           COALESCE(k.n_docs_kept, 0) AS n_docs_kept,
           COALESCE(k.tokens_kept, 0) AS tokens_kept
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    """,
)
def train_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing toward a uniform per-source token budget (the
    training-mix assembly stage): compute each source's token mass, derive
    a basis-point keep-rate toward the uniform target, gate documents by
    the shared deterministic md5 bucket (functions.hashing — pure key
    function: reproducible across engines, retries, appends), and report
    the achieved mix.

    Scale: two tiny per-source aggregates (map-side partials), a broadcast
    rates table, and a map-side sampling predicate — the fact table
    shuffles only into the per-source report aggregation. Rates quantize
    to basis points through the 16-bit md5 bucket; finer targets need a
    wider bucket (documented in functions.hashing)."""
    from mapreducemovieanalysis_cloud_spark.functions.hashing import (
        md5_bucket,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(r"CAST(size(split(trim(text), '\\s+')) AS BIGINT)").alias(
            "n_tok"
        ),
    )
    per_src = d.groupBy("source").agg(
        F.sum("n_tok").alias("source_tokens")
    )
    tot = per_src.agg(
        F.sum("source_tokens").alias("t"), F.count(F.lit(1)).alias("ns")
    )
    rates = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "source_tokens",
        F.expr("CAST(t div ns AS BIGINT)").alias("target_tokens"),
        F.expr(
            "CAST(least(10000, ((t div ns) * 10000) div source_tokens)"
            " AS BIGINT)"
        ).alias("rate_bp"),
    )
    kept = (
        d.join(F.broadcast(rates.select("source", "rate_bp")), "source")
        .where(md5_bucket("doc_id", 10000) < F.col("rate_bp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tok").alias("tokens_kept"),
        )
    )
    return rates.join(kept, "source", "left").select(
        "source",
        "source_tokens",
        "target_tokens",
        "rate_bp",
        F.coalesce("n_docs_kept", F.lit(0)).cast("long").alias("n_docs_kept"),
        F.coalesce("tokens_kept", F.lit(0)).cast("long").alias("tokens_kept"),
    )


# ---- rank-complete analytics: ntile / percent_rank / cume_dist -------------

_SPARK_LOGIT = (
    r"-300 + 2 * least(size(split(trim(text), '\\s+')), 200)"
    r" + (100 * size(array_distinct(split(trim(text), '\\s+'))) div"
    r"    greatest(size(split(trim(text), '\\s+')), 1))"
    " + (100 * length(regexp_replace(text, '[^a-zA-Z]', '')) div"
    "    greatest(length(text), 1))"
)

_SQL_LOGIT = r"""-300 + 2 * least(len(string_split_regex(trim(text), '\s+')), 200)
      + (100 * len(list_distinct(string_split_regex(trim(text), '\s+')))
         // greatest(len(string_split_regex(trim(text), '\s+')), 1))
      + (100 * length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
         // greatest(length(text), 1))"""


@query(
    "curriculum_buckets",
    oracle=f"""
    WITH f AS (SELECT doc_id, lang,
                      CAST({_SQL_LOGIT} AS BIGINT) AS logit_centi
               FROM documents)
    SELECT doc_id, lang, logit_centi,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM f
    WINDOW w AS (PARTITION BY lang ORDER BY logit_centi, doc_id)
    """,
)
def curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: per-language quality quartiles (ntile) plus
    the rank-complete analytics pair (percent_rank, cume_dist) over the
    classifier logit — the stage that orders training data easy→hard.
    percent_rank = (rank-1)/(n-1) and cume_dist = rank/n are single IEEE
    divisions of exact integers under a deterministic (logit, doc_id)
    order, so both engines emit identical doubles.

    Scale: rank-complete functions need a total order PER PARTITION KEY —
    parallel across languages, serial within one (Spark sorts each
    lang-partition once; a single giant language is the skew risk). The
    100 TB curriculum path replaces ntile with bucketing against
    approx_percentile thresholds (no total order, two scans) — this query
    pins the exact-rank semantics the threshold variant approximates."""
    from mapreducemovieanalysis_cloud_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH f AS (SELECT doc_id, lang,
                          CAST({_SPARK_LOGIT} AS BIGINT) AS logit_centi
                   FROM documents)
        SELECT doc_id, lang, logit_centi,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd
        FROM f
        WINDOW w AS (PARTITION BY lang ORDER BY logit_centi, doc_id)
        """
    )


@query(
    "join_asof_forward",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), errors AS (
      SELECT user_id, ts, MAX(event_id) AS error_event_id
      FROM events WHERE event_type = 'error' GROUP BY 1, 2
    )
    SELECT p.event_id AS event_id, p.user_id AS user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           e.error_event_id AS error_event_id
    FROM purchases p
    ASOF LEFT JOIN errors e
      ON p.user_id = e.user_id AND p.ts <= e.ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each purchase, the EARLIEST subsequent error
    by the same user (the time-to-next-failure attribution shape). Same
    union+window kernel as the backward variant — one hash exchange on the
    key, an in-partition sort read in reverse, no range explosion — so the
    family covers both temporal directions (operators.joins.asof_join
    direction='forward')."""
    from mapreducemovieanalysis_cloud_spark.operators import joins

    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = (
        events.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("error_event_id"))
    )
    joined = joins.asof_join(
        purchases,
        errors,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "purchase_ts"
        ),
        F.col("error_event_id_right").alias("error_event_id"),
    )


@query(
    "decimal_revenue",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2))))
                     AS DECIMAL(38,4)) AS VARCHAR) AS revenue,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                     AS DECIMAL(38,2)) AS VARCHAR) AS gross,
           COUNT(*) AS n_lines
    FROM lineitem GROUP BY l_returnflag
    """,
)
def decimal_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL aggregation (the money path where cents-in-int64 runs
    out of headroom): prices cast to DECIMAL(18,2), the discount product
    widened by the engine's decimal-arithmetic rules, summed exactly into
    DECIMAL(38,x) — no IEEE rounding anywhere, so a 100 TB revenue total is
    exact to the 4th decimal place. Both engines implement ANSI decimal
    semantics; results are emitted as fixed-scale strings because the
    VALUES are identical while pandas' Decimal repr drops trailing zeros
    asymmetrically.

    Scale: same single-shuffle map-side-partial shape as tpch_q1; decimal
    sums are ~2× the CPU of long sums (128-bit accumulation) — the
    documented trade against int64-cents when totals can exceed 2^63
    micro-units (~9.2·10^12 dollars)."""
    from mapreducemovieanalysis_cloud_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                             (CAST(1 AS DECIMAL(18,2))
                              - CAST(l_discount AS DECIMAL(18,2))))
                         AS DECIMAL(38,4)) AS STRING) AS revenue,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,2)) AS STRING) AS gross,
               COUNT(*) AS n_lines
        FROM lineitem GROUP BY l_returnflag
        """
    )


@query(
    "listagg_order_priorities",
    oracle="""
    SELECT o_custkey,
           string_agg(o_orderpriority, ','
                      ORDER BY o_orderpriority, o_orderkey) AS priorities,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
)
def listagg_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LISTAGG: per customer, the comma-joined order
    priorities in (priority, orderkey) order. ``collect_list`` alone is
    partition-order-dependent — the determinism pattern is collect structs,
    ``array_sort``, then project+join, which makes the aggregate a pure
    set function (same discipline as every float convention in the repo:
    nondeterminism is designed out, not tolerated).

    Scale: one grouped shuffle; the per-group array is bounded by group
    size — LISTAGG over a hot key is a memory risk at any engine, capped
    here by per-customer order counts (use slice() for a bounded prefix
    when groups are unbounded)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("o_orderpriority", "o_orderkey")
                        )
                    ),
                    lambda s: s.o_orderpriority,
                ),
                ",",
            ).alias("priorities"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "null_semantics",
    oracle="""
    WITH e AS (SELECT event_id, user_id,
                      nullif(event_type, 'click') AS et,
                      CAST(ROUND(value * 100) AS BIGINT) AS vc
               FROM events),
    g AS (SELECT et, COUNT(*) AS n_rows, COUNT(et) AS n_nonnull,
                 CAST(SUM(vc) AS BIGINT) AS sum_cents
          FROM e GROUP BY et),
    j AS (SELECT a.et, COUNT(*) AS n_selfpairs
          FROM (SELECT et, event_id FROM e WHERE event_id < 200) a
          JOIN (SELECT et, event_id FROM e WHERE event_id < 200) b
            ON a.et IS NOT DISTINCT FROM b.et
          GROUP BY a.et)
    SELECT g.et, g.n_rows, g.n_nonnull, g.sum_cents,
           COALESCE(j.n_selfpairs, 0) AS n_selfpairs
    FROM g LEFT JOIN j ON g.et IS NOT DISTINCT FROM j.et
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics conformance in one query: NULL grouping keys form
    ONE group (clicks nullif'd away), COUNT(col) skips NULLs while
    COUNT(*) does not, and the null-safe equality join (<=> / IS NOT
    DISTINCT FROM) matches NULL to NULL where plain = never would — the
    three behaviors ports most often get subtly wrong.

    Scale: shapes are ordinary grouped aggregates and an equi-join; the
    NULL key concentrates its group's traffic on one reducer — the
    classic hidden hot key (at 100 TB, filter-or-salt NULLs before
    grouping when they dominate)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("nullif(event_type, 'click')").alias("et"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("vc"),
    )
    g = e.groupBy("et").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("et").alias("n_nonnull"),
        F.sum("vc").cast("long").alias("sum_cents"),
    )
    small = e.where("event_id < 200").select("et", "event_id")
    j = (
        small.alias("a")
        .join(small.alias("b"), F.expr("a.et <=> b.et"))
        .groupBy(F.col("a.et").alias("et"))
        .agg(F.count(F.lit(1)).alias("n_selfpairs"))
    )
    return (
        g.alias("g")
        .join(j.alias("j"), F.expr("g.et <=> j.et"), "left")
        .select(
            "g.et",
            "g.n_rows",
            "g.n_nonnull",
            "g.sum_cents",
            F.coalesce("j.n_selfpairs", F.lit(0))
            .cast("long")
            .alias("n_selfpairs"),
        )
    )


@query(
    "setops_all_variants",
    oracle="""
    SELECT 'intersect_all' AS op, nationkey, COUNT(*) AS n FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT ALL
      SELECT s_nationkey AS nationkey FROM supplier)
    GROUP BY 2
    UNION ALL
    SELECT 'except_all' AS op, nationkey, COUNT(*) AS n FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT ALL
      SELECT s_nationkey AS nationkey FROM supplier)
    GROUP BY 2
    """,
)
def setops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicity-preserving set ops (INTERSECT ALL / EXCEPT ALL, the
    bag-semantics pair the DISTINCT variants silently collapse): per-key
    multiplicities min(c,s) and max(0, c-s) respectively — verified via
    the post-op counts. Spark plans both as aggregate+generate over
    per-side counts: one shuffle each, no row-pairing join."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    ia = (
        c.intersectAll(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "nationkey", "n")
    )
    ea = (
        c.exceptAll(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "nationkey", "n")
    )
    return ia.unionByName(ea)


@query(
    "filtered_aggregates",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
             AS finished_cents,
           COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus <> 'F')
             AS open_customers
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER clause on aggregates (the conditional-aggregation surface:
    one pass computes differently-predicated measures side by side, where
    a port would run N filtered scans). Spark folds each FILTER into the
    aggregate's input — still one scan, one shuffle, map-side partials;
    the COUNT(DISTINCT) FILTER composes with the expand-based distinct
    path."""
    from mapreducemovieanalysis_cloud_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
                 AS finished_cents,
               COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus <> 'F')
                 AS open_customers
        FROM orders
        GROUP BY o_orderpriority
        """
    )


@query(
    "window_value_functions",
    oracle="""
    SELECT user_id, event_id,
           first_value(event_id) OVER w AS first_event,
           last_value(event_id) OVER (PARTITION BY user_id ORDER BY ts,
             event_id ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS last_event,
           nth_value(event_id, 2) OVER (PARTITION BY user_id ORDER BY ts,
             event_id ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS second_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions (first_value / last_value / nth_value): each
    event tagged with its user's first, last, and second event ids. The
    frame discipline matters — last_value/nth_value over the DEFAULT frame
    (UNBOUNDED PRECEDING..CURRENT ROW) is the classic silent bug, so both
    take explicit full-partition frames; ordering carries the event_id
    tiebreak making every value deterministic. One shuffle on user_id,
    one in-partition sort shared by all three functions."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    ordered = Window.partitionBy("user_id").orderBy("ts", "event_id")
    full = ordered.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_id").over(ordered).alias("first_event"),
        F.last("event_id").over(full).alias("last_event"),
        F.nth_value("event_id", 2).over(full).alias("second_event"),
    )


@query(
    "dedup_clusters_star",
    oracle=None,  # set below: shares dedup_clusters' recursive-CTE oracle
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup components by large-star/small-star contraction — the
    O(log n)-round petabyte-scale alternative to min-label propagation
    (whose rounds equal the graph diameter), over the SAME MinHash-LSH
    pair graph and checked against the SAME recursive-transitive-closure
    oracle as ``dedup_clusters``: two kernels, one fixpoint (component =
    min reachable id). See operators.clustering.star_components."""
    from mapreducemovieanalysis_cloud_spark.operators import dedup
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        star_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(
        docs, n=3, num_hashes=16, bands=4, threshold=0.5
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return star_components(docs, edges)


def _register_star_oracle() -> None:
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _components_oracle,
    )
    from mapreducemovieanalysis_cloud_spark import registry as _r

    _r._ORACLES["dedup_clusters_star"] = _components_oracle()


_register_star_oracle()
