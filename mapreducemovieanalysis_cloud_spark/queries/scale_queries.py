"""Scale-path operators round 2b: runtime-filtered joins, BM25 retrieval,
passage-level dedup, SCD2 interval building, integer histograms.

Each extends a SURVEY.md §2 family with an operator a 100 TB deployment
leans on: bloom prefilters cut fact-side shuffle volume, BM25 is the
retrieval read-path of a curation pipeline, duplicate-passage detection is
the sub-document dedup tier, SCD2 is how mutable entity state becomes
joinable history, and fixed-width histograms are the data-profiling
workhorse. All determinism conventions from the registry docstring apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark.functions.rounding import (
    round_half_up_long,
)

from mapreducemovieanalysis_cloud_spark.operators import (
    aggregates,
    cdc,
    dedup,
    joins,
    pq,
    ranking,
)
from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
    _QUANT,
    _dot,
    _norm2,
)
from mapreducemovieanalysis_cloud_spark.registry import query
from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

_BM25_TERMS = ["join", "vector", "stream"]


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT c.c_nationkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_nationkey < 5
    GROUP BY c.c_nationkey
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined to a filtered customer dim through a broadcast
    Bloom-bucket prefilter: the fact side is semi-filtered map-side before
    its Exchange, and the exact join makes the result identical to the
    plain join the oracle runs."""
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") < 5)
        .select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    )
    joined = joins.bloom_prefilter_join(orders, dim, on="o_custkey")
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(round_half_up_long(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("revenue_cents"),
    )


@query("bm25_rank", oracle=ranking.bm25_oracle_sql(_BM25_TERMS, topk=50))
def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 documents by BM25 (rank-odds IDF, integer micro-unit
    scores) for a three-term query — the retrieval read-path."""
    return ranking.bm25_scores(
        load_table(spark, sf_dir, "documents"), _BM25_TERMS, topk=50
    )


@query(
    "duplicate_passages",
    oracle=r"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    w AS (SELECT doc_id,
                 array_to_string(list_slice(t, i, i + 7), ' ') AS passage
          FROM (SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - 7)) AS i
                FROM toks WHERE len(t) >= 8)),
    g AS (SELECT md5(passage) AS fp,
                 MIN(passage) AS passage,
                 COUNT(DISTINCT doc_id) AS n_docs,
                 COUNT(*) AS n_occurrences,
                 MIN(doc_id) AS first_doc
          FROM w GROUP BY 1)
    SELECT passage, n_docs, n_occurrences, first_doc FROM g
    WHERE n_docs >= 2
    ORDER BY n_occurrences DESC, passage ASC LIMIT 100
    """,
)
def duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate 8-token passages (sub-document dedup
    tier): top-100 by occurrence count."""
    return dedup.duplicate_passages(
        load_table(spark, sf_dir, "documents"), n=8, min_docs=2, topk=100
    )


@query(
    "scd2_user_state",
    oracle="""
    WITH e AS (SELECT user_id, event_id, ts, event_type FROM events),
    b AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                           OR lag(event_type) OVER w <> event_type
                         THEN 1 ELSE 0 END AS chg
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    v AS (SELECT *, SUM(chg) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS version FROM b),
    g AS (SELECT user_id, CAST(version AS BIGINT) AS version,
                 MIN(event_type) AS state, MIN(ts) AS vf,
                 COUNT(*) AS n_events
          FROM v GROUP BY 1, 2)
    SELECT user_id, version, state,
           strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(lead(vf) OVER (
               PARTITION BY user_id ORDER BY version),
               '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00') AS valid_to,
           n_events
    FROM g
    """,
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history of each user's event_type: one row per
    consecutive-state run with half-open validity intervals."""
    return cdc.scd2_intervals(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        state_col="event_type",
        tiebreak_col="event_id",
    )


@query(
    "histogram_totalprice",
    oracle="""
    WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders)
    SELECT cents // 2500000 AS bucket,
           (cents // 2500000) * 2500000 AS bucket_lo_cents,
           COUNT(*) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM c GROUP BY 1, 2
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$25k-wide histogram of order totals in exact integer cents — the
    single-pass profiling histogram."""
    orders = load_table(spark, sf_dir, "orders")
    return aggregates.int_histogram(
        orders,
        round_half_up_long(F.col("o_totalprice") * 100),
        bucket_width_cents=2_500_000,
    )


def _pq_oracle(
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    n_queries: int = 5,
    topk: int = 10,
    tail_sql: str | None = None,
    train_where: str | None = None,
) -> str:
    """Unrolled-CTE mirror of operators.pq (same schedule as the
    kmeans_embeddings oracle: assign/update per iteration, codes from the
    final assign, distance table against the centroids that assign used).

    ``tail_sql`` replaces the default full-corpus ADC + top-k tail; it sees
    the CTEs ``base`` (vec_id, qv), ``codes`` (vec_id, j, code), ``qsub``
    (query_id, j, sv, sn2) and ``dtab`` (query_id, j, code, d2q) — the
    IVF-PQ oracle composes its cell-candidate CTEs on top of these.

    ``train_where`` mirrors ``pq_codes(train_sample=...)``: a SQL predicate
    over ``vec_id`` restricting the INTERMEDIATE Lloyd assigns (codebook
    training) to the sampled vectors; the final encoding assign always
    scans every vector."""
    subdim = dim // m

    def assign(cents: str, out: str, src: str = "pn") -> str:
        return f"""
    {out} AS (SELECT vec_id, j, sv, sn2, cell FROM (
        SELECT p.vec_id, p.j, p.sv, p.sn2, c.cell,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id, p.j
                 ORDER BY p.sn2 - 2 * {_dot('p.sv', 'c.cv')} + c.cn2 ASC,
                          c.cell ASC) AS rn
        FROM {src} p JOIN {cents} c ON p.j = c.j) WHERE rn = 1)"""

    def update(src: str, out: str) -> str:
        return f"""
    {out}_dims AS (SELECT j, cell, i,
                          CAST(ROUND(CAST(SUM(sv[i]) AS DOUBLE) / COUNT(*))
                               AS BIGINT) AS v
                   FROM {src} CROSS JOIN generate_series(1, {subdim}) g(i)
                   GROUP BY j, cell, i),
    {out}_arr AS (SELECT j, cell, list(v ORDER BY i) AS cv
                  FROM {out}_dims GROUP BY j, cell),
    {out} AS (SELECT j, cell, cv, {_norm2('cv')} AS cn2 FROM {out}_arr)"""

    parts = [
        f"""WITH base AS (SELECT vec_id, {_QUANT.format(v='embedding')} AS qv
                  FROM embeddings),
    sub AS (SELECT vec_id, j,
                   list_slice(qv, j * {subdim} + 1, (j + 1) * {subdim}) AS sv
            FROM base CROSS JOIN generate_series(0, {m - 1}) g(j)),
    pn AS (SELECT vec_id, j, sv, {_norm2('sv')} AS sn2 FROM sub),
    c0 AS (SELECT j, vec_id AS cell, sv AS cv, sn2 AS cn2 FROM pn
           WHERE vec_id < {k})"""
    ]
    if train_where is not None:
        parts.append(f"""
    pt AS (SELECT * FROM pn WHERE {train_where})""")
    train_src = "pn" if train_where is None else "pt"
    cents = "c0"
    for it in range(1, iters + 1):
        last = it == iters
        parts.append(assign(cents, f"a{it}", "pn" if last else train_src))
        if not last:
            parts.append(update(f"a{it}", f"c{it}"))
            cents = f"c{it}"
    parts.append(
        f"""
    codes AS (SELECT vec_id, j, cell AS code FROM a{iters}),
    qsub AS (SELECT vec_id AS query_id, j, sv, sn2 FROM pn
             WHERE vec_id < {n_queries}),
    dtab AS (SELECT q.query_id, q.j, c.cell AS code,
                    q.sn2 - 2 * {_dot('q.sv', 'c.cv')} + c.cn2 AS d2q
             FROM qsub q JOIN {cents} c ON q.j = c.j)"""
    )
    if tail_sql is None:
        tail_sql = f"""
    ,adc AS (SELECT d.query_id, co.vec_id AS neighbor_id,
                   CAST(SUM(d.d2q) AS BIGINT) AS adc_d2
            FROM codes co
            JOIN dtab d ON co.j = d.j AND co.code = d.code
            WHERE co.vec_id <> d.query_id
            GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_d2, CAST(rank AS INT) AS rank FROM (
      SELECT query_id, neighbor_id, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
      FROM adc)
    WHERE rank <= {topk}
    """
    return ",".join(parts) + tail_sql


@query("ann_pq", oracle=_pq_oracle())
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: per-subspace codebooks (m=4, k=16, two
    Lloyd rounds), 4-byte codes, asymmetric-distance top-10 for 5 query
    vectors — the compressed-index similarity tier. The build runs 3
    Spark jobs: the seed codebook collect, then the Lloyd update's shuffle
    stage and its codebook collect."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq.ann_pq_topk(emb, queries, topk=10, m=4, k=16, iters=2, dim=64)


# named so the round-12 staged stored-graph consumer can reuse the
# SAME truth verbatim (an incrementally-stored edge list must answer
# triangle counts identically to the from-scratch derivation)
_TRIANGLE_ORACLE = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    pr AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS shared
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                               AND a.l_suppkey < b.l_suppkey
           GROUP BY 1, 2),
    edges AS (SELECT u, v FROM pr WHERE shared >= 20),
    deg AS (SELECT node, COUNT(*) AS deg FROM (
              SELECT u AS node FROM edges
              UNION ALL SELECT v AS node FROM edges) GROUP BY 1),
    o AS (SELECT CASE WHEN du.deg < dv.deg
                        OR (du.deg = dv.deg AND e.u < e.v)
                      THEN e.u ELSE e.v END AS f,
                 CASE WHEN du.deg < dv.deg
                        OR (du.deg = dv.deg AND e.u < e.v)
                      THEN e.v ELSE e.u END AS t
          FROM edges e JOIN deg du ON du.node = e.u
          JOIN deg dv ON dv.node = e.v),
    w AS (SELECT o1.f AS apex, o1.t AS b, o2.t AS c
          FROM o o1 JOIN o o2 ON o1.f = o2.f AND o1.t < o2.t),
    tri AS (SELECT apex, b, c FROM w
            JOIN edges e ON e.u = least(b, c) AND e.v = greatest(b, c)),
    pern AS (SELECT node, COUNT(*) AS n_triangles FROM (
               SELECT apex AS node FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri) GROUP BY 1)
    SELECT node, n_triangles FROM pern
    ORDER BY n_triangles DESC, node ASC LIMIT 50
    """


@query("triangle_counts_suppliers", oracle=_TRIANGLE_ORACLE)
def triangle_counts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation in the supplier co-occurrence graph (edge =
    two suppliers sharing >= 20 orders), degree-ordered wedge counting."""
    from mapreducemovieanalysis_cloud_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li, group_col="l_orderkey", node_col="l_suppkey", min_shared=20
    )
    return graph.triangle_counts(edges, topk=50).select(
        F.col("node"), "n_triangles"
    )


@query(
    "resample_hourly_locf",
    oracle="""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                      CAST(ROUND(value * 100) AS BIGINT) AS cents
               FROM events),
    h AS (SELECT user_id, us // 3600000000 AS hour_idx, us, event_id, cents
          FROM e),
    occ AS (SELECT user_id, hour_idx, COUNT(*) AS n_events FROM h
            GROUP BY 1, 2),
    rk AS (SELECT *, ROW_NUMBER() OVER (
             PARTITION BY user_id, hour_idx
             ORDER BY us DESC, event_id DESC) AS rn FROM h),
    lastv AS (SELECT user_id, hour_idx, cents FROM rk WHERE rn = 1),
    span AS (SELECT user_id, MIN(hour_idx) AS lo, MAX(hour_idx) AS hi
             FROM h GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS hour_idx
             FROM span),
    filled AS (SELECT g.user_id, g.hour_idx,
                      COALESCE(o.n_events, 0) AS n_events,
                      last_value(l.cents IGNORE NULLS) OVER (
                        PARTITION BY g.user_id ORDER BY g.hour_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                      ) AS value_cents
               FROM grid g
               LEFT JOIN occ o ON o.user_id = g.user_id
                              AND o.hour_idx = g.hour_idx
               LEFT JOIN lastv l ON l.user_id = g.user_id
                                AND l.hour_idx = g.hour_idx)
    SELECT user_id,
           strftime(make_timestamp(hour_idx * 3600000000),
                    '%Y-%m-%d %H:%M:%S') AS hour,
           n_events, value_cents
    FROM filled
    """,
)
def resample_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of each user's event stream with last-observation-
    carried-forward values — the regular-grid series feature pipelines
    consume."""
    from mapreducemovieanalysis_cloud_spark.operators import timeseries

    return timeseries.resample_hourly_locf(load_table(spark, sf_dir, "events"))


@query(
    "funnel_conversion",
    oracle="""
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    s0 AS (SELECT user_id, MIN(us) AS t FROM e
           WHERE event_type = 'view' GROUP BY 1),
    s1 AS (SELECT e.user_id, MIN(e.us) AS t FROM e
           JOIN s0 ON e.user_id = s0.user_id
           WHERE e.event_type = 'click' AND e.us > s0.t GROUP BY 1),
    s2 AS (SELECT e.user_id, MIN(e.us) AS t FROM e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'purchase' AND e.us > s1.t GROUP BY 1)
    SELECT CAST(0 AS INT) AS stage_idx, 'view' AS stage,
           (SELECT COUNT(*) FROM s0) AS n_users
    UNION ALL SELECT 1, 'click', (SELECT COUNT(*) FROM s1)
    UNION ALL SELECT 2, 'purchase', (SELECT COUNT(*) FROM s2)
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel: users reaching each stage
    with strictly-increasing first-event times."""
    from mapreducemovieanalysis_cloud_spark.operators import timeseries

    return timeseries.funnel_counts(
        load_table(spark, sf_dir, "events"),
        stages=["view", "click", "purchase"],
    )


@query(
    "outliers_value_z",
    oracle="""
    WITH c AS (SELECT event_id, event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS x
               FROM events),
    st AS (SELECT event_type, COUNT(*) AS n,
                  CAST(SUM(x) AS BIGINT) AS sm,
                  CAST(SUM(x * x) AS BIGINT) AS q
           FROM c GROUP BY 1)
    SELECT c.event_id, c.event_type, c.x AS value_cents
    FROM c JOIN st USING (event_type)
    WHERE (n * c.x - sm) * (n * c.x - sm) > 4 * (n * q - sm * sm)
    """,
)
def outliers_value_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type >2-sigma outliers decided in pure integer arithmetic
    (no sqrt, no float variance) — the engine-exact anomaly gate."""
    events = load_table(spark, sf_dir, "events")
    return aggregates.integer_z_outliers(
        events,
        group_col="event_type",
        id_col="event_id",
        cents_col=round_half_up_long(F.col("value") * 100),
        z_num=2,
        z_den=1,
    )


@query(
    "negative_pairs",
    oracle="""
    WITH keyed AS (SELECT doc_id AS id_a,
             CAST(('0x' || substr(md5('negb:' || CAST(doc_id AS VARCHAR)),
                                  1, 4)) AS INTEGER) % 16 AS b,
             md5('neg:' || CAST(doc_id AS VARCHAR)) AS ord_key
           FROM documents),
    led AS (SELECT id_a,
                   lead(id_a, 1) OVER w AS n1,
                   lead(id_a, 2) OVER w AS n2,
                   lead(id_a, 3) OVER w AS n3
            FROM keyed WINDOW w AS (PARTITION BY b ORDER BY ord_key, id_a))
    SELECT id_a, id_b, CAST(neg_rank AS INT) AS neg_rank FROM (
      SELECT id_a, n1 AS id_b, 1 AS neg_rank FROM led
      UNION ALL SELECT id_a, n2, 2 FROM led
      UNION ALL SELECT id_a, n3, 3 FROM led)
    WHERE id_b IS NOT NULL
    """,
)
def negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling: 3 md5-ordered
    successors per doc within 16 hash buckets — reproducible across
    engines, retries, and appends."""
    from mapreducemovieanalysis_cloud_spark.operators import curation

    return curation.negative_pairs(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        id_col="doc_id",
        k=3,
        num_buckets=16,
        seed="neg",
    )


@query(
    "tokenize_to_ids",
    oracle=r"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    tok AS (SELECT doc_id, i, t[i] AS token
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
                  FROM toks)),
    freq AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY 1
             ORDER BY freq DESC, token ASC LIMIT 40),
    vocab AS (SELECT token,
                     CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC)
                          - 1 AS BIGINT) AS tok_id
              FROM freq),
    enc AS (SELECT tok.doc_id, tok.i, COALESCE(v.tok_id, -1) AS tok_id
            FROM tok LEFT JOIN vocab v USING (token))
    SELECT doc_id,
           string_agg(CAST(tok_id AS VARCHAR), ',' ORDER BY i) AS ids_csv,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN tok_id = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov
    FROM enc GROUP BY doc_id
    """,
)
def tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained top-40 vocabulary, then every document encoded to a
    dense token-id sequence (OOV = -1) — the tokenize-against-vocab pass
    of an LLM data pipeline."""
    from mapreducemovieanalysis_cloud_spark.operators import curation

    return curation.tokenize_with_vocab(
        load_table(spark, sf_dir, "documents"), vocab_size=40
    )


@query(
    "user_event_sequences",
    oracle="""
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS seq,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events GROUP BY user_id
    """,
)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered action sequences (log -> training-sequence pass)
    in one map-side-combined aggregate."""
    from mapreducemovieanalysis_cloud_spark.operators import timeseries

    return timeseries.user_event_sequences(load_table(spark, sf_dir, "events"))


@query(
    "arrow_batch_norms",
    oracle=f"""
    WITH base AS (SELECT vec_id, {_QUANT.format(v='embedding')} AS qv
                  FROM embeddings)
    SELECT vec_id,
           CAST(ROUND(sqrt(CAST({_norm2('qv')} AS DOUBLE))) AS BIGINT)
             AS l2_micro
    FROM base
    """,
)
def arrow_batch_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized L2 norms via a raw-Arrow numpy kernel (mapInArrow) —
    covers the zero-copy batch API tier below pandas_udf; IEEE sqrt is
    correctly rounded so the oracle is bit-exact."""
    from mapreducemovieanalysis_cloud_spark.operators import arrowops

    return arrowops.embedding_norms_arrow(
        load_table(spark, sf_dir, "embeddings")
    )


@query(
    "histogram_equidepth",
    oracle="""
    WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
               FROM orders),
    b AS (SELECT quantile_disc(x, [0.1, 0.2, 0.3, 0.4, 0.5,
                                   0.6, 0.7, 0.8, 0.9]) AS bnds FROM c),
    k AS (SELECT x, CAST(len(list_filter(bnds, e -> e <= x)) AS BIGINT)
                    AS bucket
          FROM c CROSS JOIN b)
    SELECT bucket, COUNT(*) AS n_rows, MIN(x) AS min_cents,
           MAX(x) AS max_cents, CAST(SUM(x) AS BIGINT) AS sum_cents
    FROM k GROUP BY 1
    """,
)
def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile (equi-depth) histogram of order totals: discrete sketch
    quantile boundaries + a map-side membership count — no global sort."""
    orders = load_table(spark, sf_dir, "orders")
    return aggregates.equidepth_histogram(
        orders, round_half_up_long(F.col("o_totalprice") * 100), n_buckets=10
    )


@query(
    "user_value_trend",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS h,
                      CAST(ROUND(value * 100) AS BIGINT) AS y
               FROM events),
    ctr AS (SELECT user_id, MIN(h) AS h0 FROM e GROUP BY 1),
    xy AS (SELECT e.user_id, e.h - c.h0 AS x, e.y
           FROM e JOIN ctr c ON e.user_id = c.user_id),
    m AS (SELECT user_id, COUNT(*) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM xy GROUP BY 1)
    SELECT user_id, n,
           CAST(ROUND(((n * sxy - sx * sy)
                       / CAST(n * sxx - sx * sx AS DOUBLE))
                      * 1000000.0) AS BIGINT) AS slope_micro,
           CAST(ROUND((sy - ((n * sxy - sx * sy)
                             / CAST(n * sxx - sx * sx AS DOUBLE)) * sx)
                      / n) AS BIGINT) AS intercept_cents
    FROM m WHERE n >= 2 AND n * sxx - sx * sx > 0
    """,
)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value trend (cents per hour) by exact-integer-moment least
    squares — regr_slope with a determinism contract. Hours are centered
    on each user's first active hour to keep int64 moments small."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
        round_half_up_long(F.col("value") * 100).alias("y"),
    )
    ctr = e.groupBy("user_id").agg(F.min("h").alias("h0"))
    xy = e.join(ctr, "user_id").select(
        "user_id", (F.col("h") - F.col("h0")).alias("x"), "y"
    )
    return aggregates.grouped_linreg(
        xy, group_col="user_id", x_col=F.col("x"), y_cents_col=F.col("y")
    )


def _ivf_pq_tail(
    n_centroids: int = 8, nprobe: int = 2, n_queries: int = 5, topk: int = 10
) -> str:
    """Cell-candidate CTEs over _pq_oracle's base/codes/qsub/dtab: coarse
    argmax-dot assignment (desc, centroid-id tie-break — mirrors
    the IVF codebook pass), query probes nprobe cells, ADC restricted to
    candidates."""
    return f"""
    ,ccents AS (SELECT vec_id AS cent_id, qv AS cv FROM base
                WHERE vec_id < {n_centroids}),
    cassign AS (SELECT vec_id, cent_id AS cell FROM (
        SELECT b.vec_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                 ORDER BY {_dot('b.qv', 'c.cv')} DESC, c.cent_id ASC) AS rn
        FROM base b, ccents c) WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, cent_id AS cell FROM (
        SELECT b.vec_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                 ORDER BY {_dot('b.qv', 'c.cv')} DESC, c.cent_id ASC) AS rn
        FROM base b, ccents c WHERE b.vec_id < {n_queries}) WHERE rn <= {nprobe}),
    cand AS (SELECT q.query_id, a.vec_id
             FROM cassign a JOIN qprobe q ON a.cell = q.cell),
    adc AS (SELECT d.query_id, co.vec_id AS neighbor_id,
                   CAST(SUM(d.d2q) AS BIGINT) AS adc_d2
            FROM codes co
            JOIN cand x ON co.vec_id = x.vec_id
            JOIN dtab d ON co.j = d.j AND co.code = d.code
                       AND d.query_id = x.query_id
            WHERE co.vec_id <> d.query_id
            GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_d2, CAST(rank AS INT) AS rank FROM (
      SELECT query_id, neighbor_id, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
      FROM adc)
    WHERE rank <= {topk}
    """


@query("ann_ivf_pq", oracle=_pq_oracle(tail_sql=_ivf_pq_tail()))
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (Faiss-IVFPQ shape, relational): coarse cells
    bound WHICH vectors each query scores (nprobe=2 of 8 cells), PQ codes
    bound WHAT each scoring costs (m=4 lookups vs a 64-dim dot) — the two
    reductions compound into the production billion-vector read path.
    The build runs 4 Spark jobs: the IVF codebook collect and ann_pq's 3."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq.ann_ivf_pq_topk(
        emb, queries, topk=10, n_centroids=8, nprobe=2, m=4, k=16, iters=2,
        dim=64,
    )
