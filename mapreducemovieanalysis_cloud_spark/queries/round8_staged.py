"""Round-8 query wave, registered through ``registry.query`` in round 9.

Built and oracle-parity-tested in round 8 while the driver window was
dedicated to rotation debt (36 r03-latest + 14 oldest-r04 rows per the
round-7 ledger item 10).  ``tests/test_round8_staged.py`` runs the
driver-identical Spark-vs-DuckDB parity for every entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreducemovieanalysis_cloud_spark.functions.rounding import (
    round_half_up_long,
)

from mapreducemovieanalysis_cloud_spark.registry import query
from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

def _novelty_oracle() -> str:
    """Shingle CTEs imported from the registered dedup family so the
    novelty measurement uses the production shingle definition."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _SHINGLE_CTES,
    )

    return f"""
    WITH {_SHINGLE_CTES},
    first AS (SELECT shingle, MIN(doc_id) AS first_doc
              FROM sh GROUP BY 1)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN sh.doc_id = f.first_doc
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN sh.doc_id = f.first_doc
                    THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT)
               AS novelty_bp
    FROM sh JOIN first f USING (shingle)
    GROUP BY sh.doc_id
    """


@query("ngram_novelty_curve", oracle=_novelty_oracle())
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-ordering novelty audit: per document (stream order =
    doc_id), the fraction of its distinct 3-token shingles never seen
    in any EARLIER document — the curve a curriculum/ordering decision
    reads (novelty collapsing toward zero marks the point where
    additional data is mostly re-statement), and the corpus-level
    complement of the dedup family: dedup asks "is this doc a copy",
    novelty asks "how much of this doc is new material".

    First-occurrence attribution is an associative MIN per shingle, so
    the "seen before" test needs no ordered scan: min(doc_id) per
    shingle IS the first observer, computed in one gram-keyed partial
    aggregate exactly like token_doc_frequency.

    Scale: the shingle explode is the tokenize-pass floor every dedup
    query already pays; the min-agg collapses map-side to one row per
    distinct shingle (vocabulary-sized, Heaps-law sublinear); the
    join-back is on the same shingle key (no new exchange class under
    AQE) and the verdict rollup is doc-keyed.  Nothing is
    quadratic, nothing windows over the corpus.
    """
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        shingle_sets,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_sets(docs, 3).localCheckpoint(eager=False)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("long"))
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("CAST(n_novel * 10000 DIV n_shingles AS BIGINT)").alias(
                "novelty_bp"
            ),
        )
    )


def lsh_candidates_cte(num_hashes: int = 16, bands: int = 4) -> str:
    """The registered dedup_minhash_lsh oracle's candidate machinery as
    a reusable CTE fragment (sigs/bands/cands, same md5 signature
    scheme) — shared by every calibration oracle that must count
    exactly the pairs the production banding produces (this module's
    jaccard_threshold_sweep, round9_staged's lsh_recall_vs_exact), so
    the SQL twin cannot drift per-consumer."""
    rows = num_hashes // bands
    mins = ",\n      ".join(
        f"MIN(md5('{i}:' || shingle)) AS h{i}" for i in range(num_hashes)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(f"h{b*rows+r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"""
    sigs AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({band_selects}),
    cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id)"""


def _sweep_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """The shared LSH-candidate CTEs with the threshold REMOVED and the
    Jaccard kept in exact integer permille, bucketed into deciles."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _SHINGLE_CTES,
    )

    return f"""
    WITH {_SHINGLE_CTES},
    {lsh_candidates_cte(num_hashes, bands)},
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
              FROM cands c
              JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
              GROUP BY 1, 2),
    jp AS (SELECT LEAST(i.n_common * 1000
                        // (sa.n + sb.n - i.n_common) // 100, 9) AS bucket
           FROM inter i
           JOIN sizes sa ON sa.doc_id = i.doc_a
           JOIN sizes sb ON sb.doc_id = i.doc_b),
    hist AS (SELECT bucket, COUNT(*) AS n_pairs FROM jp GROUP BY 1)
    SELECT CAST(bucket * 100 AS BIGINT) AS bucket_lo_permille,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC) AS BIGINT)
               AS n_pairs_ge
    FROM hist
    """


@query("jaccard_threshold_sweep", oracle=_sweep_oracle())
def jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration curve for the MinHash-LSH dedup: exact
    Jaccard of every LSH candidate pair (no threshold filter),
    histogrammed into permille deciles with a reverse-cumulative
    "pairs at or above this bucket" column — the table you read to
    CHOOSE dedup_minhash_lsh's threshold on a new corpus (how many
    pairs each candidate cutoff accepts), instead of inheriting 0.5 on
    faith.  Complements minhash_estimate_error (which audits the
    estimator; this audits the decision threshold).

    Scale: identical cost to one dedup_minhash_lsh run minus the final
    filter — the candidate population is
    ``dedup.minhash_candidate_jaccard``, the production pipeline's own
    verify machinery factored out (measured population == shipped
    population by construction); the histogram adds a 10-key rollup
    and the cumulative sum runs over AT MOST 10 rows (bucket-sized by
    construction, so the single-partition window is a constant, not a
    scale risk).  Jaccard is bucketed in integer permille
    (n_common*1000 div union) from the kernel's exact integer columns
    — no float division anywhere.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        minhash_candidate_jaccard,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    jp = minhash_candidate_jaccard(docs, n=3, num_hashes=16, bands=4).select(
        F.least(
            F.expr(
                "n_common * 1000 DIV (size_a + size_b - n_common) DIV 100"
            ),
            F.lit(9),
        ).alias("bucket")
    )
    hist = jp.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_pairs"))
    # bucket-sized table (<= 10 rows): the unpartitioned window is a
    # constant-size reduction, not a corpus-sized sort
    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        (F.col("bucket") * 100).cast("long").alias("bucket_lo_permille"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_ge"),
    )


def _nb_oracle() -> str:
    return r"""
    WITH toks AS (SELECT doc_id, source,
                         string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    occ AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    dt AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM occ GROUP BY 1, 2),
    doc_tot AS (SELECT doc_id, SUM(cnt) AS n_d FROM dt GROUP BY 1),
    lab AS (SELECT doc_id, source FROM toks),
    cls AS (SELECT l.source, d.tok, SUM(d.cnt) AS c
            FROM dt d JOIN lab l USING (doc_id) GROUP BY 1, 2),
    tot AS (SELECT source, SUM(c) AS t FROM cls GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT tok) AS v FROM dt),
    term AS (SELECT cls.source, cls.tok,
                    CAST(ROUND(ln((cls.c + 1.0) / (tot.t + v.v))
                         * 1000000) AS BIGINT) AS lp_micro
             FROM cls JOIN tot USING (source) CROSS JOIN v),
    base AS (SELECT tot.source,
                    CAST(ROUND(ln(1.0 / (tot.t + v.v))
                         * 1000000) AS BIGINT) AS lp0_micro
             FROM tot CROSS JOIN v),
    matched AS (SELECT d.doc_id, term.source,
                       SUM(d.cnt * term.lp_micro) AS mscore_micro,
                       SUM(d.cnt) AS mcnt
                FROM dt d JOIN term ON term.tok = d.tok
                GROUP BY 1, 2),
    grid AS (SELECT doc_tot.doc_id, doc_tot.n_d, base.source,
                    base.lp0_micro
             FROM doc_tot CROSS JOIN base),
    scores AS (SELECT g.doc_id, g.source,
                      CAST(COALESCE(m.mscore_micro, 0)
                           + (g.n_d - COALESCE(m.mcnt, 0)) * g.lp0_micro
                           AS BIGINT) AS score_micro
               FROM grid g
               LEFT JOIN matched m
                 ON m.doc_id = g.doc_id AND m.source = g.source),
    pred AS (SELECT doc_id, source AS pred_source,
                    score_micro AS score_pred_micro
             FROM (SELECT doc_id, source, score_micro,
                          ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score_micro DESC, source) AS r
                   FROM scores) WHERE r = 1)
    SELECT l.doc_id, l.source,
           s.score_micro AS score_own_micro,
           p.pred_source, p.score_pred_micro,
           CAST(CASE WHEN p.pred_source = l.source
                THEN 1 ELSE 0 END AS BIGINT) AS correct
    FROM lab l
    JOIN scores s ON s.doc_id = l.doc_id AND s.source = l.source
    JOIN pred p ON p.doc_id = l.doc_id
    """


@query("quality_nb_scores", oracle=_nb_oracle())
def quality_nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes source classifier, trained and scored in
    one distributed pass — the deterministic analog of the
    fasttext-style linear quality/domain classifier every modern
    pretraining pipeline runs (CCNet's LM is the fluency signal;
    this is the domain-attribution signal: a doc whose own source is
    NOT its argmax class reads like another source's text, the
    standard "quality = looks like the target domain" filter).
    Per doc: its own-source log-likelihood, the argmax source, and a
    correctness bit (the corpus-level mean of which is the
    classifier's resubstitution accuracy).

    Determinism: each per-(source, token) log-likelihood TERM is
    micro-rounded to BIGINT before any summation (the round4b Gram
    pattern — quantize the leaves, then sum exactly), so score_micro
    is a pure integer expression whose value is identical under ANY
    summation order: Spark's partial aggregation and DuckDB's
    sequential sum cannot diverge by even one unit, and the argmax
    (ties break on source name) is a pure integer comparison in both
    engines.  The only double op left is the single libm
    ln((c+1)/(T+V)) per term — the same expression both engines
    evaluate on identical integer inputs (the ngram_lm pattern); the
    r08 advisor flagged the previous shape (round AFTER a
    non-associative double SUM) as flaky at .5-micro boundaries on
    larger corpora.  Quantizing the term instead of the sum shifts
    each doc score by at most n_d half-micro — noise for a
    classifier — and makes the score summation-ORDER-invariant within
    an engine.  It does NOT make the per-term value platform-exact:
    each term still depends on one libm ln (JVM Math.log vs C log can
    differ in the last ulp) and on the engine's rounding mode at an
    exact .5-micro boundary (Spark F.round is HALF_UP, Python round is
    banker's), so an independent replay may differ by up to 1 micro
    per term; the brute-force test asserts |diff| <= n_terms and
    margin-guarded argmax stability accordingly (r09 advisor item).
    The DuckDB oracle is unaffected: both engines round the same
    ROUND(x * 1e6) expression over the same join, and any residual
    divergence would surface as a driver hash mismatch, not a silent
    wrong answer.

    Scale: the (source, token) class-count table is vocabulary x
    n_sources (Heaps-law sublinear), built by one token-keyed partial
    agg; scoring joins doc term counts to class terms ON TOKEN (the
    ngram_lm score-join shape — never a broadcast of an unbounded
    vocab), producing at most n_sources x token_rows intermediate rows
    (n_sources is a bounded catalog, 10 here); the absent-token
    smoothing mass is closed-form ((n_d - matched) * lp0) so the grid
    never materializes vocab-sized rows per doc.  The per-source
    totals and base terms broadcast as n_sources-row tables.
    """
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    occ = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    dt = occ.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    dt = dt.localCheckpoint(eager=False)  # reused: class counts + scoring
    doc_tot = dt.groupBy("doc_id").agg(F.sum("cnt").alias("n_d"))
    lab = docs.select("doc_id", "source")
    cls = (
        dt.join(lab, "doc_id")
        .groupBy("source", "tok")
        .agg(F.sum("cnt").alias("c"))
    )
    tot = cls.groupBy("source").agg(F.sum("c").alias("t"))
    v = dt.select("tok").distinct().agg(F.count(F.lit(1)).alias("v"))
    term = cls.join(F.broadcast(tot), "source").crossJoin(
        F.broadcast(v)
    ).select(
        "source",
        "tok",
        round_half_up_long(
            F.log((F.col("c") + F.lit(1.0)) / (F.col("t") + F.col("v")))
            * F.lit(1_000_000)
        ).alias("lp_micro"),
    )
    base = tot.crossJoin(F.broadcast(v)).select(
        "source",
        round_half_up_long(
            F.log(F.lit(1.0) / (F.col("t") + F.col("v"))) * F.lit(1_000_000)
        ).alias("lp0_micro"),
    )
    matched = (
        dt.join(term, "tok")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("cnt") * F.col("lp_micro")).alias("mscore_micro"),
            F.sum("cnt").alias("mcnt"),
        )
    )
    grid = doc_tot.crossJoin(F.broadcast(base))
    scores = grid.join(matched, ["doc_id", "source"], "left").select(
        "doc_id",
        "source",
        F.expr(
            "COALESCE(mscore_micro, 0)"
            " + (n_d - COALESCE(mcnt, 0)) * lp0_micro"
        )
        .cast("long")
        .alias("score_micro"),
    )
    scores = scores.localCheckpoint(eager=False)  # reused: pred + own
    # arg-max source per doc: min_by over (-score, source) — the
    # canonical_survivors shape (max score, ties -> min source name),
    # deterministic because scores are already integer micro units
    pred = scores.groupBy("doc_id").agg(
        F.min_by(
            F.struct(
                F.col("source").alias("pred_source"),
                F.col("score_micro").alias("score_pred_micro"),
            ),
            F.struct(
                (-F.col("score_micro")).alias("_ns"),
                F.col("source").alias("_src"),
            ),
        ).alias("p")
    ).select("doc_id", "p.pred_source", "p.score_pred_micro")
    return (
        lab.join(
            scores.withColumnRenamed("score_micro", "score_own_micro"),
            ["doc_id", "source"],
        )
        .join(pred, "doc_id")
        .select(
            "doc_id",
            "source",
            "score_own_micro",
            "pred_source",
            "score_pred_micro",
            (F.col("pred_source") == F.col("source"))
            .cast("long")
            .alias("correct"),
        )
    )


def _recall_pq_oracle(n_queries: int = 5, topk: int = 10) -> str:
    """The registered ann_pq oracle chain (_pq_oracle, verbatim) with a
    recall tail: PQ ADC top-k LEFT-joined against the exact integer-L2
    top-k computed over the same quantized ``base`` CTE — so the ground
    truth and the index read the identical vectors."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _dot,
        _norm2,
    )
    from mapreducemovieanalysis_cloud_spark.queries.scale_queries import (
        _pq_oracle,
    )

    d2 = (
        f"{_norm2('q.qv')} - 2 * {_dot('q.qv', 'c.qv')} + {_norm2('c.qv')}"
    )
    tail = f"""
    ,adc AS (SELECT d.query_id, co.vec_id AS neighbor_id,
                   CAST(SUM(d.d2q) AS BIGINT) AS adc_d2
            FROM codes co
            JOIN dtab d ON co.j = d.j AND co.code = d.code
            WHERE co.vec_id <> d.query_id
            GROUP BY 1, 2),
    ptop AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
               FROM adc) WHERE rank <= {topk}),
    etop AS (SELECT query_id, neighbor_id FROM (
               SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY q.vec_id
                        ORDER BY {d2} ASC, c.vec_id ASC) AS rank
               FROM base q, base c
               WHERE q.vec_id < {n_queries} AND c.vec_id <> q.vec_id)
             WHERE rank <= {topk})
    SELECT e.query_id,
           CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits,
           CAST((COUNT(p.neighbor_id) * 1000000) // {topk} AS BIGINT)
             AS recall_micro
    FROM etop e LEFT JOIN ptop p
      ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """
    return _pq_oracle(n_queries=n_queries, topk=topk, tail_sql=tail)


@query("ann_recall_pq", oracle=_recall_pq_oracle())
def ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ compressed index against exact integer-L2
    ground truth, per query — the measured-recall tier for the one ANN
    variant that did not have one (IVF has ann_recall_ivf): PQ's loss
    is quantization error in the codes, exactly what this measures.
    Ground truth is L2 (the metric ADC approximates), computed over the
    SAME micro-quantized int64 vectors the codes are trained on, so the
    comparison isolates code error from metric or quantization
    mismatch.

    Scale: ground truth scores a bounded query SAMPLE (5 queries)
    against the corpus once — |sample| x corpus multiply-adds behind a
    broadcast of the sample, the ann_bruteforce shape; the PQ side is
    the registered ann_pq subtree verbatim; the recall join is
    k-rows-per-query on both sides (evaluation.recall_at_k)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.vector import (
        qdot_arrow,
        qnorm2,
        quantize,
    )
    from mapreducemovieanalysis_cloud_spark.operators import evaluation, pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        quantize("embedding").alias("qb"),
    ).withColumn("bn2", qnorm2(F.col("qb")))
    q = queries_df.select(
        "query_id", quantize("embedding").alias("qa")
    ).withColumn("an2", qnorm2(F.col("qa")))
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.col("an2")
                - 2 * qdot_arrow(F.col("qa"), F.col("qb"))
                + F.col("bn2")
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "neighbor_id")
    )
    approx = pq.ann_pq_topk(
        emb, queries_df, topk=10, m=4, k=16, iters=2, dim=64
    )
    return evaluation.recall_at_k(approx, exact, k=10)


def _cosine_sweep_oracle() -> str:
    """The registered dedup_embedding_cosine oracle with the threshold
    opened to -1.0 (every SRP candidate kept), wrapped in the decile
    histogram — candidate machinery stays in lockstep by embedding."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _cosine_pairs_oracle,
    )

    return f"""
    WITH allp AS ({_cosine_pairs_oracle(threshold=-1.0)}),
    jp AS (SELECT LEAST((CAST(ROUND(cosine * 1000000) AS BIGINT)
                         + 1000000) // 100000, 19) AS bucket
           FROM allp),
    hist AS (SELECT bucket, COUNT(*) AS n_pairs FROM jp GROUP BY 1)
    SELECT CAST(bucket * 100 - 1000 AS BIGINT) AS bucket_lo_permille,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC) AS BIGINT)
               AS n_pairs_ge
    FROM hist
    """


@query("cosine_threshold_sweep", oracle=_cosine_sweep_oracle())
def cosine_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration curve for the EMBEDDING near-dup family
    (the jaccard_threshold_sweep twin): exact cosine of every multi-band
    SRP candidate pair, histogrammed into 0.1-wide buckets over [-1, 1)
    with reverse-cumulative counts — the table that calibrates
    dedup_embedding_cosine's threshold on a new embedding space (0.4 is
    corpus-specific: a different encoder shifts the whole similarity
    distribution).

    The candidate set is the PRODUCTION one by construction:
    ``cosine_dup_pairs(threshold=-1.0)`` runs the registered query's
    exact machinery (same SRP planes, same banding, same verify join)
    with the final filter opened, so the sweep counts precisely the
    pairs the dedup could ever see.  Bucketing shifts the micro-rounded
    cosine by +1e6 before integer division so the arithmetic never
    divides a negative (Spark DIV truncates toward zero, DuckDB //
    floors — identical only on non-negatives).

    Scale: one dedup_embedding_cosine minus its filter; the histogram
    adds a 20-key rollup and a constant-size (<= 20 rows) cumulative
    window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        cosine_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    allp = cosine_dup_pairs(
        emb, threshold=-1.0, num_planes=6, num_bands=3
    )
    jp = allp.select(
        F.expr(
            "LEAST((CAST(ROUND(cosine * 1000000) AS BIGINT) + 1000000)"
            " DIV 100000, 19)"
        ).alias("bucket")
    )
    hist = jp.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_pairs"))
    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        (F.col("bucket") * 100 - 1000)
        .cast("long")
        .alias("bucket_lo_permille"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_ge"),
    )


def _hamming_hist_oracle() -> str:
    """The pigeonhole candidate machinery in SQL (blocks unioned from
    the shared _simhash64_sigs_cte signature chain — the same CTEs the
    registered dedup_simhash_pairs oracle derives from), histogrammed
    by exact hamming distance with an ascending cumulative."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _SIM64_HAM,
        _simhash64_sigs_cte,
    )

    blocks = "\n      UNION ALL ".join(
        f"SELECT doc_id, {j} AS j, b{j} AS key FROM sigs" for j in range(4)
    )
    return f"""
    WITH {_simhash64_sigs_cte()},
    bl AS ({blocks}),
    cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
              FROM bl x JOIN bl y
                ON x.j = y.j AND x.key = y.key AND x.doc_id < y.doc_id),
    hh AS (SELECT CAST({_SIM64_HAM} AS INT) AS hamming
           FROM cands c
           JOIN sigs a ON a.doc_id = c.doc_a
           JOIN sigs b ON b.doc_id = c.doc_b),
    hist AS (SELECT hamming, COUNT(*) AS n_pairs FROM hh GROUP BY 1)
    SELECT hamming,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY hamming ASC) AS BIGINT)
               AS n_pairs_le
    FROM hist
    """


@query("simhash_hamming_histogram", oracle=_hamming_hist_oracle())
def simhash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration curve for the SimHash family — the third
    leg of the calibration triad (jaccard_threshold_sweep for MinHash,
    cosine_threshold_sweep for embeddings): exact hamming distance of
    every pigeonhole candidate pair, histogrammed with an ascending
    "pairs at or below this distance" cumulative.  Buckets 0..3 are
    EXACT corpus-wide counts (the 4x16-bit blocking is provably
    complete at hamming <= 3); larger distances count the observable
    candidate population — the table you read to pick
    dedup_simhash_pairs' max_hamming and to see how sharply similarity
    decays past the pigeonhole guarantee.

    Scale: the candidate generator is the production one by
    construction (``dedup.simhash_candidate_hamming`` — simhash_pairs
    is exactly this frame filtered); the histogram adds a <=65-key
    rollup and a constant-size cumulative window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        simhash_candidate_hamming,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hh = simhash_candidate_hamming(docs)
    hist = hh.groupBy("hamming").agg(F.count(F.lit(1)).alias("n_pairs"))
    w = Window.orderBy(F.col("hamming").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        "hamming",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_le"),
    )


def _containment_sweep_oracle() -> str:
    """The registered containment_pairs oracle embedded verbatim,
    histogrammed by permille decile over the operating-threshold-and-
    above range it covers exactly."""
    from mapreducemovieanalysis_cloud_spark.queries.round4i_queries import (
        _CONTAINMENT_ORACLE,
    )

    return f"""
    WITH pairs AS ({_CONTAINMENT_ORACLE}),
    jp AS (SELECT LEAST(containment_permille // 100, 10) AS bucket
           FROM pairs),
    hist AS (SELECT bucket, COUNT(*) AS n_pairs FROM jp GROUP BY 1)
    SELECT CAST(bucket * 100 AS BIGINT) AS bucket_lo_permille,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC) AS BIGINT)
               AS n_pairs_ge
    FROM hist
    """


@query("containment_threshold_sweep", oracle=_containment_sweep_oracle())
def containment_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Threshold-calibration curve for the containment (doc-in-doc)
    detector — the fourth calibration leg: the registered
    containment_pairs output (t = 1/2, directional) histogrammed by
    permille decile with reverse-cumulative counts; bucket 1000 is
    full containment (exact sub-documents), a distinct class worth
    seeing separately.

    Honesty note baked into the shape: containment's PREFIX scheme
    depends on the threshold, so the candidate set at t=1/2 is exact
    only for containment >= 500 permille — this sweep therefore covers
    the operating-threshold-and-above range (raising the threshold is
    an exact read off this table; lowering it requires re-running the
    detector at the lower t).  The minhash/simhash/cosine sweeps have
    no such floor because their candidate generators are
    threshold-independent.

    Scale: the registered operator's cost plus a <=6-key rollup and a
    constant-size cumulative window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = containment_pairs(docs)
    jp = pairs.select(
        F.least(
            F.expr("containment_permille DIV 100"), F.lit(10)
        ).alias("bucket")
    )
    hist = jp.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_pairs"))
    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        (F.col("bucket") * 100).cast("long").alias("bucket_lo_permille"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_ge"),
    )


def _decon_sweep_oracle() -> str:
    """The registered decontaminate_batch oracle embedded verbatim,
    rolled up into the shared-fingerprint-count histogram."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _DECONTAMINATE_ORACLE,
    )

    return f"""
    WITH scored AS ({_DECONTAMINATE_ORACLE}),
    jp AS (SELECT LEAST(n_shared, 20) AS n_shared_capped FROM scored),
    hist AS (SELECT n_shared_capped, COUNT(*) AS n_docs
             FROM jp GROUP BY 1)
    SELECT CAST(n_shared_capped AS BIGINT) AS n_shared_capped,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(SUM(n_docs) OVER (ORDER BY n_shared_capped DESC)
                AS BIGINT) AS n_docs_ge
    FROM hist
    """


@query("decontamination_overlap_sweep", oracle=_decon_sweep_oracle())
def decontamination_overlap_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Threshold-calibration curve for the decontamination gate — the
    fifth calibration leg: the registered decontaminate_batch per-doc
    shared-winnowing-fingerprint counts histogrammed (capped at 20)
    with a descending cumulative, so every candidate ``min_shared``
    reads off as "this many batch docs would be flagged".  The
    registered gate's min_shared=10 sits mid-table by design —
    choose it from this curve per corpus instead of inheriting it.

    The scored population is the PRODUCTION one by construction:
    ``dedup.decontaminate`` emits every batch doc with its overlap
    count unfiltered (the contaminated flag is advisory), so the sweep
    is a pure rollup of the registered operator's output — no parallel
    machinery to desynchronize.

    Scale: the registered operator's cost plus a <=21-key rollup and a
    constant-size cumulative window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    batch_srcs = ["src0", "src1", "src2", "src3", "src4"]
    # two filtered frames deliberately — see decontaminate_batch's note
    # (shared-scan variant measured a LOSS; the kept win is the
    # single-join scoring tail in dedup.decontaminate)
    scored = dedup.decontaminate(
        docs.where(F.col("source").isin(batch_srcs)),
        docs.where(~F.col("source").isin(batch_srcs)),
        n=3,
        window=4,
        min_shared=10,
    )
    jp = scored.select(
        F.least(F.col("n_shared"), F.lit(20)).alias("n_shared_capped")
    )
    hist = jp.groupBy("n_shared_capped").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.orderBy(F.col("n_shared_capped").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        F.col("n_shared_capped").cast("long").alias("n_shared_capped"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.sum("n_docs").over(w).cast("long").alias("n_docs_ge"),
    )
