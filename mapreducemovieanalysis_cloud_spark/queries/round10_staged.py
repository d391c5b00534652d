"""Round-10 query wave, registered through ``registry.query`` in
round 10.

Built and oracle-parity-tested in round 8 while round 8's driver window
was rotation-only and round 9's 50 slots were already fully committed
(SURVEY.md round-8 ledger item 7).  ``tests/test_round10_staged.py``
runs the driver-identical Spark-vs-DuckDB parity for every entry.

What the wave adds:

* ``bootstrap_mean_chars_ci`` — deterministic POISSON bootstrap
  confidence bands (the resampling scheme that actually distributes:
  per-row Poisson(1) replica weights instead of a coordinated
  corpus-wide draw), the uncertainty tier the statistics family
  lacked — every mean/ratio report so far is a point estimate.
* ``decontaminate_span_report`` — span-level benchmark scrub: instead
  of decontaminate's drop-the-whole-doc verdict, locate the maximal
  contaminated token runs and report how much of each document
  survives (the GPT-3/PaLM-style n-gram scrub).
* ``source_repeat_schedule`` — the token-budget repeat planner
  (data-constrained scaling: uniform source slices under a 4-epoch
  repeat cap, with the binding constraint surfaced per source).
* ``incremental_lm_scores`` — the n-gram LM joins the incremental
  stores (counts add, vocab unions: merged model == full rebuild,
  same oracle, O(batch) maintenance).
* ``embedding_batch_drift`` — per-label centroid cosine/L2 between a
  reference and a current embedding window: the re-embedding
  regression alarm upstream of every stored ANN index.
* ``ab_uplift_ci`` — hash-split A/B uplift with a paired
  Poisson-bootstrap CI on the difference, the experimentation
  primitive for recipe changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreducemovieanalysis_cloud_spark.functions.rounding import (
    round_half_up_long,
)

from mapreducemovieanalysis_cloud_spark.registry import query
from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

# ---- Poisson-bootstrap confidence bands -------------------------------------

_BOOT_B = 32


def _bootstrap_oracle(b: int = _BOOT_B) -> str:
    """Identical Poisson(1) thresholds and md5 draw as the operator —
    the weights are a pure integer function of (doc_id, replica) in
    both engines."""
    from mapreducemovieanalysis_cloud_spark.operators.aggregates import (
        POISSON1_T32,
    )

    w_expr = " + ".join(
        f"CASE WHEN u >= {t} THEN 1 ELSE 0 END" for t in POISSON1_T32
    )
    lo_rank = 2
    hi_rank = -(-95 * b // 100)
    return f"""
    WITH rep AS (SELECT source, doc_id, n_chars, r
                 FROM documents,
                      unnest(generate_series(0, {b - 1})) AS g(r)),
    u AS (SELECT source, r, n_chars,
                 CAST(('0x' || substr(md5('boot:'
                        || CAST(doc_id AS VARCHAR) || ':'
                        || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT) AS u
          FROM rep),
    wt AS (SELECT source, r, n_chars, {w_expr} AS w FROM u),
    per AS (SELECT source, r,
                   CAST(CASE WHEN SUM(w) = 0 THEN 0
                        ELSE SUM(w * n_chars) * 1000000 // SUM(w) END
                        AS BIGINT) AS m
            FROM wt GROUP BY 1, 2),
    rk AS (SELECT source, m, ROW_NUMBER() OVER (
             PARTITION BY source ORDER BY m, r) AS rk FROM per),
    ci AS (SELECT source,
                  MAX(CASE WHEN rk = {lo_rank} THEN m END)
                    AS ci_lo_micro,
                  MAX(CASE WHEN rk = {hi_rank} THEN m END)
                    AS ci_hi_micro
           FROM rk GROUP BY source),
    base AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
                    CAST(SUM(n_chars) * 1000000 // COUNT(*) AS BIGINT)
                      AS mean_micro
             FROM documents GROUP BY source)
    SELECT b.source, b.n_rows, b.mean_micro,
           ci.ci_lo_micro, ci.ci_hi_micro
    FROM base b JOIN ci USING (source)
    """


@query("bootstrap_mean_chars_ci", oracle=_bootstrap_oracle())
def bootstrap_mean_chars_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean document length with a deterministic
    Poisson-bootstrap 90% confidence band (B = {b} replicas) — the
    uncertainty tier the statistics family lacked: every report so far
    (quality means, PSI, drift, calibration) is a point estimate, and
    a mixing/gating decision between two sources needs to know whether
    their difference exceeds the resampling noise.

    Poisson bootstrap is the scheme that actually distributes: the
    classic multinomial bootstrap needs a coordinated corpus-wide draw
    per replica, while a per-row Poisson(1) weight (independent across
    rows AND replicas) lets all B replicas ride one scan as map-side
    conditional partials — the large-scale-bootstrap standard.

    Determinism: weights are a pure integer function of
    md5(boot:doc_id:replica) against baked-in 32-bit inverse-CDF
    thresholds (operators/aggregates.POISSON1_T32 — identical literals
    in the oracle); replica means are integer micro-ratios; the CI
    bounds are order statistics with the replica id as tie-break.
    Engine-exact end to end.

    Scale: the B-way explode is map-side CPU only — the (source,
    replica) partial aggregate combines before the shuffle, so shuffle
    volume is |sources| x B rows regardless of corpus size; the rank
    window orders B rows per source."""
    from mapreducemovieanalysis_cloud_spark.operators.aggregates import (
        poisson_bootstrap_mean_ci,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return poisson_bootstrap_mean_ci(
        docs, ["source"], "n_chars", "doc_id", b=_BOOT_B
    )


bootstrap_mean_chars_ci.__doc__ = bootstrap_mean_chars_ci.__doc__.format(
    b=_BOOT_B
)


# ---- span-level decontamination ---------------------------------------------

_BATCH_SRCS = ["src0", "src1", "src2", "src3", "src4"]

_SPAN_ORACLE = r"""
    WITH bt AS (SELECT doc_id,
                       string_split_regex(trim(text), '\s+') AS t
                FROM documents
                WHERE source IN ('src0','src1','src2','src3','src4')),
    sz AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM bt),
    bg AS (SELECT doc_id, i - 1 AS pos,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
           FROM bt, unnest(generate_series(1, len(t) - 2)) AS g(i)
           WHERE len(t) >= 3),
    rt AS (SELECT string_split_regex(trim(text), '\s+') AS t
           FROM documents
           WHERE source NOT IN ('src0','src1','src2','src3','src4')),
    rg AS (SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
           FROM rt, unnest(generate_series(1, len(t) - 2)) AS g(i)
           WHERE len(t) >= 3),
    hits AS (SELECT bg.doc_id, bg.pos FROM bg JOIN rg USING (gram)),
    flg AS (SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                          OR pos > lag(pos) OVER w + 2
                        THEN 1 ELSE 0 END AS ns
            FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    isl AS (SELECT doc_id, pos,
                   SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS span_id
            FROM flg),
    spans AS (SELECT doc_id, span_id,
                     MAX(pos) - MIN(pos) + 3 AS covered
              FROM isl GROUP BY 1, 2),
    per AS (SELECT doc_id, COUNT(*) AS n_spans,
                   SUM(covered) AS n_cont
            FROM spans GROUP BY 1)
    SELECT sz.doc_id, sz.n_tokens,
           CAST(COALESCE(per.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(per.n_cont, 0) AS BIGINT)
             AS n_contaminated_tokens,
           CAST(sz.n_tokens - COALESCE(per.n_cont, 0) AS BIGINT)
             AS n_clean_tokens,
           CAST((sz.n_tokens - COALESCE(per.n_cont, 0)) * 1000
                // GREATEST(sz.n_tokens, 1) AS BIGINT)
             AS clean_permille
    FROM sz LEFT JOIN per USING (doc_id)
    """


@query("decontaminate_span_report", oracle=_SPAN_ORACLE)
def decontaminate_span_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Span-level benchmark scrub over the decontaminate_batch split
    (src0-4 = incoming batch, the rest = reference): per batch doc,
    the maximal contaminated token runs (exact 3-grams occurring
    anywhere in the reference, merged when their token intervals
    touch) and the surviving clean-token budget — the verdict that
    keeps a mostly-clean document instead of dropping it for one
    quoted line, and the input a scrub-then-train pipeline feeds to
    chunking (operators/dedup.decontaminate_spans).

    Scale posture in the operator docstring: reference collapses to
    DISTINCT grams pre-join; span merging windows over matched
    positions PER DOC only; clean docs get their row via the doc-keyed
    LEFT join. All-integer interval arithmetic — engine-exact."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        decontaminate_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("source").isin(_BATCH_SRCS))
    reference = docs.where(~F.col("source").isin(_BATCH_SRCS))
    return decontaminate_spans(batch, reference, n=3)


# ---- token-budget repeat schedule -------------------------------------------

_BUDGET_X_MILLI = 2000  # token budget = 2.0x the corpus total
_MAX_EPOCHS_MILLI = 4000  # per-source repeat cap = 4.0 epochs

_REPEAT_ORACLE = rf"""
    WITH per AS (SELECT source,
                        CAST(SUM(len(string_split_regex(trim(text),
                             '\s+'))) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_tokens) AS t, COUNT(*) AS n_sources FROM per),
    plan AS (SELECT p.source, p.n_tokens,
                    CAST(p.n_tokens * 1000000 // tot.t AS BIGINT)
                      AS share_ppm,
                    -- uniform-weight request: every source gets an
                    -- equal slice of the budget (upsamples small
                    -- sources), then the epoch cap binds
                    CAST((tot.t * {_BUDGET_X_MILLI} // 1000)
                         // tot.n_sources AS BIGINT) AS requested,
                    CAST(LEAST(
                         (tot.t * {_BUDGET_X_MILLI} // 1000)
                           // tot.n_sources,
                         p.n_tokens * {_MAX_EPOCHS_MILLI} // 1000)
                         AS BIGINT) AS allocated
             FROM per p CROSS JOIN tot)
    SELECT source, n_tokens, share_ppm, requested, allocated,
           CAST(allocated * 1000 // GREATEST(n_tokens, 1) AS BIGINT)
             AS epochs_milli,
           CAST(requested - allocated AS BIGINT) AS shortfall,
           CAST(CASE WHEN requested > allocated THEN 1 ELSE 0 END
                AS INT) AS cap_bound
    FROM plan
    """


@query("source_repeat_schedule", oracle=_REPEAT_ORACLE)
def source_repeat_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget repeat planner: given a training budget of
    {bx:.1f}x the corpus and a {me:.1f}-epoch per-source repeat cap
    (the data-constrained-scaling rule of thumb — repeating beyond ~4
    epochs stops buying loss), allocate tokens per source under
    uniform source weights (equal budget slices upsample small
    sources) and report each source's resulting epoch count, its
    shortfall against the request, and whether the CAP was the
    binding constraint — the table a mixing decision reads to see
    which sources are repeat-limited (need more data, not more
    budget) before anyone launches a run.

    Exactness: token counts are integers; every share/epoch is an
    integer milli/ppm division — engine-identical.

    Scale: one tokenize-count aggregate (|sources| rows), a 1-row
    totals broadcast, map-side arithmetic. The planner itself costs
    one corpus scan regardless of budget."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.text import (
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    per = docs.groupBy("source").agg(
        F.sum(token_count("text")).cast("long").alias("n_tokens")
    )
    tot = per.agg(
        F.sum("n_tokens").alias("t"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    plan = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr("CAST(n_tokens * 1000000 DIV t AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr(
            f"CAST((t * {_BUDGET_X_MILLI} DIV 1000) DIV n_sources"
            " AS BIGINT)"
        ).alias("requested"),
        F.expr(
            f"CAST(LEAST((t * {_BUDGET_X_MILLI} DIV 1000) DIV n_sources,"
            f" n_tokens * {_MAX_EPOCHS_MILLI} DIV 1000) AS BIGINT)"
        ).alias("allocated"),
    )
    return plan.select(
        "source",
        "n_tokens",
        "share_ppm",
        "requested",
        "allocated",
        F.expr(
            "CAST(allocated * 1000 DIV GREATEST(n_tokens, 1) AS BIGINT)"
        ).alias("epochs_milli"),
        F.expr("CAST(requested - allocated AS BIGINT)").alias("shortfall"),
        F.expr(
            "CAST(CASE WHEN requested > allocated THEN 1 ELSE 0 END"
            " AS INT)"
        ).alias("cap_bound"),
    )


source_repeat_schedule.__doc__ = source_repeat_schedule.__doc__.format(
    bx=_BUDGET_X_MILLI / 1000, me=_MAX_EPOCHS_MILLI / 1000
)


# ---- incremental n-gram LM store --------------------------------------------


def _incremental_lm_oracle() -> str:
    """The registered ngram_lm_scores oracle VERBATIM: the incremental
    store's merged model must equal a full-corpus rebuild exactly
    (counts add, vocab unions), so the strongest possible oracle is
    the full-rebuild scoring itself."""
    from mapreducemovieanalysis_cloud_spark.queries.round7_staged import (
        _NGRAM_LM_ORACLE,
    )

    return _NGRAM_LM_ORACLE


@query("incremental_lm_scores", oracle=_incremental_lm_oracle())
def incremental_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scores every document against an INCREMENTALLY-maintained
    bigram add-1 LM: the corpus arrives as two batches (doc_id
    parity), each appended to a persistent count store at O(batch)
    (operators/ngram_lm.incremental_ngram_append — the idempotent
    epoch layout the fingerprint store uses), and scoring reads the
    merged model.  Because n-gram/context counts merge by addition
    and the vocabulary by set union, the merged model is EXACTLY the
    full-corpus rebuild — same oracle as the registered
    ngram_lm_scores, no weaker tier — while the maintenance cost of
    a new ingest day is its own token count, never a history rescan.

    Scale: stored state is count tables (Heaps-law sublinear in
    corpus bytes); the merge is one groupBy per table over batch-count
    rows; scoring is the registered score_documents kernel
    unchanged."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import ngram_lm
    from mapreducemovieanalysis_cloud_spark.operators.storecache import (
        cached_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _build(build: str) -> None:
        ngram_lm.incremental_ngram_append(
            docs.where(F.col("doc_id") % 2 == 0), build, "b0"
        )
        ngram_lm.incremental_ngram_append(
            docs.where(F.col("doc_id") % 2 == 1), build, "b1"
        )

    # cache key = data fingerprint + the operator-owned behavior
    # version, so a change to incremental_ngram_append (n,
    # tokenization, layout) invalidates cached counts by construction
    # (r09 advisor item); protocol owned by operators/storecache
    store = cached_store(
        sf_dir,
        "spark_graft_lm_inc",
        ngram_lm.INCREMENTAL_STORE_VERSION,
        "documents",
        _build,
    )
    model = ngram_lm.incremental_ngram_model(spark, store)
    return ngram_lm.score_documents(docs, model)


# ---- embedding batch drift --------------------------------------------------

_DRIFT_ORACLE = """
    WITH q AS (SELECT vec_id, label, vec_id % 2 AS b,
                      [CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                       FOR x IN embedding] AS mv
               FROM embeddings),
    cell AS (SELECT label, b, i AS d, mv[i] AS x
             FROM q, unnest(generate_series(1, len(mv))) AS g(i)),
    cent AS (SELECT label, b, d,
                    SUM(x) // COUNT(*) AS m
             FROM cell GROUP BY 1, 2, 3),
    n AS (SELECT label, b, COUNT(*) AS n FROM q GROUP BY 1, 2),
    pair AS (SELECT c0.label, c0.d, c0.m AS m0, c1.m AS m1
             FROM cent c0 JOIN cent c1
               ON c1.label = c0.label AND c1.d = c0.d
              AND c0.b = 0 AND c1.b = 1),
    dots AS (SELECT label,
                    SUM(m0 * m1) AS dot,
                    SUM(m0 * m0) AS n0,
                    SUM(m1 * m1) AS n1,
                    SUM((m0 - m1) * (m0 - m1)) AS l2sq
             FROM pair GROUP BY label)
    SELECT d.label,
           CAST(na.n AS BIGINT) AS n_ref,
           CAST(nb.n AS BIGINT) AS n_cur,
           CAST(CASE WHEN d.n0 = 0 OR d.n1 = 0 THEN NULL
                ELSE ROUND(CAST(d.dot AS DOUBLE)
                     / (sqrt(CAST(d.n0 AS DOUBLE))
                        * sqrt(CAST(d.n1 AS DOUBLE))) * 1000000) END
                AS BIGINT) AS centroid_cosine_micro,
           CAST(d.l2sq AS BIGINT) AS centroid_l2sq_micro
    FROM dots d
    JOIN n na ON na.label = d.label AND na.b = 0
    JOIN n nb ON nb.label = d.label AND nb.b = 1
    """


@query("embedding_batch_drift", oracle=_DRIFT_ORACLE)
def embedding_batch_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: split the vectors into a reference and
    a current window (vec_id parity stands in for yesterday/today) and
    report, per label, the cosine between the two windows' centroids
    plus their exact squared L2 gap — the check that catches a
    re-embedding model change or an upstream feature regression BEFORE
    the ANN indexes silently degrade (a stored IVF/PQ index built on
    yesterday's geometry misroutes today's queries).

    Exactness: per-dim centroid means are integer MILLI floor-divided
    sums — bounded by the milli quantization (|m| <= ~1000·scale)
    regardless of window size, so the dot/norm sums stay far inside
    int64 at ANY corpus scale; the single double expression
    dot/(sqrt·sqrt) runs on identical exact integers in both engines
    (the corr_matrix pattern) and a degenerate all-zero centroid
    yields NULL, not DIVIDE_BY_ZERO.  Units: centroids are MILLI, so
    the squared-L2 sum is milli² = MICRO — the column is named
    centroid_l2sq_micro accordingly (r09 advisor item: the earlier
    _milli name would have read 1000x off).

    Scale: one posexplode aggregate to (label, window, dim) cells —
    d-bounded output — then d-row arithmetic; no corpus-sized join
    anywhere."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("b"),
        F.transform(
            "embedding",
            lambda x: round_half_up_long(x.cast("double") * 1000),
        ).alias("mv"),
    )
    n = q.groupBy("label", "b").agg(F.count(F.lit(1)).alias("n"))
    cent = (
        q.select("label", "b", F.posexplode("mv").alias("d", "x"))
        .groupBy("label", "b", "d")
        .agg(F.expr("SUM(x) DIV COUNT(*)").alias("m"))
    )
    c0 = cent.where(F.col("b") == 0).select(
        "label", "d", F.col("m").alias("m0")
    )
    c1 = cent.where(F.col("b") == 1).select(
        "label", "d", F.col("m").alias("m1")
    )
    dots = (
        c0.join(c1, ["label", "d"])
        .groupBy("label")
        .agg(
            F.sum(F.col("m0") * F.col("m1")).alias("dot"),
            F.sum(F.col("m0") * F.col("m0")).alias("n0"),
            F.sum(F.col("m1") * F.col("m1")).alias("n1"),
            F.sum(
                (F.col("m0") - F.col("m1"))
                * (F.col("m0") - F.col("m1"))
            ).alias("l2sq"),
        )
    )
    na = n.where(F.col("b") == 0).select(
        "label", F.col("n").alias("n_ref")
    )
    nb = n.where(F.col("b") == 1).select(
        "label", F.col("n").alias("n_cur")
    )
    return (
        dots.join(na, "label")
        .join(nb, "label")
        .select(
            "label",
            F.col("n_ref").cast("long"),
            F.col("n_cur").cast("long"),
            F.expr(
                "CAST(CASE WHEN n0 = 0 OR n1 = 0 THEN NULL"
                " ELSE ROUND(CAST(dot AS DOUBLE)"
                " / (sqrt(CAST(n0 AS DOUBLE)) * sqrt(CAST(n1 AS DOUBLE)))"
                " * 1000000) END AS BIGINT)"
            ).alias("centroid_cosine_micro"),
            F.col("l2sq").cast("long").alias("centroid_l2sq_micro"),
        )
    )


# ---- deterministic A/B uplift with bootstrap CI ------------------------------


def _ab_oracle(b: int = _BOOT_B) -> str:
    from mapreducemovieanalysis_cloud_spark.operators.aggregates import (
        POISSON1_T32,
    )

    w_expr = " + ".join(
        f"CASE WHEN u >= {t} THEN 1 ELSE 0 END" for t in POISSON1_T32
    )
    hi_rank = -(-95 * b // 100)
    return f"""
    WITH arms AS (SELECT doc_id, n_chars,
                         CAST(('0x' || substr(md5('ab:'
                             || CAST(doc_id AS VARCHAR)), 1, 8))
                             AS BIGINT) % 2 AS arm
                  FROM documents),
    rep AS (SELECT doc_id, n_chars, arm, r
            FROM arms, unnest(generate_series(0, {b - 1})) AS g(r)),
    wt AS (SELECT arm, r, n_chars, {w_expr} AS w
           FROM (SELECT arm, r, n_chars,
                        CAST(('0x' || substr(md5('abboot:'
                            || CAST(doc_id AS VARCHAR) || ':'
                            || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT)
                          AS u
                 FROM rep)),
    per AS (SELECT r,
                   CAST(CASE WHEN SUM(CASE WHEN arm = 0 THEN w
                                      ELSE 0 END) = 0 THEN 0
                        ELSE SUM(CASE WHEN arm = 0 THEN w * n_chars
                                 ELSE 0 END) * 1000000
                             // SUM(CASE WHEN arm = 0 THEN w
                                    ELSE 0 END) END AS BIGINT)
                   - CAST(CASE WHEN SUM(CASE WHEN arm = 1 THEN w
                                        ELSE 0 END) = 0 THEN 0
                          ELSE SUM(CASE WHEN arm = 1 THEN w * n_chars
                                   ELSE 0 END) * 1000000
                               // SUM(CASE WHEN arm = 1 THEN w
                                      ELSE 0 END) END AS BIGINT)
                     AS diff
            FROM wt GROUP BY r),
    rk AS (SELECT diff, ROW_NUMBER() OVER (ORDER BY diff, r) AS rk
           FROM (SELECT r, diff FROM per)),
    base AS (SELECT
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_a,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_b,
               CAST(CASE WHEN SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                         = 0 THEN NULL
                    ELSE SUM(CASE WHEN arm = 0 THEN n_chars ELSE 0 END)
                         * 1000000
                         // SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                    END AS BIGINT) AS mean_a_micro,
               CAST(CASE WHEN SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                         = 0 THEN NULL
                    ELSE SUM(CASE WHEN arm = 1 THEN n_chars ELSE 0 END)
                         * 1000000
                         // SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                    END AS BIGINT) AS mean_b_micro
             FROM arms)
    SELECT base.n_a, base.n_b, base.mean_a_micro, base.mean_b_micro,
           CAST(base.mean_a_micro - base.mean_b_micro AS BIGINT)
             AS diff_micro,
           CAST(CASE WHEN base.n_a = 0 OR base.n_b = 0 THEN NULL
                ELSE (SELECT MAX(CASE WHEN rk = 2 THEN diff END)
                      FROM rk) END AS BIGINT) AS ci_lo_micro,
           CAST(CASE WHEN base.n_a = 0 OR base.n_b = 0 THEN NULL
                ELSE (SELECT MAX(CASE WHEN rk = {hi_rank} THEN diff END)
                      FROM rk) END AS BIGINT) AS ci_hi_micro
    FROM base
    """


@query("ab_uplift_ci", oracle=_ab_oracle())
def ab_uplift_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B readout: md5-hash documents into two arms,
    report each arm's mean metric and the uplift (A - B) with a
    Poisson-bootstrap 90% CI on the DIFFERENCE — the experimentation
    primitive behind "did the new cleaning recipe change doc quality
    beyond resampling noise".  A hash split is the production shape
    (stable under reruns and appends, no coordination), and
    bootstrapping the per-replica difference — both arms resampled
    inside the same replica — is the correct paired procedure.

    Determinism: arm membership and replica weights are pure integer
    functions of md5 draws (POISSON1_T32 thresholds, identical
    literals in the oracle); replica means and their difference are
    integer micro-ratios; CI bounds are order statistics with the
    replica id as tie-break.

    Scale: the one-row verdict aggregates (arm, replica) partials
    that combine map-side — shuffle is 2 x B partial rows at any
    corpus size (the bootstrap_mean_chars_ci posture)."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.aggregates import (
        POISSON1_T32,
    )

    b = _BOOT_B
    hi_rank = -(-95 * b // 100)
    arms = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit("ab"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit("abboot"),
                    F.col("doc_id").cast("string"),
                    F.col("r").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w = None
    for t in POISSON1_T32:
        term = (u >= F.lit(t)).cast("long")
        w = term if w is None else w + term
    rep = arms.select(
        "doc_id",
        "n_chars",
        "arm",
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("r"),
    ).select("arm", "r", "n_chars", w.alias("w"))
    per = rep.groupBy("r").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("w") * F.col("n_chars")).otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("arm") == 0, F.col("w")).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("arm") == 1, F.col("w") * F.col("n_chars")).otherwise(0)).alias("sb"),
        F.sum(F.when(F.col("arm") == 1, F.col("w")).otherwise(0)).alias("nb"),
    ).select(
        "r",
        F.expr(
            "CAST(CASE WHEN na = 0 THEN 0"
            " ELSE sa * 1000000 DIV na END AS BIGINT)"
            " - CAST(CASE WHEN nb = 0 THEN 0"
            " ELSE sb * 1000000 DIV nb END AS BIGINT)"
        ).alias("diff"),
    )
    from pyspark.sql import Window

    rk_w = Window.orderBy("diff", "r")
    ci = (
        per.withColumn("rk", F.row_number().over(rk_w))
        .agg(
            F.max(F.when(F.col("rk") == 2, F.col("diff"))).alias(
                "ci_lo_micro"
            ),
            F.max(F.when(F.col("rk") == hi_rank, F.col("diff"))).alias(
                "ci_hi_micro"
            ),
        )
    )
    # an empty arm (tiny/degenerate corpus) makes the uplift undefined:
    # NULL means/diff/CI, never DIVIDE_BY_ZERO or a fabricated 0 (the
    # classifier_auc / corr_matrix convention; r08 staged tiny sweep)
    base = arms.agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("arm") == 1).cast("long")).alias("n_b"),
        F.expr(
            "CAST(CASE WHEN SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) = 0"
            " THEN NULL"
            " ELSE SUM(CASE WHEN arm = 0 THEN n_chars ELSE 0 END)"
            " * 1000000 DIV SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)"
            " END AS BIGINT)"
        ).alias("mean_a_micro"),
        F.expr(
            "CAST(CASE WHEN SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) = 0"
            " THEN NULL"
            " ELSE SUM(CASE WHEN arm = 1 THEN n_chars ELSE 0 END)"
            " * 1000000 DIV SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)"
            " END AS BIGINT)"
        ).alias("mean_b_micro"),
    )
    return base.crossJoin(F.broadcast(ci)).select(
        "n_a",
        "n_b",
        "mean_a_micro",
        "mean_b_micro",
        F.expr("CAST(mean_a_micro - mean_b_micro AS BIGINT)").alias(
            "diff_micro"
        ),
        F.expr(
            "CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL"
            " ELSE ci_lo_micro END AS BIGINT)"
        ).alias("ci_lo_micro"),
        F.expr(
            "CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL"
            " ELSE ci_hi_micro END AS BIGINT)"
        ).alias("ci_hi_micro"),
    )
