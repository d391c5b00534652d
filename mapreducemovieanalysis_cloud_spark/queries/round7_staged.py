"""Round-7 query wave, registered through ``registry.query`` in round 7.

Built and oracle-parity-tested in round 6 while the registry was frozen
at 213 (a new entry would have hijacked a rotation slot in the driver's
stalest-first window; SURVEY.md round-6 ledger items 8-10).
``tests/test_round7_staged.py`` runs the driver-identical
Spark-vs-DuckDB parity for every entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreducemovieanalysis_cloud_spark.registry import query
from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

_NGRAM_LM_ORACLE = r"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    occ AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS ngram, t[i] AS context
            FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t)-1)) AS i
                  FROM toks WHERE len(t) >= 2)),
    nc AS (SELECT ngram, COUNT(*) AS c FROM occ GROUP BY 1),
    cc AS (SELECT context, COUNT(*) AS ctx FROM occ GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT tok) AS v
          FROM (SELECT unnest(t) AS tok FROM toks)),
    pd AS (SELECT doc_id, ngram, context, COUNT(*) AS occn
           FROM occ GROUP BY 1, 2, 3),
    j AS (SELECT pd.doc_id, pd.occn,
                 -ln(CAST(COALESCE(nc.c, 0) + 1 AS DOUBLE)
                     / CAST(COALESCE(cc.ctx, 0) + v.v AS DOUBLE)) AS term
          FROM pd LEFT JOIN nc USING (ngram)
                  LEFT JOIN cc USING (context)
                  CROSS JOIN v)
    SELECT doc_id, CAST(SUM(occn) AS BIGINT) AS n_terms,
           CAST(ROUND(SUM(occn * term) * 1000000) AS BIGINT)
               AS neg_logprob_micro,
           CAST(ROUND(SUM(occn * term) / SUM(occn) * 1000000) AS BIGINT)
               AS avg_neg_logprob_micro
    FROM j GROUP BY 1
    """


@query("ngram_lm_scores", oracle=_NGRAM_LM_ORACLE)
def ngram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram add-1 LM score per document (CCNet-style
    quality signal): every add-k probability is a ratio of integer
    counts, the -ln terms run the identical double expression in both
    engines, and the per-doc outputs are micro-rounded BIGINTs
    (entropy_lang_by_source determinism pattern).  Scale posture in
    operators/ngram_lm.py."""
    from mapreducemovieanalysis_cloud_spark.operators import ngram_lm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_lm.score_documents(docs, ngram_lm.ngram_model(docs))


@query(
    "containment_candidate_stats",
    oracle=r"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
            FROM toks WHERE len(t) >= 3),
    sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM idx),
    sizes AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY 1),
    dfr AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
    ranked AS (SELECT sh.doc_id, sh.shingle, sizes.s,
                      ROW_NUMBER() OVER (
                          PARTITION BY sh.doc_id
                          ORDER BY dfr.df, md5(sh.shingle)) AS rk
               FROM sh JOIN dfr USING (shingle)
                       JOIN sizes USING (doc_id)),
    pre AS (SELECT doc_id AS doc_a, shingle, rk AS ra, s
            FROM ranked
            WHERE rk <= s - ((s * 1 + 1) // 2) + 1),
    cand AS (SELECT pre.doc_a, b.doc_id AS doc_b,
                    MIN(pre.s) AS s, MIN(pre.ra) AS ra,
                    MIN(b.rk) AS rb, MIN(b.s) AS sb
             FROM pre JOIN ranked b USING (shingle)
             WHERE pre.doc_a <> b.doc_id
             GROUP BY 1, 2),
    kept AS (SELECT * FROM cand
             WHERE LEAST(s - ra + 1, sb - rb + 1) * 2 >= 1 * s),
    nd AS (SELECT COUNT(*) AS n_docs FROM sizes),
    nk AS (SELECT COUNT(*) AS n_candidates FROM kept)
    SELECT CAST(nd.n_docs AS BIGINT) AS n_docs,
           CAST(nk.n_candidates AS BIGINT) AS n_candidates,
           CAST(nk.n_candidates * 1000000 // GREATEST(nd.n_docs, 1)
                AS BIGINT) AS candidates_per_doc_micro
    FROM nd CROSS JOIN nk
    """,
)
def containment_candidate_stats_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The containment detector's no-silent-caps measurement surface as
    a registry query (r05 verdict item 5): one-row candidate-density
    report under the default t=1/2 prefix scheme — run it before
    ``containment_pairs`` on an unfamiliar corpus; density growing with
    corpus size is the route-to-LSH signal.  The DuckDB oracle mirrors
    the (df, md5) canonical order and PPJoin+ positional gate exactly,
    so the driver checks the full candidate pipeline, not just the
    report arithmetic."""
    from mapreducemovieanalysis_cloud_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.containment_candidate_stats(docs, n=3, t_num=1, t_den=2)


@query(
    "vocab_growth_stats",
    oracle=r"""
    WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
                 FROM documents),
    types AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1)
    SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT)
               AS type_token_ratio_micro
    FROM types
    """,
)
def vocab_growth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary report: token count, type (distinct-token)
    count, hapax legomena count, and the type/token ratio — the
    Heaps-law diagnostics a curation run reads to spot template-heavy
    (ratio collapsing) or OCR-noise (hapax exploding) corpora.

    Scale: one explode → token-keyed count (the same shuffle as any
    tokenize pass, partial-agg collapsed map-side) → one-row rollup.
    Exact integers end-to-end; the ratio is integer micro division."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    types = (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t")
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return types.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.expr("CAST(count(1) * 1000000 div sum(c) AS BIGINT)").alias(
            "type_token_ratio_micro"
        ),
    )


@query(
    "char_entropy_docs",
    oracle=r"""
    WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c,
                       length(text) AS n
                FROM documents WHERE length(text) > 0),
    g AS (SELECT doc_id, n, c, COUNT(*) AS k FROM ch GROUP BY 1, 2, 3)
    SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           CAST(ROUND(SUM(-(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)))
                 * 1000000) AS BIGINT) AS char_entropy_micro
    FROM g GROUP BY doc_id
    """,
)
def char_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-level Shannon entropy — the cheap gibberish /
    encoding-artifact detector (base64 blobs and mojibake run hot,
    single-char padding runs cold; natural language sits in a narrow
    band).  Complements the token-level gates (curation.py) and the
    corpus-level LM score (ngram_lm.py) at the character tier.

    Scale posture: ZERO shuffle — one scan, one row per doc, no exchange
    at any size; the histogram + entropy accumulator run as a vectorized
    numpy kernel over Arrow batches (operators/arrowops.
    char_histogram_arrow), with only (doc_id, text) crossing the Python
    boundary.  History of shapes, all probe-measured at sf0.1: recounting
    the array per distinct char (O(len·distinct), ~7× slower than the
    fold), per-index element_at lookups (catalyst re-inlines array_sort
    at every element — HOFs get no CSE), the run-length Catalyst fold
    over the sorted char array (1.91 s — and the no-CSE hazard bit it
    too: extracting two struct fields evaluated the fold twice), and the
    Arrow kernel (0.35 s, 5.4×; round-13 optimization, guide §4.2).
    Value-identical to the fold on every doc at sf0.001/0.01/0.1: same
    IEEE term expression, same codepoint-ascending accumulation order
    (see the kernel's docstring), micro-rounded JVM-side here."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.rounding import (
        round_half_up_long,
    )
    from mapreducemovieanalysis_cloud_spark.operators.arrowops import (
        char_histogram_arrow,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") > 0
    )
    hist = char_histogram_arrow(docs)
    return hist.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        round_half_up_long(F.col("acc") * 1_000_000).alias(
            "char_entropy_micro"
        ),
    )


def _leakage_split_oracle() -> str:
    """Near-dup components (the dedup_clusters recursive-closure oracle,
    imported so the two stay in lockstep) + the md5_bucket split rule in
    its documented DuckDB-twin form."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _components_oracle,
    )

    bucket = (
        "CAST(('0x' || substr(md5('split:' || CAST({key} AS VARCHAR)), "
        "1, 4)) AS BIGINT) % 10 = 0"
    )
    return f"""
    WITH comp AS ({_components_oracle()}),
    flags AS (SELECT doc_id, component,
                     CASE WHEN {bucket.format(key='component')}
                          THEN 1 ELSE 0 END AS vs,
                     CASE WHEN {bucket.format(key='doc_id')}
                          THEN 1 ELSE 0 END AS vn
              FROM comp),
    g AS (SELECT component, COUNT(*) AS sz, SUM(vs) AS ns, SUM(vn) AS nv
          FROM flags GROUP BY 1)
    SELECT CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi_doc_components,
           CAST(SUM(ns) AS BIGINT) AS val_docs_safe,
           CAST(SUM(nv) AS BIGINT) AS val_docs_naive,
           CAST(SUM(CASE WHEN ns > 0 AND ns < sz THEN 1 ELSE 0 END)
                AS BIGINT) AS leaked_components_safe,
           CAST(SUM(CASE WHEN nv > 0 AND nv < sz THEN 1 ELSE 0 END)
                AS BIGINT) AS leaked_components_naive
    FROM g
    """


@query("leakage_safe_split", oracle=_leakage_split_oracle())
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val split + leakage audit: assign each
    near-dup COMPONENT (MinHash-LSH pairs closed by min-label
    propagation, the dedup_clusters closure) wholly to train or val by
    md5_bucket(component) — membership is a pure function of the
    component key, so no near-duplicate of a training doc can sit in
    the eval split.  The report quantifies what the naive per-doc hash
    split would have leaked on the same corpus
    (``leaked_components_naive``) and proves the safe rule leaks zero
    by the same measurement (``leaked_components_safe``) — computed,
    not assumed.

    Scale: the component closure dominates (bounded-band LSH + O(edges)
    per CC round, see dedup_clusters); the audit itself adds one
    component-keyed partial agg and a one-row rollup.  The split rule
    needs no new shuffle at apply time — it is a map-side expression any
    downstream writer evaluates inline."""
    from mapreducemovieanalysis_cloud_spark.functions.hashing import (
        md5_bucket,
    )
    from mapreducemovieanalysis_cloud_spark.operators import dedup
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        label_propagation_components,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(
        docs, n=3, num_hashes=16, bands=4, threshold=0.5
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = label_propagation_components(docs, edges)
    flags = comp.select(
        "component",
        (md5_bucket(F.col("component"), 10, salt="split:") == 0)
        .cast("int")
        .alias("vs"),
        (md5_bucket(F.col("doc_id"), 10, salt="split:") == 0)
        .cast("int")
        .alias("vn"),
    )
    g = flags.groupBy("component").agg(
        F.count(F.lit(1)).alias("sz"),
        F.sum("vs").alias("ns"),
        F.sum("vn").alias("nv"),
    )
    return g.agg(
        F.sum("sz").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.sum((F.col("sz") > 1).cast("int"))
        .cast("long")
        .alias("n_multi_doc_components"),
        F.sum("ns").cast("long").alias("val_docs_safe"),
        F.sum("nv").cast("long").alias("val_docs_naive"),
        F.sum(((F.col("ns") > 0) & (F.col("ns") < F.col("sz"))).cast("int"))
        .cast("long")
        .alias("leaked_components_safe"),
        F.sum(((F.col("nv") > 0) & (F.col("nv") < F.col("sz"))).cast("int"))
        .cast("long")
        .alias("leaked_components_naive"),
    )


@query(
    "dedup_impact_by_source",
    oracle="""
    WITH f AS (SELECT source, doc_id,
                      CASE WHEN doc_id = MIN(doc_id)
                               OVER (PARTITION BY md5(text))
                           THEN 1 ELSE 0 END AS survivor
               FROM documents)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(survivor) AS BIGINT) AS n_survivors,
           CAST(COUNT(*) - SUM(survivor) AS BIGINT) AS n_removed,
           CAST((COUNT(*) - SUM(survivor)) * 1000000 // COUNT(*)
                AS BIGINT) AS removal_rate_micro
    FROM f GROUP BY source
    """,
)
def dedup_impact_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup's distributional impact: per-source removal rate under the
    exact-dedup survivor rule (min doc_id per md5(text) group) — the
    audit a curation run reads BEFORE committing a dedup pass, because
    dedup is not distribution-neutral: a source full of mirrored /
    templated content loses disproportionally, silently re-weighting the
    training mixture.  Complements dedup_exact (which emits the
    survivors) with the who-paid-for-it report.

    Scale: one fp-keyed window min (the same single shuffle as any
    exact-dedup pass — no join-back, the window computes the survivor
    flag in place) then a low-cardinality source rollup with map-side
    partials."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "source",
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(
                Window.partitionBy(F.md5(F.col("text")))
            )
        )
        .cast("int")
        .alias("survivor"),
    )
    return f.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("survivor").cast("long").alias("n_survivors"),
        (F.count(F.lit(1)) - F.sum("survivor"))
        .cast("long")
        .alias("n_removed"),
        F.expr(
            "CAST((count(1) - sum(survivor)) * 1000000 div count(1)"
            " AS BIGINT)"
        ).alias("removal_rate_micro"),
    )


@query(
    "dsir_weights_en",
    oracle=r"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    uni AS (SELECT doc_id, unnest(t) AS gram FROM toks),
    bi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
           FROM (SELECT doc_id, t,
                        unnest(generate_series(1, len(t)-1)) AS i
                 FROM toks WHERE len(t) >= 2)),
    grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
    db AS (SELECT doc_id,
                  CAST(('0x' || substr(md5('dsir:' || gram), 1, 4))
                       AS INTEGER) % 1024 AS bucket,
                  COUNT(*) AS c
           FROM grams GROUP BY 1, 2),
    mem AS (SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
            FROM documents),
    raw AS (SELECT bucket, SUM(c) AS c_r FROM db GROUP BY 1),
    tgt AS (SELECT bucket, SUM(c) AS c_t
            FROM db JOIN mem USING (doc_id) WHERE is_t = 1 GROUP BY 1),
    d AS (SELECT raw.bucket, c_r, COALESCE(c_t, 0) AS c_t
          FROM raw LEFT JOIN tgt USING (bucket)),
    tot AS (SELECT SUM(c_r) AS tot_r, SUM(c_t) AS tot_t FROM d)
    SELECT db.doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(ROUND((SUM(c * (ln(CAST(c_t + 1 AS DOUBLE))
                               - ln(CAST(c_r + 1 AS DOUBLE))))
                 + SUM(c) * (ln(CAST(MAX(tot_r) + 1024 AS DOUBLE))
                             - ln(CAST(MAX(tot_t) + 1024 AS DOUBLE))))
                 * 1000000) AS BIGINT) AS log_weight_micro
    FROM db JOIN d USING (bucket) CROSS JOIN tot
    GROUP BY db.doc_id
    """,
)
def dsir_weights_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-n-gram importance weights (Xie et al. 2023)
    toward the English sub-corpus: the data-selection score a curation
    run resamples by to shift a raw pool toward a target distribution.
    Buckets are ``md5_bucket`` (engine-neutral); both distributions are
    add-1 ratios of integer counts; micro-rounded BIGINT output.
    Scale posture in operators/dsir.py (one corpus pass, K-row
    broadcast distributions)."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    return dsir.dsir_log_weights(docs, F.col("lang") == "en")


# named so the round-12 staged incremental-KMV consumer can reuse the
# SAME truth verbatim (a stored sketch must answer the overlap matrix
# identically to the from-scratch sketch)
_BOTTOMK_ORACLE = r"""
    WITH toks AS (SELECT source, string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    sh AS (SELECT DISTINCT source,
                  md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS h
           FROM (SELECT source, t,
                        unnest(generate_series(1, len(t)-2)) AS i
                 FROM toks WHERE len(t) >= 3)),
    sk AS (SELECT source, h FROM (
             SELECT source, h,
                    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h)
                        AS r
             FROM sh) WHERE r <= 64),
    cand AS (SELECT DISTINCT x.source AS source_a, y.source AS source_b
             FROM sk x JOIN sk y USING (h)
             WHERE x.source < y.source),
    m AS (SELECT source_a, source_b, h,
                 MAX(in_a) AS in_a, MAX(in_b) AS in_b
          FROM (SELECT c.source_a, c.source_b, s.h,
                       1 AS in_a, 0 AS in_b
                FROM cand c JOIN sk s ON s.source = c.source_a
                UNION ALL
                SELECT c.source_a, c.source_b, s.h, 0, 1
                FROM cand c JOIN sk s ON s.source = c.source_b)
          GROUP BY 1, 2, 3),
    rk AS (SELECT *, ROW_NUMBER() OVER (
               PARTITION BY source_a, source_b ORDER BY h) AS r
           FROM m)
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_union_used,
           CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
           CAST(SUM(in_a * in_b) * 1000000 // COUNT(*) AS BIGINT)
               AS jaccard_est_micro
    FROM rk WHERE r <= 64 GROUP BY 1, 2
    """


@query("source_overlap_bottomk", oracle=_BOTTOMK_ORACLE)
def source_overlap_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix via bottom-k (KMV) shingle
    sketches — the audit that decides whether two sources double-count
    content before mixing weights are committed.  Exact-integer md5
    arithmetic end-to-end (no floats), so the DuckDB oracle reproduces
    the estimator bit-for-bit; pairs with no shared sketch hash are
    absent by design (estimate 0 — this is also what keeps the pair
    set near-linear at 10k+ sources).  The oracle's single-window
    bottom-k equals the operator's two-phase bucket-prefiltered one:
    every global top-k row survives its bucket's local top-k, so phase
    two re-ranks a superset.  Scale posture in
    operators/corpus_overlap.py."""
    from mapreducemovieanalysis_cloud_spark.operators import corpus_overlap

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return corpus_overlap.pairwise_overlap(docs, n=3, k=64)


def _ann_ivf_inc_oracle() -> str:
    """Identical to the registered ann_ivf oracle: an incrementally-
    appended stored index under fixed centroids is bit-identical to the
    single full build, so the two queries share one truth."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _ann_ivf_oracle,
    )

    return _ann_ivf_oracle()


@query("ann_ivf_incremental", oracle=_ann_ivf_inc_oracle())
def ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe of an INCREMENTALLY-maintained stored IVF index: base build
    over a corpus prefix, the remainder appended as a committed delta
    batch (``similarity.ivf_append_batch`` — idempotent per-batch
    overwrite + ``_COMMITTED`` marker, the invindex durability
    protocol), probed with the same parameters as the registered
    ``ann_ivf``.  Because cell assignment is per-vector under fixed
    centroids, the incremental index answers EXACTLY like the inline
    operator — same oracle, no weaker "rows-only" tier — while the
    maintenance cost of adding a batch is O(batch), not O(corpus).

    Scale: this is the ANN-index story a 100 TB corpus needs — the
    base build is write-once, daily arrivals land as delta batches,
    probes prune cells inside every subtree independently, and
    compaction is a rebuild into a fresh fingerprint-keyed path."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import similarity
    from mapreducemovieanalysis_cloud_spark.sources.readers import (
        table_fingerprint,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    leaf = os.path.basename(os.path.normpath(sf_dir))
    fp = table_fingerprint(sf_dir, "embeddings")
    path = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_ivf_inc",
        leaf,
        f"v1-{fp}",
    )
    # build-if-absent keyed on the LAST artifact (the append's commit
    # marker): a half-done build+append sequence rebuilds cleanly via
    # the per-directory overwrites
    marker = os.path.join(path, "cells_delta", "batch=b1", "_COMMITTED")
    if not os.path.exists(marker):
        similarity.ivf_write_index(
            emb.where(F.col("vec_id") < 250), path, n_centroids=8
        )
        similarity.ivf_append_batch(
            spark, path, emb.where(F.col("vec_id") >= 250), "b1"
        )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_probe_index(spark, path, queries, k=10, nprobe=2)


def _survivors_oracle() -> str:
    """Components closure (imported, lockstep with dedup_clusters) + the
    arg-max-priority survivor rule as a per-component window."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _components_oracle,
    )

    return f"""
    WITH comp AS ({_components_oracle()}),
    j AS (SELECT comp.doc_id, comp.component,
                 CAST(length(d.text) AS BIGINT) AS priority
          FROM comp JOIN documents d USING (doc_id)),
    best AS (SELECT component, doc_id AS survivor_id FROM (
               SELECT component, doc_id,
                      ROW_NUMBER() OVER (PARTITION BY component
                          ORDER BY priority DESC, doc_id) AS r
               FROM j) WHERE r = 1)
    SELECT j.doc_id, j.component, j.priority, best.survivor_id,
           CAST(CASE WHEN j.doc_id = best.survivor_id
                THEN 1 ELSE 0 END AS BIGINT) AS is_survivor
    FROM j JOIN best USING (component)
    """


@query("dedup_cluster_survivors", oracle=_survivors_oracle())
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop verdict per near-dup cluster: MinHash-LSH pairs closed
    into components (the dedup_clusters closure), then ONE survivor per
    component by max text length (tie: min doc_id) — the
    keep-the-most-complete-copy rule production dedup uses instead of
    keep-min-id.  The arg-max is a partial-aggregatable
    ``min_by(id, struct(-priority, id))`` per component, never a
    per-component sort; scale posture in
    ``operators.clustering.canonical_survivors``.
    The oracle expresses the same rule as a per-component window over
    the recursive-closure components, so the two stay in lockstep with
    dedup_clusters."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import dedup
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        canonical_survivors,
        label_propagation_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(
        docs, n=3, num_hashes=16, bands=4, threshold=0.5
    )
    comps = label_propagation_components(
        docs,
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
    )
    return canonical_survivors(docs, comps, F.length("text"))


_CCNET_ORACLE = f"""
    WITH scored AS ({_NGRAM_LM_ORACLE}),
    wl AS (SELECT s.doc_id, d.lang, s.avg_neg_logprob_micro AS score
           FROM scored s JOIN documents d USING (doc_id)),
    gs AS (SELECT lang, score, COUNT(*) AS cnt FROM wl GROUP BY 1, 2),
    cum AS (SELECT lang, score,
                   COALESCE(SUM(cnt) OVER (PARTITION BY lang
                       ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cum_before
            FROM gs),
    tot AS (SELECT lang, SUM(cnt) AS n FROM gs GROUP BY 1)
    SELECT wl.doc_id, wl.lang,
           wl.score AS avg_neg_logprob_micro,
           CAST(1 + (cum.cum_before * 3) // tot.n AS BIGINT) AS tercile,
           CASE 1 + (cum.cum_before * 3) // tot.n
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM wl JOIN cum ON cum.lang = wl.lang AND cum.score = wl.score
            JOIN tot ON tot.lang = wl.lang
    """


@query("ccnet_lm_buckets", oracle=_CCNET_ORACLE)
def ccnet_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail assignment (Wenzek et al. 2020): each
    LANGUAGE's docs split into LM-score terciles so per-language quality
    gates replace one global threshold that would starve low-resource
    languages.  Tercile rule is value-based exact integer arithmetic
    (``1 + cum_before*3 div n``) over the micro-rounded add-1 bigram LM
    score; the cumulative count runs as a distributed two-phase prefix
    sum over the (lang, score) GROUP table — never a per-language
    window over docs.  Scale posture in operators/ccnet.py."""
    from mapreducemovieanalysis_cloud_spark.operators import ccnet

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    return ccnet.lm_quality_buckets(docs, num_partitions=8)


@query(
    "token_fertility_stats",
    oracle=r"""
    WITH t AS (SELECT lang, source,
                      len(string_split_regex(trim(text), '\s+')) AS ws,
                      len(regexp_extract_all(text,
                          '[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]')) AS bpe,
                      length(text) AS ch
               FROM documents)
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(ch) AS BIGINT) AS n_chars,
           CAST(SUM(bpe) * 1000000 // SUM(ws) AS BIGINT)
               AS fertility_micro,
           CAST(SUM(ch) * 1000000 // SUM(bpe) AS BIGINT)
               AS chars_per_token_micro
    FROM t GROUP BY 1, 2
    """,
)
def token_fertility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit by (lang, source): subword-ish tokens
    per whitespace word and chars per subword token — the numbers that
    decide a corpus's token BUDGET per byte before a training run is
    costed, and that surface which sources tokenize expensively
    (fertility rising with markup/code density).  Pure map-side
    expressions over the scan + one partial-aggregatable groupBy on a
    bounded (lang, source) key — exact integer ratios, zero extra
    passes.  The expressions are the established text_stats twins
    (functions.text.tokens / bpe_ish_token_count)."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        "source",
        T.token_count().alias("ws"),
        T.bpe_ish_token_count().alias("bpe"),
        F.length("text").alias("ch"),
    )
    return per.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.sum("bpe").cast("long").alias("bpe_tokens"),
        F.sum("ch").cast("long").alias("n_chars"),
        F.expr(
            "CAST(SUM(bpe) * 1000000 div SUM(ws) AS BIGINT)"
        ).alias("fertility_micro"),
        F.expr(
            "CAST(SUM(ch) * 1000000 div SUM(bpe) AS BIGINT)"
        ).alias("chars_per_token_micro"),
    )


def _inc_minhash_oracle(
    num_hashes: int = 16, bands: int = 4, split: int = 250, agree: int = 8
) -> str:
    """Full twin of the two-batch incremental MinHash run: chunked-md5
    signatures (the engine computes k/4 digests and min()s their
    8-hex-char chunks — the substr offsets here are that layout
    exactly), per-batch banding + exact-Jaccard-verified components for
    within-batch survivors, then batch-2 survivors dropped on >= `agree`
    signature agreement with a stored batch-1 survivor."""
    rows = num_hashes // bands
    mins = ",\n           ".join(
        f"MIN(substr(md5('{i // 4}:' || shingle), {(i % 4) * 8 + 1}, 8))"
        f" AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(f"h{b*rows+r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    agree_sum = " + ".join(
        f"(CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents),
    pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
            FROM toks WHERE len(t) >= 3),
    sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM pos),
    sigs AS (SELECT doc_id, {mins}
             FROM sh GROUP BY doc_id),
    br AS ({band_selects}),
    bb AS (SELECT br.*, CASE WHEN doc_id < {split} THEN 1 ELSE 2 END
               AS batch FROM br),
    cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bb a JOIN bb b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.batch = b.batch AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY 1),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n
              FROM cands c
              JOIN sh x ON x.doc_id = c.doc_a
              JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
              GROUP BY 1, 2),
    pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
              JOIN sizes sa ON sa.doc_id = i.doc_a
              JOIN sizes sb ON sb.doc_id = i.doc_b
              WHERE CAST(i.n AS DOUBLE) / (sa.s + sb.s - i.n) >= 0.5),
    sym AS (SELECT doc_a AS v, doc_b AS u FROM pairs
            UNION ALL SELECT doc_b AS v, doc_a AS u FROM pairs),
    reach(v, u) AS (
        SELECT doc_id AS v, doc_id AS u FROM sigs
        UNION
        SELECT r.v, e.u FROM reach r JOIN sym e ON e.v = r.u),
    comp AS (SELECT v AS doc_id, MIN(u) AS component FROM reach GROUP BY v),
    within AS (SELECT doc_id FROM comp WHERE doc_id = component),
    s1 AS (SELECT doc_id FROM within WHERE doc_id < {split}),
    w2 AS (SELECT doc_id FROM within WHERE doc_id >= {split}),
    crossc AS (SELECT DISTINCT a.doc_id, b.doc_id AS sid
               FROM bb a JOIN bb b
                 ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               JOIN w2 ON w2.doc_id = a.doc_id
               JOIN s1 ON s1.doc_id = b.doc_id),
    agr AS (SELECT c.doc_id, ({agree_sum}) AS ag
            FROM crossc c
            JOIN sigs x ON x.doc_id = c.doc_id
            JOIN sigs y ON y.doc_id = c.sid),
    dropped AS (SELECT DISTINCT doc_id FROM agr WHERE ag >= {agree}),
    s2 AS (SELECT doc_id FROM w2
           WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
    SELECT doc_id, 'b1' AS batch FROM s1
    UNION ALL
    SELECT doc_id, 'b2' AS batch FROM s2
    """


@query("incremental_minhash_dedup", oracle=_inc_minhash_oracle())
def incremental_minhash_dedup_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The incremental NEAR-dup store exercised as a two-batch replay:
    docs with id < 250 ingest as epoch b1 (store is created), the rest
    as epoch b2 (probed against b1's stored signatures — history text
    never rescanned).  Returns every survivor with its batch.  Within a
    batch survivors follow the dedup_clusters min-id-per-component rule
    under exact-Jaccard >= 0.5 verification; across batches a doc is
    dropped when >= 8 of its 16 minhashes agree with any stored
    signature (the unbiased Jaccard estimate — the historical shingle
    sets no longer exist to verify against).  Scale posture in
    ``operators.dedup.incremental_minhash_dedup``."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        incremental_minhash_dedup,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import (
        table_fingerprint,
    )
    from mapreducemovieanalysis_cloud_spark.sources.writers import (
        read_epochs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    leaf = os.path.basename(os.path.normpath(sf_dir))
    fp = table_fingerprint(sf_dir, "documents")
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_mh_inc", leaf, f"v1-{fp}"
    )
    store, surv = os.path.join(root, "store"), os.path.join(root, "surv")
    # build-if-absent keyed on the LAST epoch's success marker; a
    # half-done replay rebuilds cleanly via per-epoch overwrites
    if not os.path.exists(os.path.join(store, "batch=b2", "_SUCCESS")):
        incremental_minhash_dedup(
            docs.where(F.col("doc_id") < 250), store,
            survivors_path=surv, batch_id="b1",
        )
        incremental_minhash_dedup(
            docs.where(F.col("doc_id") >= 250), store,
            survivors_path=surv, batch_id="b2",
        )
    return read_epochs(spark, surv).select("doc_id", "batch")


# ---- wave 3: quality-rule battery, LSH measurement, packing audit, PMI ----

from mapreducemovieanalysis_cloud_spark.operators.curation import (  # noqa: E402
    GOPHER_STOPWORDS as _GOPHER_STOPS,
)

_GOPHER_ORACLE = r"""
    WITH toks AS (SELECT doc_id, source,
                         string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    occ AS (SELECT doc_id, unnest(t) AS w FROM toks),
    per_doc AS (SELECT o.doc_id,
                       COUNT(*) AS n_words,
                       SUM(length(o.w)) AS sum_len,
                       SUM(CASE WHEN regexp_matches(o.w, '[A-Za-z]')
                                THEN 1 ELSE 0 END) AS n_alpha,
                       SUM(CASE WHEN lower(o.w) IN
                                ('the','be','to','of','and','a','in','that')
                                THEN 1 ELSE 0 END) AS n_stop,
                       MAX(length(o.w)) AS max_len
                FROM occ o GROUP BY o.doc_id),
    flags AS (SELECT t.source,
                     CASE WHEN p.n_words < 10 OR p.n_words > 100000
                          THEN 1 ELSE 0 END AS f_wc,
                     CASE WHEN p.sum_len * 100 < 300 * p.n_words
                            OR p.sum_len * 100 > 1000 * p.n_words
                          THEN 1 ELSE 0 END AS f_mwl,
                     CASE WHEN p.n_alpha * 100 < 80 * p.n_words
                          THEN 1 ELSE 0 END AS f_ar,
                     CASE WHEN p.n_stop < 2 THEN 1 ELSE 0 END AS f_sw,
                     CASE WHEN p.max_len > 20 THEN 1 ELSE 0 END AS f_mx
              FROM per_doc p JOIN toks t USING (doc_id)),
    unp AS (SELECT source, 'word_count' AS rule, f_wc AS fail FROM flags
            UNION ALL
            SELECT source, 'mean_word_len', f_mwl FROM flags
            UNION ALL
            SELECT source, 'alpha_ratio', f_ar FROM flags
            UNION ALL
            SELECT source, 'stopwords', f_sw FROM flags
            UNION ALL
            SELECT source, 'max_word_len', f_mx FROM flags)
    SELECT source, rule,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(fail) AS BIGINT) AS n_fail,
           CAST(SUM(fail) * 10000 // COUNT(*) AS BIGINT) AS fail_rate_bp
    FROM unp GROUP BY source, rule
    """


@query("gopher_rules_report", oracle=_GOPHER_ORACLE)
def gopher_rules_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-style quality-rule battery (Rae et al. 2021,
    Table A1 style) as a per-(source, rule) fail matrix — the audit a
    curation pipeline runs BEFORE committing a filter, so thresholds are
    tuned against measured fail rates instead of guessed.  Five rules:
    word count in [10, 100000], mean word length in [3, 10], >=80% words
    with an alphabetic char, >=2 stopwords, max word length <= 20.

    Scale: the per-doc flags are the SHARED
    ``operators.curation.gopher_doc_flags`` kernel (pure map-side array
    aggregates over one token projection — no explode, no token-row
    shuffle; the same implementation ``curate_corpus_v2`` enforces, so
    this report measures exactly the shipped rule); the only exchange
    is the bounded (source, rule) groupBy after a 5-way stack().  All
    thresholds integer cross-multiplications, rates in basis points —
    bit-identical in both engines."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.curation import (
        gopher_doc_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    flags = gopher_doc_flags(docs)
    unp = flags.select(
        "source",
        F.expr(
            "stack(5, 'word_count', f_wc, 'mean_word_len', f_mwl,"
            " 'alpha_ratio', f_ar, 'stopwords', f_sw,"
            " 'max_word_len', f_mx) AS (rule, fail)"
        ),
    )
    return unp.groupBy("source", "rule").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("fail").alias("n_fail"),
    ).select(
        "source",
        "rule",
        "n_docs",
        "n_fail",
        F.expr("CAST(n_fail * 10000 DIV n_docs AS BIGINT)").alias(
            "fail_rate_bp"
        ),
    )


def _lsh_band_stats_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """Twin of the production banding (chunked-md5 minhash signatures,
    '|'-joined band keys — the _inc_minhash_oracle layout) rolled up to
    per-band bucket statistics."""
    rows = num_hashes // bands
    mins = ",\n           ".join(
        f"MIN(substr(md5('{i // 4}:' || shingle), {(i % 4) * 8 + 1}, 8))"
        f" AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, CAST({b} AS INTEGER) AS band_idx,"
        " {key} AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(f"h{b*rows+r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"""
    WITH toks AS (SELECT doc_id,
                         string_split_regex(trim(text), '\\s+') AS t
                  FROM documents),
    pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
            FROM toks WHERE len(t) >= 3),
    sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM pos),
    sigs AS (SELECT doc_id, {mins}
             FROM sh GROUP BY doc_id),
    br AS ({band_selects}),
    buckets AS (SELECT band_idx, band_key, COUNT(*) AS c
                FROM br GROUP BY 1, 2)
    SELECT band_idx,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_buckets_multi,
           CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS candidate_pairs,
           CAST(MAX(c) AS BIGINT) AS max_bucket,
           CAST(MAX(c) * COUNT(*) > 4 * SUM(c) AS INT) AS skewed,
           CAST((MAX(c) * COUNT(*) + 4 * SUM(c) - 1) // (4 * SUM(c))
                AS BIGINT) AS salt_factor
    FROM buckets GROUP BY band_idx
    """


@query("lsh_band_collision_stats", oracle=_lsh_band_stats_oracle())
def lsh_band_collision_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH family's no-silent-caps measurement surface
    (mirror of containment_candidate_stats for the banding scheme): per
    band, how many buckets exist, how many collide, the implied
    candidate-pair count Sum c*(c-1)/2, and the largest bucket.  Run it
    before dedup_minhash_lsh on an unfamiliar corpus — candidate_pairs
    IS the verify-join input size, and max_bucket growing superlinearly
    is the skew alarm (a degenerate band key one-tasks the candidate
    join).  The alarm carries its remedy (the skew_report_lineitem
    pattern): ``skewed`` flags a band whose hottest bucket exceeds 4x
    the band's mean bucket size (cross-multiplied — no division), and
    ``salt_factor`` is the ceil-ratio salt that flattens it back to
    ~4x mean — the value to hand ``operators.skew.salted_join``'s
    ``salt_buckets`` for the candidate self-join on that band.

    Scale: the signature build is the production one
    (operators/dedup.minhash_signatures via banded_keys — measured
    scheme == shipped scheme by construction); the stats add one
    (band_idx, band_key) groupBy — the SAME shuffle key the candidate
    join would use — then a bands-row rollup.  Strictly cheaper than the
    dedup it predicts."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        banded_keys,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = minhash_signatures(docs, n=3, num_hashes=16)
    banded = banded_keys(sigs, num_hashes=16, bands=4)
    buckets = banded.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        buckets.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum((F.col("c") >= 2).cast("long")).alias("n_buckets_multi"),
            F.sum(F.expr("CAST(c * (c - 1) DIV 2 AS BIGINT)")).alias(
                "candidate_pairs"
            ),
            F.max(F.col("c").cast("long")).alias("max_bucket"),
            F.sum("c").alias("_total"),
        )
        .select(
            "band_idx",
            "n_buckets",
            "n_buckets_multi",
            "candidate_pairs",
            "max_bucket",
            F.expr(
                "CAST(max_bucket * n_buckets > 4 * _total AS INT)"
            ).alias("skewed"),
            F.expr(
                "CAST((max_bucket * n_buckets + 4 * _total - 1)"
                " div (4 * _total) AS BIGINT)"
            ).alias("salt_factor"),
        )
    )


_PACK_FRAG_ORACLE = r"""
    WITH d AS (SELECT doc_id, source,
                      CAST(len(string_split_regex(trim(text), '\s+'))
                           AS BIGINT) AS n_tok
               FROM documents),
    c AS (SELECT doc_id, source, n_tok,
                 COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_prev
          FROM d),
    p AS (SELECT source, n_tok, cum_prev % 2048 AS off FROM c),
    per AS (SELECT source,
                   CASE WHEN off + n_tok > 2048 THEN 1 ELSE 0 END
                       AS straddle,
                   (off + n_tok - 1) // 2048 + 1 AS n_windows
            FROM p)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(straddle) AS BIGINT) AS n_straddling,
           CAST(SUM(straddle) * 10000 // COUNT(*) AS BIGINT)
               AS straddle_rate_bp,
           CAST(SUM(n_windows) AS BIGINT) AS window_spans,
           CAST(MAX(n_windows) AS BIGINT) AS max_windows
    FROM per GROUP BY source
    """


@query("packing_fragmentation_audit", oracle=_PACK_FRAG_ORACLE)
def packing_fragmentation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fragmentation audit of the concat-then-chunk packed layout
    (pack_sequences): concat packing wastes zero tokens but SPLITS
    documents across context windows — every straddling doc trains with
    a truncated attention span on both sides of the cut.  Per source:
    how many docs straddle a 2048 boundary, the rate, and how many
    windows each doc spans (window_spans - n_docs = number of cuts).
    The report a pipeline reads before choosing concat packing vs
    best-fit binning for a given context length.

    Scale: reuses the distributed two-phase prefix sum
    (operators/packing.packed_positions — never a single-partition
    global window); source rides the prefix-sum frame as a pass-through
    join on doc_id (one equi-join of two narrow corpus-sized frames);
    the rollup groupBy is bounded by source cardinality."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.text import (
        token_count,
    )
    from mapreducemovieanalysis_cloud_spark.operators.packing import (
        packed_positions,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        token_count("text").cast("long").alias("n_tok"),
    )
    packed = packed_positions(docs.select("doc_id", "n_tok"), ctx=2048)
    per = packed.join(docs.select("doc_id", "source"), "doc_id").select(
        "source",
        (F.col("pack_offset") + F.col("n_tok") > 2048)
        .cast("long")
        .alias("straddle"),
        F.expr(
            "CAST((pack_offset + n_tok - 1) DIV 2048 + 1 AS BIGINT)"
        ).alias("n_windows"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("straddle").alias("n_straddling"),
        F.expr(
            "CAST(SUM(straddle) * 10000 DIV COUNT(*) AS BIGINT)"
        ).alias("straddle_rate_bp"),
        F.sum("n_windows").alias("window_spans"),
        F.max("n_windows").alias("max_windows"),
    )


_EMB_HEALTH_ORACLE = r"""
    WITH comp AS (SELECT vec_id, label,
                         unnest(embedding) AS x
                  FROM embeddings),
    quant AS (SELECT vec_id, label,
                     CASE WHEN isnan(CAST(x AS DOUBLE))
                            OR isinf(CAST(x AS DOUBLE))
                          THEN 1 ELSE 0 END AS bad,
                     CASE WHEN isnan(CAST(x AS DOUBLE))
                            OR isinf(CAST(x AS DOUBLE))
                          THEN 0
                          ELSE CAST(ROUND(CAST(x AS DOUBLE) * 1000)
                                    AS BIGINT) END AS m
              FROM comp),
    per_vec AS (SELECT vec_id, label,
                       SUM(bad) AS n_bad_comp,
                       SUM(m * m) AS norm2_milli2,
                       COUNT(*) AS dim
                FROM quant GROUP BY vec_id, label)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(dim) AS BIGINT) AS min_dim,
           CAST(MAX(dim) AS BIGINT) AS max_dim,
           CAST(SUM(CASE WHEN n_bad_comp > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonfinite,
           CAST(SUM(CASE WHEN norm2_milli2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
           CAST(MIN(norm2_milli2) AS BIGINT) AS min_norm2_milli2,
           CAST(MAX(norm2_milli2) AS BIGINT) AS max_norm2_milli2,
           CAST(SUM(norm2_milli2) // COUNT(*) AS BIGINT)
               AS mean_norm2_milli2
    FROM per_vec GROUP BY label
    """


@query("embedding_health_report", oracle=_EMB_HEALTH_ORACLE)
def embedding_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-table QA report — the gate an ANN/semantic
    pipeline runs before index build: dimension consistency (a ragged
    batch poisons every dot product), non-finite components, all-zero
    vectors (cosine is undefined), and the L2-norm distribution
    (collapsed or exploding norms flag a broken encoder run).

    Scale: one explode over components (rows = n_vecs x dim — the same
    volume any reindex reads), map-side partial aggregation to per-vec
    rows, then a bounded per-label rollup.  Norms are computed on
    milli-quantized BIGINT components (round(x*1000)^2 sums), so both
    engines do exact integer arithmetic — no float-sum order
    sensitivity; 1e-3 resolution is diagnostic-grade for unit-norm-ish
    embeddings."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        "label",
        F.explode("embedding").alias("x"),
    ).select(
        "vec_id",
        "label",
        (
            F.isnan(F.col("x").cast("double"))
            | (F.abs(F.col("x").cast("double")) == float("inf"))
        )
        .cast("long")
        .alias("bad"),
        # non-finite components contribute 0 to the norm (they are
        # already counted in n_nonfinite); unguarded ROUND(NaN)->BIGINT
        # throws under ANSI mode in both engines
        F.expr(
            "CASE WHEN isnan(CAST(x AS DOUBLE))"
            " OR abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE)"
            " THEN CAST(0 AS BIGINT)"
            " ELSE CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) END"
        ).alias("m"),
    )
    per_vec = comp.groupBy("vec_id", "label").agg(
        F.sum("bad").alias("n_bad_comp"),
        F.sum(F.col("m") * F.col("m")).alias("norm2_milli2"),
        F.count(F.lit(1)).alias("dim"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
        F.sum((F.col("n_bad_comp") > 0).cast("long")).alias("n_nonfinite"),
        F.sum((F.col("norm2_milli2") == 0).cast("long")).alias("n_zero"),
        F.min("norm2_milli2").alias("min_norm2_milli2"),
        F.max("norm2_milli2").alias("max_norm2_milli2"),
        F.expr(
            "CAST(SUM(norm2_milli2) DIV COUNT(1) AS BIGINT)"
        ).alias("mean_norm2_milli2"),
    )


def _cluster_histogram_oracle(thr: float = 0.5) -> str:
    """Size histogram over the dedup_clusters fixpoint — reuses the
    registered _components_oracle closure verbatim so the two stay in
    lockstep."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _components_oracle,
    )

    comp = _components_oracle(thr)
    return f"""
    WITH comps AS ({comp}),
    sizes AS (SELECT component, COUNT(*) AS cluster_size
              FROM comps GROUP BY component)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """


@query("dedup_cluster_size_histogram", oracle=_cluster_histogram_oracle())
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How much duplication, in one table: the size distribution of the
    near-dup components (cluster_size -> n_clusters, n_docs).  The
    number a dedup run reports up front — sum(n_docs) - sum(n_clusters)
    docs would be dropped by keep-one-per-cluster, and a heavy tail
    (one giant component) says the threshold or the banding is merging
    the corpus, BEFORE anyone deletes anything.

    Scale: the components fixpoint is the dedup_clusters machinery
    unchanged (LSH + min-label propagation, localCheckpointed rounds);
    the histogram adds one component-keyed count and one bounded
    size-keyed rollup — both tiny next to the fixpoint."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import dedup
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        label_propagation_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(
        docs, n=3, num_hashes=16, bands=4, threshold=0.5
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comps = label_propagation_components(docs, edges)
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.expr("CAST(cluster_size * COUNT(1) AS BIGINT)").alias("n_docs"),
    )


# ---- wave 4: boundary dups, minhash estimator audit ------------------------

_BOUNDARY_ORACLE = r"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    ok AS (SELECT doc_id, t, len(t) AS L FROM toks WHERE len(t) >= 3),
    heads AS (SELECT doc_id, array_to_string(t[1:3], ' ') AS key FROM ok),
    tails AS (SELECT doc_id, array_to_string(t[L-2:L], ' ') AS key FROM ok)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.key AS boundary_key
    FROM tails a JOIN heads b USING (key)
    WHERE a.doc_id <> b.doc_id
    """


@query("boundary_overlap_pairs", oracle=_BOUNDARY_ORACLE)
def boundary_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-duplicate detection: directed pairs where doc A's last 3
    tokens equal doc B's first 3 — the signature of crawl/segmentation
    splits (one source document chopped into two records) and of
    copy-continuation spam.  A dedup class the set-similarity family
    misses by construction: the overlap is tiny relative to both docs,
    so Jaccard/containment never fire, but the boundary equality is
    exact evidence.

    Scale: two map-side projections of a 3-token boundary key and ONE
    equi-join on it — no explode of interior tokens, cost is
    corpus-linear.  Boilerplate corpora skew the head key (every page
    starts with the same banner); AQE skew-join splits those buckets,
    and the df of a head key bounds its output fan-out exactly like
    containment's max_df guard would — measure with a groupBy(key)
    count before raising k if fan-out explodes."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.text import tokens

    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("t"))
        .where(F.size("t") >= 3)
    )
    heads = toks.select(
        F.col("doc_id").alias("doc_b"),
        F.concat_ws(" ", F.slice("t", 1, 3)).alias("key"),
    )
    tails = toks.select(
        F.col("doc_id").alias("doc_a"),
        F.concat_ws(" ", F.expr("slice(t, size(t) - 2, 3)")).alias("key"),
    )
    return (
        tails.join(heads, "key")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", F.col("key").alias("boundary_key"))
    )


def _minhash_est_err_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """Signature-agreement Jaccard estimate vs exact Jaccard over the
    LSH candidate set — sigs/banding CTEs are the _inc_minhash_oracle
    layout without the batch split."""
    rows = num_hashes // bands
    mins = ",\n           ".join(
        f"MIN(substr(md5('{i // 4}:' || shingle), {(i % 4) * 8 + 1}, 8))"
        f" AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {key} AS band_key, {b} AS band_idx FROM sigs".format(
            b=b,
            key=" || '|' || ".join(f"h{b*rows+r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    agree_sum = " + ".join(
        f"(CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
    WITH toks AS (SELECT doc_id,
                         string_split_regex(trim(text), '\\s+') AS t
                  FROM documents),
    pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
            FROM toks WHERE len(t) >= 3),
    sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM pos),
    sigs AS (SELECT doc_id, {mins}
             FROM sh GROUP BY doc_id),
    br AS ({band_selects}),
    cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM br a JOIN br b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY 1),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n
              FROM cands c
              JOIN sh x ON x.doc_id = c.doc_a
              JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
              GROUP BY 1, 2),
    per AS (SELECT c.doc_a, c.doc_b,
                   ({agree_sum}) * 1000000 // {num_hashes} AS est_micro,
                   COALESCE(i.n, 0) * 1000000
                       // (sa.s + sb.s - COALESCE(i.n, 0)) AS exact_micro
            FROM cands c
            JOIN sigs x ON x.doc_id = c.doc_a
            JOIN sigs y ON y.doc_id = c.doc_b
            JOIN sizes sa ON sa.doc_id = c.doc_a
            JOIN sizes sb ON sb.doc_id = c.doc_b
            LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(abs(est_micro - exact_micro)) // COUNT(*) AS BIGINT)
               AS mae_micro,
           CAST(MAX(abs(est_micro - exact_micro)) AS BIGINT)
               AS max_abs_err_micro,
           CAST(SUM(CASE WHEN est_micro >= 500000
                          AND exact_micro < 500000
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_accept_at_half
    FROM per
    """


@query("minhash_estimate_error", oracle=_minhash_est_err_oracle())
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured estimator error of the 16-hash MinHash scheme: over the
    LSH candidate set, compare the signature-agreement Jaccard estimate
    (agree/16 — the ONLY similarity signal the incremental near-dup
    store has for historical docs) against exact shingle Jaccard.
    Reports MAE, worst case, and how many pairs a >=0.5 agreement
    threshold would accept that exact Jaccard rejects — i.e. the
    measured false-accept rate of incremental_minhash_dedup's
    min_agree=8 rule on THIS corpus.  The no-silent-caps audit for
    trusting k=16 signatures at scale: rerun with bigger k if
    mae/false-accepts are unacceptable.

    Scale: the candidate set and both similarity computations are the
    production dedup's own stages (banding join + verify join) plus a
    16-comparison map-side expression; one extra one-row rollup.  All
    integer micro arithmetic — no float comparisons cross-engine."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_sets(docs, 3).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    sigs = minhash_signatures(
        docs, 3, 16, shingles=sh
    ).localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(sigs, 16, 4)
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sx = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"xa{i}") for i in range(16)],
    )
    sy = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"xb{i}") for i in range(16)],
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b")
    )
    agree = sum(
        (F.col(f"xa{i}") == F.col(f"xb{i}")).cast("long") for i in range(16)
    )
    per = (
        cands.join(sx, "doc_a")
        .join(sy, "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            agree.alias("agree"),
            F.expr(
                "CAST(COALESCE(n, 0) * 1000000"
                " DIV (s_a + s_b - COALESCE(n, 0)) AS BIGINT)"
            ).alias("exact_micro"),
        )
        .select(
            F.expr("CAST(agree * 1000000 DIV 16 AS BIGINT)").alias(
                "est_micro"
            ),
            "exact_micro",
        )
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr(
            "CAST(SUM(abs(est_micro - exact_micro)) DIV COUNT(1)"
            " AS BIGINT)"
        ).alias("mae_micro"),
        F.max(F.abs(F.col("est_micro") - F.col("exact_micro"))).alias(
            "max_abs_err_micro"
        ),
        F.sum(
            (
                (F.col("est_micro") >= 500000)
                & (F.col("exact_micro") < 500000)
            ).cast("long")
        ).alias("n_false_accept_at_half"),
    )


_OOV_ORACLE = r"""
    WITH tok AS (SELECT source,
                        unnest(string_split_regex(trim(text), '\s+')) AS t
                 FROM documents),
    st AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    tc AS (SELECT t, SUM(c) AS gc FROM st GROUP BY t),
    vocab AS (SELECT t FROM tc ORDER BY gc DESC, t ASC LIMIT 16)
    SELECT st.source,
           CAST(SUM(st.c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.t IS NULL THEN st.c ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(SUM(CASE WHEN v.t IS NULL THEN st.c ELSE 0 END) * 10000
                // SUM(st.c) AS BIGINT) AS oov_rate_bp
    FROM st LEFT JOIN vocab v ON st.t = v.t
    GROUP BY st.source
    """


@query("tokenizer_oov_rate", oracle=_OOV_ORACLE)
def tokenizer_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: per source, the fraction of token
    occurrences falling outside the corpus's own top-K frequency
    vocabulary (K=16 here — meaningful against this synthetic corpus's
    31-type vocabulary; production K is 1e5–1e6).  The report a
    tokenizer build reads before freezing a vocab: a source with an
    outlier OOV rate either needs vocab budget or is noise.  Ties at
    the vocab boundary break lexicographically so the top-K set is a
    pure function of the counts in both engines.

    Scale: one (source, token) groupBy (the tokenize-pass shuffle
    class, partial-agg collapsed map-side), a K-row TakeOrdered vocab
    broadcast back onto the per-source token table, one bounded
    rollup.  The corpus is never re-scanned for the vocab — it derives
    from the same grouped table."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.text import tokens

    st = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(tokens("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        st.groupBy("t")
        .agg(F.sum("c").alias("gc"))
        .orderBy(F.col("gc").desc(), F.col("t").asc())
        .limit(16)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    return (
        st.join(F.broadcast(vocab), "t", "left")
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("n_oov"),
            F.expr(
                "CAST(SUM(CASE WHEN in_vocab IS NULL THEN c ELSE 0 END)"
                " * 10000 DIV SUM(c) AS BIGINT)"
            ).alias("oov_rate_bp"),
        )
    )


def _chain_merge_oracle(thr: float = 0.5) -> str:
    """Per-component direct-vs-implied pair counts.  The verified-pairs
    and components-closure SQL are the registered dedup_minhash_lsh /
    dedup_clusters oracles embedded verbatim as derived tables, so the
    three stay in lockstep by construction."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _components_oracle,
        _minhash_oracle,
    )

    return f"""
    WITH comps AS (SELECT * FROM ({_components_oracle(thr)}) c),
    dp AS (SELECT cm.component, COUNT(*) AS n_direct
           FROM ({_minhash_oracle(thr=thr)}) p
           JOIN comps cm ON cm.doc_id = p.doc_a
           GROUP BY 1),
    sz AS (SELECT component, COUNT(*) AS csize FROM comps GROUP BY 1)
    SELECT CAST(sz.component AS BIGINT) AS component,
           CAST(sz.csize AS BIGINT) AS cluster_size,
           CAST(COALESCE(dp.n_direct, 0) AS BIGINT) AS n_direct_pairs,
           CAST(sz.csize * (sz.csize - 1) // 2 AS BIGINT) AS implied_pairs,
           CAST((sz.csize * (sz.csize - 1) // 2
                 - COALESCE(dp.n_direct, 0)) * 10000
                // (sz.csize * (sz.csize - 1) // 2) AS BIGINT)
               AS indirect_rate_bp
    FROM sz LEFT JOIN dp USING (component)
    WHERE sz.csize >= 2
    """


@query("dedup_chain_merge_audit", oracle=_chain_merge_oracle())
def dedup_chain_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hairball audit of transitive-closure dedup: per non-singleton
    near-dup component, how many member pairs were DIRECTLY verified
    (exact Jaccard >= 0.5) vs merely implied by transitivity
    (C(size,2) - direct).  A high indirect rate is the chain-merge
    signature — A~B~C merged a component whose ends A,C are NOT
    near-dups — the known failure mode of closure-based dedup that
    silently deletes non-duplicates at scale; read this before trusting
    keep-one-per-cluster, and route high-indirect components to
    pairwise survivor rules instead.

    Scale: the pairs and the closure are the production dedup_clusters
    machinery unchanged (pairs computed once, checkpointed, reused as
    both the closure's edges and the direct-pair counts); the audit
    adds two component-keyed counts and one join of component-sized
    tables."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import dedup
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        label_propagation_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(
        docs, n=3, num_hashes=16, bands=4, threshold=0.5
    ).localCheckpoint(eager=False)
    comps = label_propagation_components(
        docs,
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
    )
    sz = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    dp = (
        pairs.join(
            comps.select(
                F.col("doc_id").alias("doc_a"), "component"
            ),
            "doc_a",
        )
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_direct"))
    )
    return (
        sz.where(F.col("cluster_size") >= 2)
        .join(dp, "component", "left")
        .select(
            F.col("component").cast("long").alias("component"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.coalesce(F.col("n_direct"), F.lit(0))
            .cast("long")
            .alias("n_direct_pairs"),
            F.expr(
                "CAST(cluster_size * (cluster_size - 1) DIV 2 AS BIGINT)"
            ).alias("implied_pairs"),
            F.expr(
                "CAST((cluster_size * (cluster_size - 1) DIV 2"
                " - COALESCE(n_direct, 0)) * 10000"
                " DIV (cluster_size * (cluster_size - 1) DIV 2)"
                " AS BIGINT)"
            ).alias("indirect_rate_bp"),
        )
    )


def _curate_v2_oracle() -> str:
    """The flagship curation pipeline's oracle: gopher per-doc flags
    (the gopher_rules_report SQL kept per-doc), the CCNet tercile
    assignment (embedded verbatim), the components closure + survivor
    window (the dedup_cluster_survivors SQL), and the md5_bucket split
    rule (the leakage_safe_split twin) — each stage IS its standalone
    oracle, composed as CTEs so the five queries stay in lockstep."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _components_oracle,
    )

    split = (
        "CAST(('0x' || substr(md5('split:' || CAST(s.component AS VARCHAR))"
        ", 1, 4)) AS BIGINT) % 10 = 0"
    )
    return f"""
    WITH lmb AS ({_CCNET_ORACLE}),
    comp AS (SELECT * FROM ({_components_oracle()}) c),
    toks AS (SELECT doc_id, source,
                    string_split_regex(trim(text), '\\s+') AS t
             FROM documents),
    occ AS (SELECT doc_id, unnest(t) AS w FROM toks),
    per_doc AS (SELECT o.doc_id,
                       COUNT(*) AS n_words,
                       SUM(length(o.w)) AS sum_len,
                       SUM(CASE WHEN regexp_matches(o.w, '[A-Za-z]')
                                THEN 1 ELSE 0 END) AS n_alpha,
                       SUM(CASE WHEN lower(o.w) IN
                                ('the','be','to','of','and','a','in','that')
                                THEN 1 ELSE 0 END) AS n_stop,
                       MAX(length(o.w)) AS max_len
                FROM occ o GROUP BY o.doc_id),
    gflags AS (SELECT t.doc_id, t.source,
                      (CASE WHEN p.n_words < 10 OR p.n_words > 100000
                            THEN 1 ELSE 0 END
                       + CASE WHEN p.sum_len * 100 < 300 * p.n_words
                                OR p.sum_len * 100 > 1000 * p.n_words
                              THEN 1 ELSE 0 END
                       + CASE WHEN p.n_alpha * 100 < 80 * p.n_words
                              THEN 1 ELSE 0 END
                       + CASE WHEN p.n_stop < 2 THEN 1 ELSE 0 END
                       + CASE WHEN p.max_len > 20 THEN 1 ELSE 0 END)
                          AS gopher_fails
               FROM per_doc p JOIN toks t USING (doc_id)),
    j AS (SELECT comp.doc_id, comp.component,
                 CAST(length(d.text) AS BIGINT) AS priority
          FROM comp JOIN documents d USING (doc_id)),
    best AS (SELECT component, doc_id AS survivor_id FROM (
               SELECT component, doc_id,
                      ROW_NUMBER() OVER (PARTITION BY component
                          ORDER BY priority DESC, doc_id) AS r
               FROM j) WHERE r = 1),
    surv AS (SELECT j.doc_id, j.component,
                    CAST(CASE WHEN j.doc_id = best.survivor_id
                         THEN 1 ELSE 0 END AS BIGINT) AS is_survivor
             FROM j JOIN best USING (component))
    SELECT g.doc_id, g.source,
           CAST(g.gopher_fails AS BIGINT) AS gopher_fails,
           CAST(COALESCE(b.tercile, 0) AS BIGINT) AS tercile,
           CAST(CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
               AS lm_scored,
           s.is_survivor,
           CASE WHEN {split} THEN 'val' ELSE 'train' END AS split,
           CAST(CASE WHEN g.gopher_fails = 0
                      AND COALESCE(b.tercile, 0) IN (1, 2)
                      AND s.is_survivor = 1
                THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM gflags g LEFT JOIN lmb b USING (doc_id) JOIN surv s USING (doc_id)
    """


@query("curate_corpus_v2", oracle=_curate_v2_oracle())
def curate_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship modern-pretraining curation pipeline (r06 verdict
    item 6), composed from the round's new stack with a per-document
    verdict row: Gopher quality rules (shared
    ``curation.gopher_doc_flags`` kernel — the audit report measures
    exactly this gate), CCNet per-language LM terciles (drop the
    'tail' tercile), near-dup survivor selection (MinHash-LSH pairs ->
    min-label components -> keep-the-longest ``canonical_survivors``),
    and the leakage-safe train/val split (whole components assigned by
    md5_bucket(component), so no near-duplicate of a training doc can
    reach the eval split).  ``kept`` = passes all gopher rules AND
    lands in LM tercile 1 or 2 AND cluster survivor; every doc keeps
    its full verdict so downstream writers filter/route without
    recomputing any stage — INCLUDING docs too short for the bigram LM
    to score (< 2 tokens): the LM stage is a LEFT join with
    ``lm_scored = 0`` / ``tercile = 0`` for them, so they fail the LM
    gate explicitly instead of silently vanishing from both splits
    (they have no fluency evidence; in practice the gopher word-count
    rule already fails them, but the verdict row must exist either
    way).

    Scale: one documents scan feeds three projected fronts (tokens for
    gopher flags — map-side only; the bigram LM train/score pair; the
    shingle->minhash->band front), each pruned to the columns it needs;
    the joins reassembling the verdict are doc_id equi-joins of
    doc-count-sized tables.  The heavy shapes are exactly the audited
    standalone ones: the LM's vocab-bounded grouped counts
    (operators/ngram_lm.py), the banded LSH candidate join
    (dedup_minhash_lsh), the O(edges)-per-round closure
    (dedup_clusters) — nothing new, composed once."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.hashing import (
        md5_bucket,
    )
    from mapreducemovieanalysis_cloud_spark.operators import ccnet, dedup
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        canonical_survivors,
        label_propagation_components,
    )
    from mapreducemovieanalysis_cloud_spark.operators.curation import (
        gopher_doc_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    gf = gopher_doc_flags(docs)
    gpass = gf.select(
        "doc_id",
        "source",
        (
            F.col("f_wc") + F.col("f_mwl") + F.col("f_ar")
            + F.col("f_sw") + F.col("f_mx")
        ).alias("gopher_fails"),
    )
    lmb = ccnet.lm_quality_buckets(
        docs.select("doc_id", "text", "lang"), num_partitions=8
    )
    pairs = dedup.minhash_lsh_dedup(
        docs, n=3, num_hashes=16, bands=4, threshold=0.5
    )
    comp = label_propagation_components(
        docs,
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
    )
    surv = canonical_survivors(docs, comp, F.length("text"))
    return (
        gpass.join(lmb.select("doc_id", "tercile"), "doc_id", "left")
        .join(surv.select("doc_id", "component", "is_survivor"), "doc_id")
        .select(
            "doc_id",
            "source",
            "gopher_fails",
            F.coalesce(F.col("tercile"), F.lit(0))
            .cast("long")
            .alias("tercile"),
            F.col("tercile").isNotNull().cast("long").alias("lm_scored"),
            "is_survivor",
            F.when(
                md5_bucket(F.col("component"), 10, salt="split:") == 0,
                "val",
            )
            .otherwise("train")
            .alias("split"),
            (
                (F.col("gopher_fails") == 0)
                & F.coalesce(F.col("tercile"), F.lit(0)).isin(1, 2)
                & (F.col("is_survivor") == 1)
            )
            .cast("long")
            .alias("kept"),
        )
    )
