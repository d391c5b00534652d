"""Round-9 query wave, second wave, registered through
``registry.query`` in round 9.

Built and oracle-parity-tested in round 8 for round 9's six slack
slots (the round-7 verdict pre-planned round 9 as "remaining 36 r04
rows + the 8 round8_staged candidates + 6 slack").
``tests/test_round9_staged.py`` runs the driver-identical
Spark-vs-DuckDB parity for every entry.

What the wave adds (gaps in the measured-pipeline story, not new
frameworks):

* ``lsh_recall_vs_exact`` — the calibration triad's missing NUMBER:
  measured recall of the production LSH banding against exact-Jaccard
  ground truth, per Jaccard decile.
* ``distinct_ngram_diversity`` — corpus diversity (distinct/total
  n-gram ratio per source, n = 1..3), the training-mix health metric
  dedup does not capture (a corpus can be dup-free yet repetitive).
* ``sq8_reconstruction_error`` — per-dimension quantization-error
  audit of the shipped SQ8 codec, the measured-error tier the SQ8
  index was missing (PQ got ann_recall_pq in the round-8 wave).
* ``unicode_hygiene_report`` — per-source mojibake/control-character
  screen, the cleaning signal upstream of every text gate.
* ``label_propagation_communities`` — deterministic synchronous LPA
  on the supplier co-occurrence graph, the densely-attached grouping
  connected components cannot express.
* ``token_head_mass`` — Zipf head concentration per source (top-k
  occurrence share), the rank-frequency mix-health summary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreducemovieanalysis_cloud_spark.registry import query
from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

# ---- LSH recall vs exact ground truth ---------------------------------------


def _recall_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """Exact-Jaccard truth pairs (brute shingle self-join — feasible at
    oracle scale) LEFT-joined against the SHARED production-banding
    candidate CTEs (round8_staged.lsh_candidates_cte — the same SQL the
    registered dedup and the threshold sweep audit), rolled up per
    Jaccard decile."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _SHINGLE_CTES,
    )
    from mapreducemovieanalysis_cloud_spark.queries.round8_staged import (
        lsh_candidates_cte,
    )

    return f"""
    WITH {_SHINGLE_CTES},
    {lsh_candidates_cte(num_hashes, bands)},
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS n_common
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    truth AS (SELECT i.doc_a, i.doc_b, i.n_common,
                     sa.n + sb.n - i.n_common AS u
              FROM inter i
              JOIN sizes sa ON sa.doc_id = i.doc_a
              JOIN sizes sb ON sb.doc_id = i.doc_b
              WHERE 2 * i.n_common >= sa.n + sb.n - i.n_common),
    marked AS (SELECT (t.n_common * 1000 // t.u) // 100 * 100 AS bucket,
                      CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END
                        AS caught
               FROM truth t
               LEFT JOIN cands c
                 ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
    SELECT CAST(bucket AS BIGINT) AS bucket_lo_permille,
           CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           CAST(COUNT(*) - SUM(caught) AS BIGINT) AS n_missed,
           CAST(SUM(caught) * 1000000 // COUNT(*) AS BIGINT)
               AS recall_micro
    FROM marked GROUP BY bucket
    """


@query("lsh_recall_vs_exact", oracle=_recall_oracle())
def lsh_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the production MinHash-LSH banding against
    EXACT Jaccard ground truth, per Jaccard decile — the number the
    calibration sweeps bound but never state.  The threshold sweeps
    (jaccard/cosine/simhash/containment) histogram what the candidate
    generators FIND; this query measures what the banding MISSES:
    ground truth is the registered ``jaccard_pairs`` PPJoin detector
    (lossless by construction, threshold 0.5), candidates are the
    registered ``lsh_candidate_pairs`` banding (16 hashes x 4 bands),
    and each decile row reports true pairs, caught, missed, and
    recall_micro — the empirical S-curve a corpus owner compares
    against the theoretical 1-(1-j^r)^b before trusting LSH-only dedup
    at 100 TB.

    Exactness: decile and recall are integer arithmetic over the truth
    pair's (n_common, union) counts; the only float compare is the
    registered detector's own j >= 0.5 gate (exact at rational 1/2).

    Scale: truth generation is the PPJoin prefix-filtered join
    (corpus-feasible at the 0.5 operating threshold — NOT an all-pairs
    scan; the oracle brute-forces only because oracle scale allows
    it); the banding side is the candidate join the dedup already
    pays; the final probe is one pair-keyed LEFT join between two
    pair-sets, each corpus-linear-ish at the operating threshold, then
    a ≤6-row rollup."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_sets(docs, 3).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    truth = (
        jaccard_pairs(docs, n=3, threshold=0.5, shingles=sh)
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("sa")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("sb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "n_common * 1000 div (sa + sb - n_common)"
                " div 100 * 100"
            ).alias("bucket"),
        )
    )
    cands = lsh_candidate_pairs(
        minhash_signatures(docs, n=3, num_hashes=16, shingles=sh),
        num_hashes=16,
        bands=4,
    ).withColumn("caught", F.lit(1))
    marked = truth.join(cands, ["doc_a", "doc_b"], "left").select(
        "bucket", F.coalesce("caught", F.lit(0)).alias("caught")
    )
    return marked.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum("caught").alias("n_caught"),
        (F.count(F.lit(1)) - F.sum("caught")).alias("n_missed"),
        F.expr(
            "CAST(SUM(caught) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("recall_micro"),
    ).select(
        F.col("bucket").cast("long").alias("bucket_lo_permille"),
        F.col("n_true_pairs").cast("long"),
        F.col("n_caught").cast("long"),
        F.col("n_missed").cast("long"),
        "recall_micro",
    )


# ---- corpus n-gram diversity ------------------------------------------------

_DIVERSITY_ORACLE = r"""
    WITH toked AS (SELECT source,
                          string_split_regex(trim(text), '\s+') AS t
                   FROM documents),
    grams AS (
      SELECT source, 1 AS n, unnest(t) AS gram FROM toked
      UNION ALL
      SELECT source, 2, t[i] || ' ' || t[i+1]
      FROM toked, unnest(generate_series(1, len(t) - 1)) AS g(i)
      WHERE len(t) >= 2
      UNION ALL
      SELECT source, 3, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      FROM toked, unnest(generate_series(1, len(t) - 2)) AS g(i)
      WHERE len(t) >= 3)
    SELECT source, CAST(n AS INT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
           CAST(COUNT(DISTINCT gram) * 1000 // COUNT(*) AS BIGINT)
               AS distinct_permille
    FROM grams GROUP BY source, n
    """


@query("distinct_ngram_diversity", oracle=_DIVERSITY_ORACLE)
def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity per source: distinct-n / total-n occurrence
    ratio for n = 1, 2, 3 (the distinct-n metric of text-generation
    eval, applied to the training mix).  Dedup's blind spot: a corpus
    with zero duplicate DOCUMENTS can still be internally repetitive
    (boilerplate phrases, templated spans), and a collapsing
    distinct-2/3 ratio is that signal — read next to
    ``vocab_growth_stats`` (which tracks growth over ingestion order,
    not mix composition) when weighting sources.

    Exactness: pure integer counts and one integer permille division.

    Scale: the gram explode is ~3x the tokenize pass (the floor every
    shingle query pays); COUNT(DISTINCT) per (source, n) is Spark's
    two-phase distinct aggregate — partial distinct on (source, n,
    gram) map-side, then a (source, n)-keyed merge; nothing collects,
    nothing is quadratic, and the output is |sources| x 3 rows."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    toked = docs.select(
        "source", tokens("text").alias("__toks")
    ).localCheckpoint(eager=False)
    per_n = [
        toked.select(
            "source",
            F.lit(n).cast("int").alias("n"),
            F.explode(
                shingles_from_tokens(F.col("__toks"), n)
                if n > 1
                else F.col("__toks")
            ).alias("gram"),
        )
        for n in (1, 2, 3)
    ]
    grams = per_n[0].unionByName(per_n[1]).unionByName(per_n[2])
    return grams.groupBy("source", "n").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_distinct("gram").alias("n_distinct"),
        F.expr(
            "CAST(COUNT(DISTINCT gram) * 1000 DIV COUNT(*) AS BIGINT)"
        ).alias("distinct_permille"),
    )


# ---- SQ8 reconstruction-error audit -----------------------------------------

def _sq8_err_oracle() -> str:
    """Quantization via the registered vector family's shared _QUANT
    template (CAST-to-DOUBLE before scaling — float32 arithmetic in
    the oracle would drift a last-ulp against Spark's double path)."""
    from mapreducemovieanalysis_cloud_spark.queries.pipeline_queries import (
        _QUANT,
    )

    return f"""
    WITH qv AS (SELECT vec_id,
                       {_QUANT.format(v="embedding")} AS q
                FROM embeddings),
    cell AS (SELECT vec_id, i AS d, q[i] AS x
             FROM qv, unnest(generate_series(1, len(q))) AS g(i)),
    st AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM cell GROUP BY d),
    err AS (SELECT c.d,
                   CASE WHEN s.mx = s.mn THEN 0
                        ELSE abs(c.x - (s.mn
                          + ((c.x - s.mn) * 255 // (s.mx - s.mn))
                            * (s.mx - s.mn) // 255)) END AS e
            FROM cell c JOIN st s ON s.d = c.d)
    SELECT CAST(d - 1 AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MAX(e) AS BIGINT) AS max_abs_err,
           CAST(SUM(e) AS BIGINT) AS sum_abs_err,
           CAST(SUM(e) * 1000000 // COUNT(*) AS BIGINT)
               AS mean_abs_err_micro
    FROM err GROUP BY d
    """


@query("sq8_reconstruction_error", oracle=_sq8_err_oracle())
def sq8_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension reconstruction-error audit of the SHIPPED SQ8
    codec (operators/similarity.sq8_reconstructed — the audit decodes
    through the production kernel, so measured codec == shipped codec
    by construction): for every dimension, the max and mean absolute
    error between the quantized original and its SQ8 reconstruction,
    in the same integer micro units the scorer compares in.  This is
    the measured-error tier the SQ8 index lacked (IVF and PQ each got
    a recall audit); a dimension whose max_abs_err approaches its
    [min, max] range / 255 bound is behaving, one far above it means
    the range is outlier-stretched and the codec needs clipping —
    read next to ``embedding_health_report`` before trusting SQ8
    distances for dedup.

    Exactness: quantize -> code -> recon is exact int64 end-to-end
    (all operands non-negative at the div sites), so both engines
    agree bit-for-bit.

    Scale: per-dim stats are one posexplode aggregate (d keys); the
    error join broadcasts the d-row stats; output is d rows.  One
    corpus scan, no driver-side state."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.vector import quantize
    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        sq8_reconstructed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select("vec_id", quantize("embedding").alias("q"))
    rec = sq8_reconstructed(emb)
    err = (
        qv.join(rec, "vec_id")
        .select(F.posexplode("q").alias("d", "x"), F.col("recon"))
        .select(
            "d",
            F.abs(
                F.col("x") - F.element_at("recon", F.col("d") + 1)
            ).alias("e"),
        )
    )
    return err.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.max("e").cast("long").alias("max_abs_err"),
        F.sum("e").cast("long").alias("sum_abs_err"),
        F.expr(
            "CAST(SUM(e) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("mean_abs_err_micro"),
    ).select(
        F.col("d").cast("long").alias("d"),
        "n_vecs",
        "max_abs_err",
        "sum_abs_err",
        "mean_abs_err_micro",
    )


# ---- unicode hygiene --------------------------------------------------------

# Shared char classes, \x{...} escapes parse identically in Java regex
# (Spark) and RE2 (DuckDB)
_CTRL = r"[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]"
_REPL = r"[\x{FFFD}]"
_ZW = r"[\x{200B}-\x{200D}\x{FEFF}]"

_HYGIENE_ORACLE = f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN regexp_matches(text, '{_CTRL}')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_docs,
           CAST(SUM(CASE WHEN regexp_matches(text, '{_REPL}')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_replacement_docs,
           CAST(SUM(CASE WHEN regexp_matches(text, '{_ZW}')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_zerowidth_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           CAST(SUM(length(regexp_replace(text,
                    '[\\x{{0000}}-\\x{{007F}}]', '', 'g'))) AS BIGINT)
               AS n_nonascii_chars,
           CAST(SUM(length(regexp_replace(text,
                    '[\\x{{0000}}-\\x{{007F}}]', '', 'g'))) * 1000000
                // GREATEST(SUM(length(text)), 1) AS BIGINT)
               AS nonascii_ppm
    FROM documents GROUP BY source
    """


@query("unicode_hygiene_report", oracle=_HYGIENE_ORACLE)
def unicode_hygiene_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-hygiene screen: documents containing raw
    control characters, U+FFFD replacement characters (the mojibake
    tombstone a broken decode leaves behind), or zero-width characters
    (the classic prompt-injection/watermark vector), plus the
    non-ASCII character load — the triage table a cleaning pass reads
    BEFORE the text gates, because every downstream heuristic
    (stopword language-ID, token counts, Gopher rules) silently
    degrades on mojibake rather than failing.

    Exactness: codepoint counts and one guarded integer ppm division
    (GREATEST keeps an empty source finite); the char-class escapes
    use the \\x{{...}} form both Java regex and RE2 parse identically.

    Scale: pure per-row regexp expressions folded into one
    source-keyed aggregate — a single corpus scan, zero extra
    shuffles, |sources| output rows."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    nonascii = F.length(
        F.regexp_replace("text", r"[\x{0000}-\x{007F}]", "")
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # Column-API rlike: the pattern reaches the regex engine
        # verbatim (an F.expr SQL literal would eat the backslashes)
        F.sum(F.col("text").rlike(_CTRL).cast("long")).alias(
            "n_ctrl_docs"
        ),
        F.sum(F.col("text").rlike(_REPL).cast("long")).alias(
            "n_replacement_docs"
        ),
        F.sum(F.col("text").rlike(_ZW).cast("long")).alias(
            "n_zerowidth_docs"
        ),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(nonascii).alias("n_nonascii_chars"),
        F.expr(
            "CAST(SUM(length(regexp_replace(text,"
            " '[\\\\x{0000}-\\\\x{007F}]', ''))) * 1000000"
            " DIV GREATEST(SUM(length(text)), 1) AS BIGINT)"
        ).alias("nonascii_ppm"),
    )


# ---- label-propagation communities ------------------------------------------

_LPA_ITERS = 3

_LPA_EDGE_CTES = """
    li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    pr AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS shared
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                               AND a.l_suppkey < b.l_suppkey
           GROUP BY 1, 2),
    edges AS (SELECT u, v FROM pr WHERE shared >= 20),
    und AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges)"""


def _lpa_oracle(iters: int = _LPA_ITERS) -> str:
    """Synchronous LPA unrolled ``iters`` times: each round every node
    takes the most frequent label among its neighbours (count DESC,
    label ASC tie-break — fully deterministic)."""
    steps = []
    prev = "l0"
    for i in range(1, iters + 1):
        steps.append(
            f"""
    l{i} AS (SELECT u AS node, label FROM (
          SELECT n.u, l.label, COUNT(*) AS c,
                 ROW_NUMBER() OVER (PARTITION BY n.u
                     ORDER BY COUNT(*) DESC, l.label) AS r
          FROM und n JOIN {prev} l ON l.node = n.v
          GROUP BY n.u, l.label) WHERE r = 1)"""
        )
        prev = f"l{i}"
    return f"""
    WITH {_LPA_EDGE_CTES},
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM und),
    {','.join(steps)}
    SELECT CAST(node AS BIGINT) AS suppkey,
           CAST(label AS BIGINT) AS community
    FROM {prev}
    """


@query("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection on the supplier co-occurrence graph
    (the triangle_counts_suppliers edge definition: >= 20 shared
    orders) via SYNCHRONOUS label propagation, {it} rounds — the
    modularity-style grouping the graph family lacked: connected
    components answers "reachable at all", LPA answers "densely
    attached", and on a dedup-cluster graph the difference is exactly
    the chain-merge pathology dedup_chain_merge_audit measures.

    Determinism (the reason for SYNCHRONOUS rounds): every node
    updates from the PREVIOUS round's labels, and the per-node vote is
    an integer argmax (count DESC, label ASC), so the result is a pure
    function of the edge set — no traversal order, partitioning, or
    async race anywhere.  A fixed {it}-round horizon keeps the lineage
    bounded (the bounded-iteration BPE/PageRank discipline) and is the
    standard near-convergence budget for LPA's coarse structure.

    Scale: each round is one edge-keyed join (labels are |V| rows,
    edges |E|) + one (node, label) partial-count aggregate + one
    |V|-row argmax — 3 bounded shuffles per round, no windows over
    edges, no driver-side state; lineage is cut per round with a lazy
    localCheckpoint exactly like the PageRank loop."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li, group_col="l_orderkey", node_col="l_suppkey", min_shared=20
    )
    und = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    labels = (
        und.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("label"))
    )
    for _ in range(_LPA_ITERS):
        votes = (
            und.join(
                labels.select(
                    F.col("node").alias("v"), F.col("label")
                ),
                "v",
            )
            .groupBy("u", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.groupBy("u")
            .agg(
                F.min_by(
                    "label",
                    F.struct((-F.col("c")).alias("nc"), F.col("label")),
                ).alias("label")
            )
            .select(F.col("u").alias("node"), "label")
            .localCheckpoint(eager=False)
        )
    return labels.select(
        F.col("node").cast("long").alias("suppkey"),
        F.col("label").cast("long").alias("community"),
    )


label_propagation_communities.__doc__ = (
    label_propagation_communities.__doc__.format(it=_LPA_ITERS)
)


# ---- Zipf head mass ---------------------------------------------------------

_HEAD_KS = (10, 100, 1000)

_HEAD_MASS_ORACLE = r"""
    WITH occ AS (SELECT source, unnest(
                   string_split_regex(trim(text), '\s+')) AS tok
                 FROM documents),
    cnt AS (SELECT source, tok, COUNT(*) AS c FROM occ GROUP BY 1, 2),
    rk AS (SELECT source, c, ROW_NUMBER() OVER (
             PARTITION BY source ORDER BY c DESC, tok) AS r
           FROM cnt)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens_total,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN r <= 10 THEN c ELSE 0 END) * 1000
                // SUM(c) AS BIGINT) AS top10_permille,
           CAST(SUM(CASE WHEN r <= 100 THEN c ELSE 0 END) * 1000
                // SUM(c) AS BIGINT) AS top100_permille,
           CAST(SUM(CASE WHEN r <= 1000 THEN c ELSE 0 END) * 1000
                // SUM(c) AS BIGINT) AS top1000_permille
    FROM rk GROUP BY source
    """


@query("token_head_mass", oracle=_HEAD_MASS_ORACLE)
def token_head_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head concentration per source: the share of all token
    occurrences covered by the top-10/100/1000 tokens — the
    rank-frequency summary a mixing decision reads instead of a
    fitted Zipf exponent (same signal, zero float regression: a
    head-heavy source is templated/boilerplate, a flat one is
    diverse).  Complements distinct_ngram_diversity (type/token
    ratio) with WHERE the mass sits.

    Exactness: counts, a deterministic rank (count DESC, token ASC),
    and integer permille divisions — engine-identical bit-for-bit.

    Scale: one token-keyed partial-count aggregate (vocabulary-sized
    output, Heaps-sublinear), then a rank window over VOCAB rows per
    source — never over token occurrences or documents — and a
    |sources|-row rollup.  The tokenize pass is the corpus floor."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    cnt = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("tok")
    )
    rk = cnt.withColumn("r", F.row_number().over(w))
    aggs = [
        F.sum("c").alias("n_tokens_total"),
        F.count(F.lit(1)).alias("vocab_size"),
    ] + [
        F.expr(
            f"CAST(SUM(CASE WHEN r <= {k} THEN c ELSE 0 END) * 1000"
            f" DIV SUM(c) AS BIGINT)"
        ).alias(f"top{k}_permille")
        for k in _HEAD_KS
    ]
    return rk.groupBy("source").agg(*aggs)
