"""Round-12 query wave, built in round 10 and registered through
``registry.query`` in round 12 per the committed window plan (the
round-10/11 ledgers).  ``tests/test_round12_staged.py`` runs the
driver-identical Spark-vs-DuckDB parity plus batch-split-invariance,
retry-idempotence, and python brute-force replays.

The wave's theme: the INCREMENTAL-STORE family closes over sketches
and consumers.  The engine already maintains incremental stores for
exact fingerprints, MinHash signatures, n-gram LM counts, IVF cells,
and (round 11) co-occurrence pair counts; this wave adds the two
mergeable-sketch tiers and the first stored-graph CONSUMER — all three
answering with a truth the registry already trusts:

* ``stored_graph_triangles`` — triangle counts served from the round-11
  pair-count store: the SAME ``graph.triangle_counts`` kernel over the
  stored edge list, against the registered
  ``triangle_counts_suppliers`` oracle VERBATIM.  The store is only
  worth shipping if existing algorithms answer identically from it —
  this is that proof, the consumer-tested-store pattern (cf. the
  round-8 skew alarm→remedy loop).
* ``incremental_distinct_users`` — per-type distinct-user estimates
  from a persistent Flajolet-Martin register store
  (operators/sketches.py): register masks are plain BIGINTs, merge is
  bitwise OR (associative, idempotent — ROW-level batch splits are
  safe), stored state is 16 longs per group regardless of cardinality.
  The stored/mergeable tier ``approx_distinct`` (engine-private HLL++
  state) cannot provide.
* ``incremental_source_overlap`` — the cross-source duplication matrix
  served from a persistent bottom-k (KMV) sketch store
  (operators/corpus_overlap.incremental_kmv_*): bottom-k merges by
  union-then-re-rank (BK(A∪B) = BK(BK(A)∪BK(B))), so the merged
  sketch equals the full-corpus sketch exactly and the oracle is the
  registered ``source_overlap_bottomk`` SQL VERBATIM.
* ``fm_audience_overlap`` — sketch ALGEBRA on the same FM store: FM
  sketches are closed under union (bitwise OR of stored masks), so
  cross-type audience overlap follows by inclusion-exclusion from R
  longs per type — zero additional corpus scans, composable across any
  group pair after the fact.
* ``masked_lm_dataset`` — BERT-style (input_ids, labels) construction
  with a deterministic md5 mask draw (baked 15% threshold literal):
  the dataset-construction step the pipeline family was missing
  (tokenize_to_ids encodes, chunk/pack shape, this one produces the
  training objective's supervision).
* ``multimodal_frame_dedup`` — cross-media near-dup pairs via exact
  frame fingerprints (the video-dedup staple): blockhash/phash compare
  whole payloads, this detects clip-of / re-encode / shared-segment
  relationships by equi-joining sampled-frame hashes, payloads never
  shuffling.
* ``span_corruption_dataset`` — T5-style (inputs with span sentinels,
  targets with sentinel-prefixed spans): with ``masked_lm_dataset``
  this completes the training-objective construction pair on the same
  deterministic-draw foundation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark.registry import query
from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

def _store_path(spark, sf_dir: str, family: str, version: str,
                table: str, build_fn) -> str:
    """Build-if-absent a fingerprint+version-keyed store — the shared
    incremental-store cache protocol, owned by operators/storecache
    (one atomic publish, stale-build sweep, superseded-fingerprint
    eviction)."""
    from mapreducemovieanalysis_cloud_spark.operators.storecache import (
        cached_store,
    )

    return cached_store(sf_dir, family, version, table, build_fn)


# ---- stored-graph consumer: triangles from the pair-count store ---------------


def _stored_triangle_oracle() -> str:
    """The registered triangle_counts_suppliers oracle VERBATIM: a
    stored edge list is only trustworthy if existing algorithms answer
    identically from it."""
    from mapreducemovieanalysis_cloud_spark.queries.scale_queries import (
        _TRIANGLE_ORACLE,
    )

    return _TRIANGLE_ORACLE


@query("stored_graph_triangles", oracle=_stored_triangle_oracle())
def stored_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation counts served from the INCREMENTALLY
    maintained co-occurrence pair-count store (round11_staged's
    cooc_store_path — one store per corpus, shared with
    incremental_graph_edges): the identical ``graph.triangle_counts``
    kernel the registered query runs, with only the edge SOURCE
    swapped from a full fact-table derivation to a store read.  The
    oracle is the registered triangle oracle verbatim — merged counts
    equal the rebuild, so the triangles must too.

    This is the store's consumer proof: at 100 TB the win is that
    EVERY downstream graph algorithm (triangles here; k-core, BFS,
    LPA, PageRank, Adamic-Adar, ANF identically) skips the distinct +
    group-keyed self-join over the fact table — the probes show that
    derivation dominating every graph query — and starts from
    pair-count partials an ingest day maintains at O(batch)."""
    from mapreducemovieanalysis_cloud_spark.operators import graph
    from mapreducemovieanalysis_cloud_spark.queries.round11_staged import (
        cooc_store_path,
    )

    edges = graph.incremental_cooccurrence_edges(
        spark, cooc_store_path(spark, sf_dir), min_shared=20
    ).select("u", "v")
    return graph.triangle_counts(edges, topk=50).select(
        F.col("node"), "n_triangles"
    )


# ---- incremental FM distinct store ---------------------------------------------

_FM_R = 16


def _fm_oracle(registers: int = _FM_R) -> str:
    from mapreducemovieanalysis_cloud_spark.operators.sketches import (
        FM_BIT_CAP,
        FM_PHI,
    )

    return f"""
    WITH ids AS (SELECT DISTINCT event_type, user_id FROM events),
    regs AS (SELECT event_type, user_id, r
             FROM ids, unnest(generate_series(0, {registers - 1}))
                  AS gg(r)),
    h0 AS (SELECT event_type, r,
                  CAST(('0x' || substr(md5('fmd:' || CAST(r AS VARCHAR)
                        || ':' || CAST(user_id AS VARCHAR)), 1, 8))
                       AS BIGINT) AS hv
           FROM regs),
    s0 AS (SELECT event_type, r,
                  bit_or(CAST(1 AS BIGINT) <<
                    CASE WHEN hv = 0 THEN {FM_BIT_CAP}
                         ELSE LEAST(bit_count((hv & -hv) - 1),
                                    {FM_BIT_CAP}) END) AS m
           FROM h0 GROUP BY 1, 2)
    SELECT event_type,
           CAST(SUM(bit_count(m & xor(m, m + 1))) AS BIGINT) AS b_sum,
           CAST(ROUND(POW(2.0,
                CAST(SUM(bit_count(m & xor(m, m + 1))) AS DOUBLE)
                / {registers}) / {FM_PHI} * 1000) AS BIGINT)
               AS est_distinct_milli
    FROM s0 GROUP BY 1
    """


@query("incremental_distinct_users", oracle=_fm_oracle())
def incremental_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type distinct-user estimates served from a persistent
    Flajolet-Martin register store (operators/sketches.py): the event
    stream arrives as two batches (event_id parity — ROW-level splits
    are safe, OR-merge is idempotent per user), each appended at
    O(batch) cost, and the estimate reads the OR-merged masks.  The
    merged sketch is EXACTLY the full-corpus sketch (bit_or is
    associative and idempotent), so the oracle replicates the whole
    construction from scratch and must agree bit-for-bit on the
    integer register sums.

    This is the stored tier the registered ``approx_distinct`` (Spark
    HLL++) cannot provide: HLL++ sketch state is engine-private —
    unstorable, unmergeable across days, invisible to the oracle.
    "Distinct users per type TO DATE" becomes a per-day O(batch)
    append over 16 longs per group instead of a history rescan.

    Scale: the registers explode is map-side; the bit_or partial
    aggregate ships |groups| x 16 rows per batch regardless of event
    volume; the store holds masks, never ids."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id"
    )

    def build(path: str) -> None:
        sketches.incremental_fm_append(
            ev.where(F.col("event_id") % 2 == 0), path, "b0",
            group_cols=["event_type"], id_col="user_id",
            registers=_FM_R,
        )
        sketches.incremental_fm_append(
            ev.where(F.col("event_id") % 2 == 1), path, "b1",
            group_cols=["event_type"], id_col="user_id",
            registers=_FM_R,
        )

    store = _store_path(
        spark, sf_dir, "spark_graft_fm_inc",
        sketches.FM_STORE_VERSION, "events", build,
    )
    return sketches.incremental_fm_distinct(
        spark, store, group_cols=["event_type"], registers=_FM_R
    )


# ---- incremental KMV overlap store ----------------------------------------------


def _kmv_oracle() -> str:
    """The registered source_overlap_bottomk oracle VERBATIM: a stored
    sketch must answer the overlap matrix identically to the
    from-scratch sketch."""
    from mapreducemovieanalysis_cloud_spark.queries.round7_staged import (
        _BOTTOMK_ORACLE,
    )

    return _BOTTOMK_ORACLE


@query("incremental_source_overlap", oracle=_kmv_oracle())
def incremental_source_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The cross-source duplication matrix served from a persistent
    bottom-k (KMV) sketch store: documents arrive as two batches
    (doc_id parity — row-level splits are safe: bottom-k merges by
    union-then-re-rank, BK(A ∪ B) = BK(BK(A) ∪ BK(B)), associative and
    idempotent), each appended at O(batch) cost
    (operators/corpus_overlap.incremental_kmv_append), and the pair
    estimator runs on the merged sketches via ``pairwise_overlap(...,
    sketches=...)`` — the registered kernel unchanged.  Because the
    merged sketch equals the full-corpus sketch exactly, the oracle is
    the registered ``source_overlap_bottomk`` SQL VERBATIM.

    At 100 TB: the overlap audit re-shingles the whole corpus today on
    every run; with the store, an ingest day shingles only itself and
    the audit reads <= |sources| x k hashes of state.

    Scale: stored rows are sketch-sized (k=64 hashes per source per
    batch); the merge is one distinct + one per-group bottom-k window
    over batch-count rows; pair enumeration stays equi-join-driven."""
    from mapreducemovieanalysis_cloud_spark.operators import corpus_overlap

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )

    def build(path: str) -> None:
        corpus_overlap.incremental_kmv_append(
            docs.where(F.col("doc_id") % 2 == 0), path, "b0",
            group_col="source", n=3, k=64,
        )
        corpus_overlap.incremental_kmv_append(
            docs.where(F.col("doc_id") % 2 == 1), path, "b1",
            group_col="source", n=3, k=64,
        )

    store = _store_path(
        spark, sf_dir, "spark_graft_kmv_inc",
        corpus_overlap.KMV_STORE_VERSION, "documents", build,
    )
    sk = corpus_overlap.incremental_kmv_sketches(spark, store, k=64)
    return corpus_overlap.pairwise_overlap(
        None, k=64, sketches=sk
    )


# ---- sketch algebra: cross-type audience overlap from the SAME store ------------


def _fm_overlap_oracle(registers: int = _FM_R) -> str:
    from mapreducemovieanalysis_cloud_spark.operators.sketches import (
        FM_BIT_CAP,
        FM_PHI,
    )

    est = (
        "CAST(ROUND(POW(2.0, CAST({b} AS DOUBLE) / "
        f"{registers}) / {FM_PHI} * 1000) AS BIGINT)"
    )
    return f"""
    WITH ids AS (SELECT DISTINCT event_type, user_id FROM events),
    regs AS (SELECT event_type, user_id, r
             FROM ids, unnest(generate_series(0, {registers - 1}))
                  AS gg(r)),
    h0 AS (SELECT event_type, r,
                  CAST(('0x' || substr(md5('fmd:' || CAST(r AS VARCHAR)
                        || ':' || CAST(user_id AS VARCHAR)), 1, 8))
                       AS BIGINT) AS hv
           FROM regs),
    s0 AS (SELECT event_type, r,
                  bit_or(CAST(1 AS BIGINT) <<
                    CASE WHEN hv = 0 THEN {FM_BIT_CAP}
                         ELSE LEAST(bit_count((hv & -hv) - 1),
                                    {FM_BIT_CAP}) END) AS m
           FROM h0 GROUP BY 1, 2),
    per AS (SELECT event_type,
                   SUM(bit_count(m & xor(m, m + 1))) AS bs
            FROM s0 GROUP BY 1),
    u AS (SELECT a.event_type AS ga, b.event_type AS gb,
                 SUM(bit_count((a.m | b.m)
                     & xor(a.m | b.m, (a.m | b.m) + 1))) AS bu
          FROM s0 a JOIN s0 b
            ON a.r = b.r AND a.event_type < b.event_type
          GROUP BY 1, 2)
    SELECT u.ga AS group_a, u.gb AS group_b,
           CAST(pa.bs AS BIGINT) AS b_sum_a,
           CAST(pb.bs AS BIGINT) AS b_sum_b,
           CAST(u.bu AS BIGINT) AS b_sum_union,
           {est.format(b="pa.bs")} AS est_a_milli,
           {est.format(b="pb.bs")} AS est_b_milli,
           {est.format(b="u.bu")} AS est_union_milli,
           CAST({est.format(b="pa.bs")} + {est.format(b="pb.bs")}
                - {est.format(b="u.bu")} AS BIGINT) AS inter_est_milli
    FROM u JOIN per pa ON pa.event_type = u.ga
           JOIN per pb ON pb.event_type = u.gb
    """


@query("fm_audience_overlap", oracle=_fm_overlap_oracle())
def fm_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-type audience overlap estimated PURELY from the stored FM
    register masks — the sketch-algebra payoff on top of
    incremental_distinct_users (it reads the SAME store, zero
    additional corpus scans): FM sketches are closed under union, so
    |users(A) ∪ users(B)| is one bitwise OR of stored masks, and the
    shared-audience size follows by inclusion-exclusion
    |A∩B| ≈ |A| + |B| - |A∪B|.  The question a funnel or campaign
    audit asks ("do viewers and purchasers overlap, or are they
    disjoint populations?") answered from R longs per type — no id
    lists, no re-scan, composable across any group pair after the
    fact.

    Determinism: the three register sums per pair are exact integers
    (the driver-pinnable columns); the milli estimates are the shared
    double expression on them.  ``inter_est_milli`` can be negative on
    near-disjoint pairs (estimator noise) — reported raw by contract.

    Scale: pair enumeration keys the register index over a bounded
    type catalog (|types|² x R rows); the store read is |types| x R
    masks.  Nothing touches event volume."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches
    from mapreducemovieanalysis_cloud_spark.sources.writers import (
        read_epochs,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id"
    )

    def build(path: str) -> None:
        sketches.incremental_fm_append(
            ev.where(F.col("event_id") % 2 == 0), path, "b0",
            group_cols=["event_type"], id_col="user_id",
            registers=_FM_R,
        )
        sketches.incremental_fm_append(
            ev.where(F.col("event_id") % 2 == 1), path, "b1",
            group_cols=["event_type"], id_col="user_id",
            registers=_FM_R,
        )

    store = _store_path(
        spark, sf_dir, "spark_graft_fm_inc",
        sketches.FM_STORE_VERSION, "events", build,
    )
    merged = (
        read_epochs(spark, f"{store}/masks")
        .groupBy("event_type", "r")
        .agg(F.expr("bit_or(m)").alias("m"))
    )
    return sketches.fm_pairwise_overlap(
        merged, "event_type", registers=_FM_R
    )


# ---- masked-LM dataset construction ----------------------------------------------


def _mlm_oracle() -> str:
    from mapreducemovieanalysis_cloud_spark.operators.curation import (
        IGNORE_LABEL,
        MASK_ID,
        MASK_THRESHOLD_U32,
    )

    return rf"""
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
    enc AS (SELECT tok.doc_id, tok.i, COALESCE(v.tok_id, -1) AS tok_id,
                   CAST(('0x' || substr(md5('mask:'
                        || CAST(tok.doc_id AS VARCHAR) || ':'
                        || CAST(tok.i AS VARCHAR)), 1, 8)) AS BIGINT)
                     < {MASK_THRESHOLD_U32} AS masked
            FROM tok LEFT JOIN vocab v USING (token))
    SELECT doc_id,
           string_agg(CAST(CASE WHEN masked THEN {MASK_ID}
                           ELSE tok_id END AS VARCHAR),
                      ',' ORDER BY i) AS input_ids_csv,
           string_agg(CAST(CASE WHEN masked THEN tok_id
                           ELSE {IGNORE_LABEL} END AS VARCHAR),
                      ',' ORDER BY i) AS labels_csv,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_masked
    FROM enc GROUP BY doc_id
    """


@query("masked_lm_dataset", oracle=_mlm_oracle())
def masked_lm_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style masked-LM training pairs over the corpus-trained
    top-40 vocabulary: per document, the (input_ids, labels) CSV pair a
    masked-LM trainer consumes — inputs read MASK_ID (-2) at the ~15%
    deterministically-selected positions, labels carry the original
    token id there and IGNORE_LABEL (-100) everywhere else.  The
    dataset-CONSTRUCTION step the pipeline family was missing:
    tokenize_to_ids encodes, chunk/pack shape, this one produces the
    actual training objective's supervision.

    Determinism: the mask decision is md5(mask:doc:pos) 32-bit slice
    < floor(0.15 * 2^32) — a baked integer literal shared with the
    oracle (the POISSON1_T32 rule), a pure function of (doc, position):
    same doc => same mask set under any partitioning, engine, or retry.
    The 80/10/10 random-token arm is deliberately out of contract
    (documented in operators/curation.masked_lm_dataset).

    Scale: identical posture to the registered tokenize_to_ids —
    vocab-sized sort, broadcast encode join, one doc-keyed re-assembly;
    the mask draw is map-side expression work."""
    from mapreducemovieanalysis_cloud_spark.operators import curation

    return curation.masked_lm_dataset(
        load_table(spark, sf_dir, "documents"), vocab_size=40
    )


# ---- multimodal: cross-media frame dedup ------------------------------------------

_FRAME_DEDUP_ORACLE = """
    WITH m AS (SELECT doc_id AS media_id, text,
                      greatest(CAST(floor(length(text) / 64.0) AS INT) - 1,
                               0) AS mb
               FROM documents WHERE length(text) > 0),
    fr AS (SELECT DISTINCT media_id,
                  md5(substr(text, i * 64 + 1, 64)) AS h
           FROM m, unnest(generate_series(0, mb)) AS g(i)),
    sz AS (SELECT media_id, COUNT(*) AS nf FROM fr GROUP BY 1),
    p AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
                 COUNT(*) AS n_shared
          FROM fr a JOIN fr b ON a.h = b.h AND a.media_id < b.media_id
          GROUP BY 1, 2)
    SELECT p.media_a, p.media_b,
           CAST(sa.nf AS BIGINT) AS nf_a, CAST(sb.nf AS BIGINT) AS nf_b,
           CAST(p.n_shared AS BIGINT) AS n_shared,
           CAST(p.n_shared * 10000 // LEAST(sa.nf, sb.nf) AS BIGINT)
             AS containment_bp
    FROM p JOIN sz sa ON sa.media_id = p.media_a
           JOIN sz sb ON sb.media_id = p.media_b
    """


@query("multimodal_frame_dedup", oracle=_FRAME_DEDUP_ORACLE)
def multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-media near-duplicate pairs via exact frame fingerprints
    (operators/multimodal.frame_dedup_pairs) — the video-dedup staple
    the multimodal family was missing: blockhash/phash compare WHOLE
    payloads; this detects the clip-of / re-encode / shared-segment
    relationship by equi-joining sampled-frame content hashes, with
    containment_bp = shared * 10000 // min(|A|, |B|) as the verdict
    column (10000 = every sampled frame of the smaller asset appears
    in the other).

    Scale: payload bytes never shuffle (slice + hash in one map-side
    projection); the pair join keys on the 16-byte frame hash, so
    candidate volume is driven by real duplication — the LSH-band
    posture, never |media|²; rollups are pure integers.
    """
    from mapreducemovieanalysis_cloud_spark.operators import multimodal

    media = multimodal.documents_as_media(
        load_table(spark, sf_dir, "documents").where(
            F.length("text") > 0
        )
    )
    return multimodal.frame_dedup_pairs(media, every_n_bytes=64)


# ---- T5 span-corruption dataset ----------------------------------------------------


def _span_oracle() -> str:
    from mapreducemovieanalysis_cloud_spark.operators.curation import (
        SENTINEL_BASE,
        SPAN_LEN,
        SPAN_START_THRESHOLD_U32,
    )

    fired = (
        "({p} >= 1 AND CAST(('0x' || substr(md5('span:'"
        " || CAST(doc_id AS VARCHAR) || ':' || CAST({p} AS VARCHAR)),"
        f" 1, 8)) AS BIGINT) < {SPAN_START_THRESHOLD_U32})"
    )
    # fired-offset list DERIVED from SPAN_LEN (one constant owns the
    # span length on both engines — the Spark coverage OR is built from
    # the same constant in operators/curation.py)
    cov = "\n                    OR ".join(
        fired.format(p="tok.i" if k == 0 else f"(tok.i - {k})")
        for k in range(SPAN_LEN)
    )
    return rf"""
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
    enc AS (SELECT tok.doc_id, tok.i, COALESCE(v.tok_id, -1) AS tok_id,
                   ({cov}) AS cov
            FROM tok LEFT JOIN vocab v USING (token)),
    sp AS (SELECT *, cov AND NOT COALESCE(lag(cov) OVER w, FALSE)
                       AS is_start
           FROM enc WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
    sk AS (SELECT *, SUM(CASE WHEN is_start THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY i
                             ROWS UNBOUNDED PRECEDING) - 1 AS k
           FROM sp)
    SELECT doc_id,
           COALESCE(string_agg(
             CASE WHEN is_start THEN CAST({SENTINEL_BASE} - k AS VARCHAR)
                  ELSE CAST(tok_id AS VARCHAR) END, ',' ORDER BY i)
             FILTER (WHERE NOT cov OR is_start), '') AS input_ids_csv,
           COALESCE(string_agg(
             CASE WHEN is_start THEN CAST({SENTINEL_BASE} - k AS VARCHAR)
                    || ',' || CAST(tok_id AS VARCHAR)
                  ELSE CAST(tok_id AS VARCHAR) END, ',' ORDER BY i)
             FILTER (WHERE cov), '') AS targets_csv,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupted,
           CAST(SUM(CASE WHEN is_start THEN 1 ELSE 0 END) AS BIGINT)
             AS n_spans
    FROM sk GROUP BY doc_id
    """


@query("span_corruption_dataset", oracle=_span_oracle())
def span_corruption_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption training pairs over the corpus-trained
    top-40 vocabulary (operators/curation.span_corruption_dataset):
    inputs collapse each corrupted span to one sentinel id -(200+k),
    targets list each span's sentinel followed by its original ids —
    with masked_lm_dataset this completes the training-objective
    construction pair (BERT-style token masking + T5-style span
    corruption) on the same deterministic-draw foundation.

    Determinism: span STARTS fire where md5(span:doc:pos) 32-bit slice
    < floor(0.05 * 2^32) (fixed length 3 ⇒ ~15% expected corruption);
    coverage at a position is recomputable from the three candidate
    starts (pure draws, no ordered scan); span boundaries and sentinel
    numbering are one lag + one running sum per doc.  Fixed span
    length and no end-sentinel are OUT of contract by design (the
    masked_lm 80/10/10 rationale: they'd need draws no oracle could
    replay).

    Scale: the tokenize_to_ids posture plus two per-doc windows over
    token rows — the per-doc-sequence state packing/chunking already
    carries."""
    from mapreducemovieanalysis_cloud_spark.operators import curation

    return curation.span_corruption_dataset(
        load_table(spark, sf_dir, "documents"), vocab_size=40
    )
