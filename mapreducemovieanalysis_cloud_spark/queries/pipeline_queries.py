"""North-star pipeline queries: dedup (exact/Jaccard/MinHash-LSH/SimHash),
similarity search (brute-force + SRP-LSH ANN), multimodal plumbing — every one
oracle-checked. The approximate algorithms are built from engine-neutral
primitives (md5 strings, quantized integer dot products), so the DuckDB oracle
replicates them *exactly* rather than falling back to rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark.operators import dedup, multimodal, similarity
from mapreducemovieanalysis_cloud_spark.registry import query
from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

# ---- shared DuckDB fragments (mirror functions.text / operators.dedup) -----

_SHINGLE_CTES = r"""
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
             FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
            FROM toks WHERE len(t) >= 3),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                  AS shingle FROM idx),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
"""

_JACCARD_FINISH = """
    SELECT i.doc_a AS doc_a, i.doc_b AS doc_b,
           i.n_common / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
                 JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_common / (sa.n + sb.n - i.n_common) >= {thr}
"""


@query(
    "dedup_exact",
    oracle=r"""
    SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint of normalized text, min-id survivor.
    Shuffles (fp, id) only — ~40 bytes/row regardless of document size."""
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_jaccard",
    oracle=(
        f"WITH {_SHINGLE_CTES}, "
        """
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle
                            AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT i.doc_a AS doc_a, i.doc_b AS doc_b, i.n_common AS n_common,
               i.n_common / (sa.n + sb.n - i.n_common) AS jaccard
        FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
                     JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.5
        """
    ),
)
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (jaccard >= 0.5)."""
    return dedup.jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.5
    )


def _minhash_oracle(num_hashes: int = 16, bands: int = 4, thr: float = 0.5) -> str:
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
    WITH {_SHINGLE_CTES},
    sigs AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({band_selects}),
    cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
              FROM cands c
              JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
              GROUP BY 1, 2)
    {_JACCARD_FINISH.format(thr=thr)}
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) candidates, exact-Jaccard verified at 0.5.
    The scale path for near-dedup: candidate generation is linear in docs,
    verification linear in candidates."""
    return dedup.minhash_lsh_dedup(
        load_table(spark, sf_dir, "documents"),
        n=3,
        num_hashes=16,
        bands=4,
        threshold=0.5,
    )


@query(
    "fingerprint_winnow",
    oracle=r"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
            FROM toks WHERE len(t) >= 3),
    sh AS (SELECT doc_id, i,
                  substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 8)
                    AS h
           FROM pos),
    win AS (SELECT doc_id, i,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                     AS wmin,
                   MAX(i) OVER (PARTITION BY doc_id) AS max_i
            FROM sh)
    SELECT DISTINCT doc_id, wmin AS fp FROM win WHERE i <= max_i - 3
    """,
)
def fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: 3-gram hashes, window 4 —
    shared 6-token substrings guarantee a shared fingerprint."""
    return dedup.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), n=3, window=4
    )


def _simhash_sql_value() -> str:
    """DuckDB expression for the first-4-hex-digits token hash value."""
    digit = "(strpos('0123456789abcdef', substr(md5(tok), {p}, 1)) - 1)"
    return " + ".join(
        f"{digit.format(p=p+1)} * {16 ** (3 - p)}" for p in range(4)
    )


def _simhash_oracle() -> str:
    sums = ",\n             ".join(
        f"SUM((v >> {j}) & 1) AS s{j}" for j in range(16)
    )
    sig = " + ".join(
        f"(CASE WHEN 2 * s{j} > n THEN {1 << j} ELSE 0 END)" for j in range(16)
    )
    return rf"""
    WITH toks AS (SELECT doc_id,
                         unnest(string_split_regex(trim(text), '\s+')) AS tok
                  FROM documents),
    h AS (SELECT doc_id, {_simhash_sql_value()} AS v FROM toks),
    bits AS (SELECT doc_id, COUNT(*) AS n, {sums} FROM h GROUP BY 1)
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document."""
    return dedup.simhash16(load_table(spark, sf_dir, "documents"))


def _simhash64_sigs_cte() -> str:
    """The 64-bit SimHash signature CTE chain (toks/h/bits/sigs ending
    in ``sigs (doc_id, b0..b3)``), factored so both the pairs oracle
    and the staged hamming-histogram oracle derive from the identical
    signature SQL (lockstep by construction, the banded_keys rule)."""

    def chunk(j: int) -> str:
        digit = "(strpos('0123456789abcdef', substr(md5(tok), {p}, 1)) - 1)"
        return " + ".join(
            f"{digit.format(p=4*j+p+1)} * {16 ** (3 - p)}" for p in range(4)
        )

    chunks = ",\n           ".join(f"{chunk(j)} AS v{j}" for j in range(4))
    sums = ",\n             ".join(
        f"SUM((v{j} >> {b}) & 1) AS s{j}_{b}"
        for j in range(4)
        for b in range(16)
    )
    blocks = ",\n           ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN 2 * s{j}_{b} > n THEN {1 << b} ELSE 0 END)"
            for b in range(16)
        )
        + f" AS BIGINT) AS b{j}"
        for j in range(4)
    )
    return rf"""toks AS (SELECT doc_id,
                         unnest(string_split_regex(trim(text), '\s+')) AS tok
                  FROM documents),
    h AS (SELECT doc_id,
           {chunks}
          FROM toks),
    bits AS (SELECT doc_id, COUNT(*) AS n,
             {sums}
             FROM h GROUP BY 1),
    sigs AS (SELECT doc_id,
           {blocks}
           FROM bits)"""


_SIM64_HAM = " + ".join(f"bit_count(xor(a.b{j}, b.b{j}))" for j in range(4))


def _simhash64_oracle(max_hamming: int = 3) -> str:
    """Brute-force 64-bit SimHash pairs (the engine's block-join is
    lossless by pigeonhole, so the all-pairs oracle is the exact target)."""
    return f"""
    WITH {_simhash64_sigs_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({_SIM64_HAM} AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE {_SIM64_HAM} <= {max_hamming}
    """


@query("dedup_simhash_pairs", oracle=_simhash64_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs (hamming <= 3), blocked on the four
    16-bit signature blocks (2^16 bucket values per block — the Manku WWW'07
    scheme; lossless by pigeonhole)."""
    return dedup.simhash_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=3
    )


# ---- similarity search -----------------------------------------------------

_QUANT = "list_transform({v}, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"


def _dot(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i] * {b}[i])) AS BIGINT)"
    )


def _norm2(a: str) -> str:
    return f"CAST(list_sum(list_transform({a}, x -> x * x)) AS BIGINT)"


_COSINE = (
    f"({_dot('qa', 'qb')} / "
    f"(sqrt(CAST({_norm2('qa')} AS DOUBLE)) * "
    f"sqrt(CAST({_norm2('qb')} AS DOUBLE))))"
)


def _ann_brute_oracle(k: int = 10, n_queries: int = 5) -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id,
                      {_QUANT.format(v='embedding')} AS qa
               FROM embeddings WHERE vec_id < {n_queries}),
    c AS (SELECT vec_id AS neighbor_id,
                 {_QUANT.format(v='embedding')} AS qb
          FROM embeddings),
    scored AS (SELECT query_id, neighbor_id, {_COSINE} AS cosine
               FROM q, c WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


@query("ann_bruteforce", oracle=_ann_brute_oracle())
def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors against the whole corpus
    (quantized integer dot product — bit-identical in any engine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk(emb, queries, k=10)


def _srp_sql(vec: str, planes: list[list[int]]) -> str:
    """DuckDB expression for the SRP bucket of a quantized vector column."""
    terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(str(p) for p in plane)
        dot = (
            f"CAST(list_sum(list_transform(generate_series(1, len({vec})), "
            f"i -> {vec}[i] * ([{lits}])[i])) AS BIGINT)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _ann_lsh_oracle(k: int = 10, n_queries: int = 5, num_planes: int = 8) -> str:
    planes = similarity.srp_planes(num_planes, 64)
    return f"""
    WITH base AS (SELECT vec_id, {_QUANT.format(v='embedding')} AS qv
                  FROM embeddings),
    withb AS (SELECT vec_id, qv, {_srp_sql('qv', planes)} AS bucket FROM base),
    q AS (SELECT vec_id AS query_id, qv AS qa, bucket FROM withb
          WHERE vec_id < {n_queries}),
    c AS (SELECT vec_id AS neighbor_id, qv AS qb, bucket FROM withb),
    scored AS (SELECT query_id, neighbor_id, {_COSINE} AS cosine
               FROM q JOIN c USING (bucket)
               WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


@query("ann_lsh", oracle=_ann_lsh_oracle())
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed approximate top-10 (8 hyperplanes): each query scores
    only its own bucket (~1/256 of the corpus at scale)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ann_lsh_topk(emb, queries, k=10, num_planes=8, dim=64)


def _ann_ivf_oracle(
    k: int = 10, n_queries: int = 5, n_centroids: int = 8, nprobe: int = 2
) -> str:
    cdot = _dot("b.qv", "c.qc")
    return f"""
    WITH base AS (SELECT vec_id, {_QUANT.format(v='embedding')} AS qv
                  FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, qv AS qc FROM base
              WHERE vec_id < {n_centroids}),
    assign AS (SELECT vec_id, cell FROM (
                 SELECT b.vec_id, c.cent_id AS cell,
                        ROW_NUMBER() OVER (PARTITION BY b.vec_id
                          ORDER BY {cdot} DESC, c.cent_id) AS rn
                 FROM base b, cents c) WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, cell FROM (
                 SELECT b.vec_id, c.cent_id AS cell,
                        ROW_NUMBER() OVER (PARTITION BY b.vec_id
                          ORDER BY {cdot} DESC, c.cent_id) AS rn
                 FROM base b, cents c WHERE b.vec_id < {n_queries})
               WHERE rn <= {nprobe}),
    scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
                      tq.qv AS qa, tn.qv AS qb
               FROM qprobe p
               JOIN assign a ON a.cell = p.cell
               JOIN base tq ON tq.vec_id = p.query_id
               JOIN base tn ON tn.vec_id = a.vec_id
               WHERE a.vec_id <> p.query_id)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT query_id, neighbor_id, {_COSINE} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY {_COSINE} DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


@query("ann_ivf", oracle=_ann_ivf_oracle())
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-10: 8 deterministic centroids (first 8
    vectors), exact-int dot-product cell assignment, nprobe=2, cosine
    re-rank. The scale path when SRP bucket skew is a concern: cell sizes
    are bounded by the centroid spread, and the index partitions by cell.
    The build runs one Spark job: the centroid codebook collect."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ann_ivf_topk(
        emb, queries, k=10, n_centroids=8, nprobe=2
    )


def _cosine_pairs_oracle(
    threshold: float = 0.4, num_planes: int = 6, num_bands: int = 3
) -> str:
    band_ctes = []
    for band in range(num_bands):
        planes = similarity.srp_planes(num_planes, 64, seed=f"srp:{band}")
        band_ctes.append(
            f"bd{band} AS (SELECT vec_id, {band} AS band, "
            f"{_srp_sql('qv', planes)} AS bucket FROM base)"
        )
    banded_union = "\n      UNION ALL ".join(
        f"SELECT * FROM bd{b}" for b in range(num_bands)
    )
    return f"""
    WITH base AS (SELECT vec_id, {_QUANT.format(v='embedding')} AS qv
                  FROM embeddings),
    {','.join(band_ctes)},
    banded AS ({banded_union}),
    cands AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id),
    pairs AS (SELECT c.id_a, c.id_b, ta.qv AS qa, tb.qv AS qb
              FROM cands c
              JOIN base ta ON ta.vec_id = c.id_a
              JOIN base tb ON tb.vec_id = c.id_b)
    SELECT id_a, id_b, {_COSINE} AS cosine
    FROM pairs
    WHERE {_COSINE} >= {threshold}
    """


@query("dedup_embedding_cosine", oracle=_cosine_pairs_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.4), multi-band SRP blocked
    (3 bands × 6 planes: 64 buckets/band ≈ log2(n/B) sizing for this corpus;
    bucket size scales 1/2^planes while extra bands preserve recall — see
    operators.similarity)."""
    return similarity.cosine_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        num_planes=6,
        num_bands=3,
    )


# ---- multimodal ------------------------------------------------------------


@query(
    "multimodal_decode",
    oracle="""
    SELECT doc_id AS media_id,
           'image/fake' AS media_type,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
           CAST((length(text) % 640) + 1 AS INT) AS width,
           CAST(((length(text) * 7 + ascii(substr(text, 1, 1))) % 480) + 1
                AS INT) AS height
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media decode via Arrow mapInPandas (deterministic stub codec —
    real Spark plumbing: binary column, batch iterator, metadata-only
    output). Oracle reproduces the stub arithmetic on the byte stream."""
    media = multimodal.documents_as_media(
        load_table(spark, sf_dir, "documents")
    )
    return multimodal.decode_media(media)


@query(
    "multimodal_frames",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id,
                      CAST(length(text) AS BIGINT) AS n_bytes,
                      greatest(CAST(floor(length(text) / 64.0) AS INT) - 1, 0)
                        AS max_block
               FROM documents)
    SELECT media_id,
           CAST(i AS INT) AS frame_idx,
           n_bytes,
           CAST(i * 64 AS INT) AS frame_offset
    FROM m, unnest(generate_series(0, max_block)) AS g(i)
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling shape: one row per 64-byte block offset, payload never
    replicated per frame (sequence + posexplode, no UDF)."""
    media = multimodal.documents_as_media(
        load_table(spark, sf_dir, "documents")
    )
    return multimodal.frame_sample(media, every_n_bytes=64)


def _kmeans_oracle(
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    final_select: str | None = None,
    k_expr: str | None = None,
    train_where: str | None = None,
) -> str:
    """DuckDB CTE chain replicating ``operators.clustering.
    kmeans_assignments`` bit-for-bit. ``final_select`` (over the last
    assignment CTE ``a{iters}``: vec_id, qv, pn2, cell) lets other oracles
    (SemDeDup) compose on the clustered corpus. ``k_expr`` — a SQL scalar
    expression over the ``pn`` CTE — replaces the literal ``k`` for the
    corpus-derived-k path (``target_cluster_size``).  ``train_where``
    mirrors ``train_sample``: a predicate over ``vec_id`` restricting the
    INTERMEDIATE Lloyd assigns to the training sample (the final
    labeling assign always scans every vector)."""
    def dist2(p: str, c: str, pn2: str, cn2: str) -> str:
        return f"{pn2} - 2 * {_dot(p, c)} + {cn2}"

    def assign(src_pts: str, src_cents: str, out: str) -> str:
        return f"""
    {out} AS (SELECT vec_id, qv, pn2, cell FROM (
        SELECT p.vec_id, p.qv, p.pn2, c.cell,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                 ORDER BY {dist2('p.qv', 'c.cv', 'p.pn2', 'c.cn2')} ASC,
                          c.cell ASC) AS rn
        FROM {src_pts} p, {src_cents} c) WHERE rn = 1)"""

    def update(src_assign: str, out: str) -> str:
        return f"""
    {out}_dims AS (SELECT cell, i, CAST(ROUND(AVG(qv[i])) AS BIGINT) AS v
                   FROM {src_assign} CROSS JOIN generate_series(1, {dim}) g(i)
                   GROUP BY cell, i),
    {out}_arr AS (SELECT cell, list(v ORDER BY i) AS cv
                  FROM {out}_dims GROUP BY cell),
    {out} AS (SELECT cell, cv, {_norm2('cv')} AS cn2 FROM {out}_arr)"""

    parts = [
        f"""WITH base AS (SELECT vec_id, {_QUANT.format(v='embedding')} AS qv
                  FROM embeddings),
    pn AS (SELECT vec_id, qv, {_norm2('qv')} AS pn2 FROM base),
    c0 AS (SELECT vec_id AS cell, qv AS cv, pn2 AS cn2 FROM pn
           WHERE vec_id < {k_expr or k})"""
    ]
    if train_where is not None:
        parts.append(f"""
    pt AS (SELECT * FROM pn WHERE {train_where})""")
    train_src = "pn" if train_where is None else "pt"
    cents = "c0"
    for it in range(1, iters + 1):
        last = it == iters
        parts.append(assign("pn" if last else train_src, cents, f"a{it}"))
        if not last:
            parts.append(update(f"a{it}", f"c{it}"))
            cents = f"c{it}"
    tail = final_select or f"SELECT vec_id, cell AS cluster FROM a{iters}"
    return ",".join(parts) + "\n    " + tail


@query("kmeans_embeddings", oracle=_kmeans_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means (k=8, first-k seeds) — the iterative-
    algorithm pattern: per-iteration Arrow assign pass against the
    driver-held codebook + dim-wise aggregate, exact integer distances and
    rounded-mean centroid updates keep every iteration bit-reproducible
    (see operators.clustering). The build collects the seed and updated
    codebooks (k rows each); the returned frame is the final assign."""
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        kmeans_assignments,
    )

    return kmeans_assignments(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=2
    )


def _components_oracle(thr: float = 0.5) -> str:
    """Exact connected-components fixpoint: recursive transitive closure,
    component = min reachable id. Matches the engine's converged min-label
    propagation for ANY graph (no iteration-count coupling)."""
    jacc = _minhash_oracle(thr=thr)
    return f"""
    WITH RECURSIVE pairs AS ({jacc}),
    sym AS (SELECT doc_a AS v, doc_b AS u FROM pairs
            UNION ALL SELECT doc_b AS v, doc_a AS u FROM pairs),
    reach(v, u) AS (
        SELECT doc_id AS v, doc_id AS u FROM documents
        UNION
        SELECT r.v, e.u FROM reach r JOIN sym e ON e.v = r.u
    )
    SELECT v AS doc_id, MIN(u) AS component FROM reach GROUP BY v
    """


@query("dedup_clusters", oracle=_components_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup components: MinHash-LSH pairs (jaccard >= 0.5) closed into
    clusters by min-label propagation iterated to convergence — the
    survivor-selection step of a dedup pipeline (keep min doc_id per
    component). The oracle computes the same fixpoint via a recursive
    transitive closure, so components of any diameter merge fully on both
    sides."""
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        label_propagation_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(docs, n=3, num_hashes=16, bands=4,
                                    threshold=0.5)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return label_propagation_components(docs, edges)


@query(
    "multimodal_features",
    oracle="""
    WITH pos AS (
      SELECT doc_id, text,
             unnest(generate_series(1, length(text))) AS i
      FROM documents),
    chars AS (
      SELECT doc_id, (i - 1) % 8 AS d, unicode(substr(text, i, 1)) AS cp
      FROM pos),
    sums AS (SELECT doc_id, d, CAST(SUM(cp) AS BIGINT) AS s
             FROM chars GROUP BY doc_id, d),
    dims AS (SELECT doc_id, unnest(generate_series(0, 7)) AS d
             FROM documents)
    SELECT dims.doc_id AS media_id,
           string_agg(COALESCE(s, 0), ',' ORDER BY dims.d) AS features_csv
    FROM dims LEFT JOIN sums ON sums.doc_id = dims.doc_id
                            AND sums.d = dims.d
    GROUP BY dims.doc_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary -> fixed-dim feature vector via Arrow mapInPandas (the
    embedding-generation stage; exact-integer stub model, real batch
    plumbing). Oracle reproduces the arithmetic over code points.

    The vector is emitted CSV-serialized (``features_csv``): the driver's
    canonicalizer factorizes column values with pandas, and Python lists
    are unhashable there (CORRECTNESS_r02 err), so array-typed result
    columns can't be hash-compared. ``extract_features`` itself keeps the
    typed ``array<bigint>`` API; only this driver-facing wrapper
    serializes."""
    media = multimodal.documents_as_media(
        load_table(spark, sf_dir, "documents")
    )
    feats = multimodal.extract_features(media, dim=8)
    return feats.select(
        "media_id",
        F.concat_ws(",", F.col("features").cast("array<string>")).alias(
            "features_csv"
        ),
    )


def _curate_oracle(min_quality: float = 0.75) -> str:
    """Full curation pipeline in one SQL: the same lang/quality/fingerprint
    arithmetic as the lang_id / quality_score / dedup_exact oracles, fused."""
    from mapreducemovieanalysis_cloud_spark.functions import text as T

    toks = r"string_split_regex(trim(text), '\s+')"

    def score(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
        return (
            f"CAST(len(list_filter({toks}, "
            f"t -> list_contains([{words}], t))) AS INT)"
        )

    return rf"""
    WITH m AS (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             CAST(len({toks}) AS INT) AS n_tok,
             CAST(len(list_distinct({toks})) AS INT) AS n_distinct,
             CAST(length(text) AS INT) AS n_chars,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INT)
               AS n_alpha,
             {score('en')} AS s_en, {score('es')} AS s_es,
             {score('de')} AS s_de, {score('fr')} AS s_fr
      FROM documents),
    g AS (
      SELECT doc_id, fp, n_tok AS n_tokens,
             ((CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1 ELSE 0 END)
            + (CASE WHEN n_distinct * 10 > n_tok * 3 THEN 1 ELSE 0 END)
            + (CASE WHEN n_alpha >= n_tok * 3 AND n_alpha <= n_tok * 12
                    THEN 1 ELSE 0 END)
            + (CASE WHEN n_alpha * 10 > n_chars * 6 THEN 1 ELSE 0 END))
            / 4.0 AS quality,
             CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'unknown'
                  WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                  WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                  ELSE 'fr' END AS predicted_lang
      FROM m),
    gated AS (SELECT * FROM g
              WHERE quality >= {min_quality} AND predicted_lang = 'en'),
    surv AS (SELECT fp, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
             FROM gated GROUP BY 1)
    SELECT s.doc_id AS doc_id, g.n_tokens AS n_tokens,
           g.quality AS quality, s.dup_count AS dup_count
    FROM surv s JOIN gated g ON g.doc_id = s.doc_id
    """


@query("curate_corpus", oracle=_curate_oracle())
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pass a training-data pipeline runs first:
    language gate (stopword lang-ID = 'en'), quality gate (Gopher/C4-style
    score >= 0.75), exact-dedup survivor selection (min doc_id per
    normalized-text fingerprint), emitting each survivor with its token
    count and how many duplicates it absorbed.

    One plan, tokenize-once: every per-doc metric (lang scores, quality
    counts, fingerprint) comes out of a single projection over one scan,
    the gates are row-local filters (no shuffle), and survivor selection
    is one window over fp (row_number + count) — ONE shuffle carrying
    (fp, id, three small ints) per gated row, no join back, no second
    scan (plan-guarded: one FileScan, text never crosses an Exchange).
    Quality is k/4.0 so the threshold compare is float-exact."""
    from mapreducemovieanalysis_cloud_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "text", T.tokens("text").alias("__toks"))
    scores = T.lang_scores_from_tokens(F.col("__toks"))
    m = toked.select(
        "doc_id",
        T.fingerprint("text").alias("fp"),
        F.size("__toks").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).alias("__n_distinct"),
        F.length("text").alias("__n_chars"),
        F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")).alias(
            "__n_alpha"
        ),
        *[scores[lang].alias(f"s_{lang}") for lang in T.LANG_PRIORITY],
    )
    n_tok, n_distinct = F.col("n_tokens"), F.col("__n_distinct")
    n_chars, n_alpha = F.col("__n_chars"), F.col("__n_alpha")
    quality = (
        (
            F.when((n_tok >= 10) & (n_tok <= 100000), 1).otherwise(0)
            + F.when(n_distinct * 10 > n_tok * 3, 1).otherwise(0)
            + F.when(
                (n_alpha >= n_tok * 3) & (n_alpha <= n_tok * 12), 1
            ).otherwise(0)
            + F.when(n_alpha * 10 > n_chars * 6, 1).otherwise(0)
        ).cast("double")
        / 4.0
    )
    pred = T.predicted_lang_from_scores(
        {lang: F.col(f"s_{lang}") for lang in T.LANG_PRIORITY}
    )
    gated = m.select(
        "doc_id",
        "fp",
        "n_tokens",
        quality.alias("quality"),
        pred.alias("predicted_lang"),
    ).where((F.col("quality") >= 0.75) & (F.col("predicted_lang") == "en"))
    from pyspark.sql import Window as W

    fp_w = W.partitionBy("fp")
    return (
        gated.withColumn("dup_count", F.count(F.lit(1)).over(fp_w))
        .withColumn(
            "__rn", F.row_number().over(fp_w.orderBy("doc_id"))
        )
        .where(F.col("__rn") == 1)
        .select("doc_id", "n_tokens", "quality", "dup_count")
    )


_BATCH_SOURCES = "'src0','src1','src2','src3','src4'"

# module-level so the staged decontamination_overlap_sweep derives its
# histogram from the identical per-doc overlap SQL (lockstep by import,
# the banded_keys rule)
_DECONTAMINATE_ORACLE = rf"""
    WITH toks AS (SELECT doc_id, source,
                         string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    pos AS (SELECT doc_id, source, t,
                   unnest(generate_series(1, len(t)-2)) AS i
            FROM toks WHERE len(t) >= 3),
    sh AS (SELECT doc_id, source, i,
                  substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 8)
                    AS h
           FROM pos),
    win AS (SELECT doc_id, source, i,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                     AS wmin,
                   MAX(i) OVER (PARTITION BY doc_id) AS max_i
            FROM sh),
    fp AS (SELECT DISTINCT doc_id, source, wmin AS fp FROM win
           WHERE i <= max_i - 3),
    batch AS (SELECT doc_id, fp FROM fp
              WHERE source IN ({_BATCH_SOURCES})),
    ref AS (SELECT DISTINCT fp FROM fp
            WHERE source NOT IN ({_BATCH_SOURCES})),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_fps FROM batch GROUP BY 1),
    shared AS (SELECT b.doc_id, COUNT(*) AS n_shared
               FROM batch b JOIN ref r ON r.fp = b.fp GROUP BY 1)
    SELECT p.doc_id AS doc_id,
           CAST(p.n_fps AS BIGINT) AS n_fps,
           CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
           COALESCE(s.n_shared, 0) >= 10 AS contaminated
    FROM per_doc p LEFT JOIN shared s ON s.doc_id = p.doc_id
    """


@query("decontaminate_batch", oracle=_DECONTAMINATE_ORACLE)
def decontaminate_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination pass: treat sources src0-src4 as the
    incoming batch and every other source as the reference corpus; score
    each batch document by shared winnowing fingerprints and flag overlap
    >= 10 (the n-gram-overlap decontamination gate a training pipeline
    runs before ingesting a crawl against held-out benchmarks)."""
    docs = load_table(spark, sf_dir, "documents")
    batch_srcs = ["src0", "src1", "src2", "src3", "src4"]
    # Two filtered frames deliberately (round-14): a shared-scan variant
    # (filter above the winnow + exchange reuse) was built and interleaved-
    # A/B measured at +0.10/+0.14 s — one reused exchange but the per-doc
    # window then runs over the FULL corpus in both branches, while these
    # disjoint filters each window only their half. The win that round
    # kept is dedup.decontaminate's single-join scoring tail.
    batch = docs.where(F.col("source").isin(batch_srcs))
    reference = docs.where(~F.col("source").isin(batch_srcs))
    return dedup.decontaminate(
        batch, reference, n=3, window=4, min_shared=10
    )
