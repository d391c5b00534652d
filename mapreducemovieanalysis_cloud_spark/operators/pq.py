"""Product-quantization ANN: compressed codes + asymmetric distance.

The third similarity tier after brute-force and bucketed probing
(operators/similarity.py): compress each embedding to ``m`` small integer
codes (one per vector slice, each code naming that slice's nearest
per-subspace k-means centroid), then answer queries against the CODES —
``m`` table lookups per candidate instead of a d-dim dot product. At 100 TB
the corpus shrinks from d·4 bytes to m bytes per vector (64-dim float →
4 bytes at m=4), which is what lets a billion-vector index fit a cluster's
memory; the scan side becomes an integer-sum over a broadcast distance
table.

Training and encoding run on the engine's deterministic k-means kernel
(operators/clustering.py ``_codebook`` + ``_assign``), keyed by subspace:
the m·k per-subspace centroids live on the driver, each Lloyd round is
one ``mapInArrow`` pass of the subvectors past them (exact int64
scores, cell-id tie-breaks) plus ``clustering._update``'s rounded-mean
update keyed by ``(j, cell)``, and the final pass writes the codes.
Every step is bit-reproducible, so even this three-stage iterative index
is oracle-checkable (unrolled-CTE SQL, same pattern as
kmeans_embeddings).

Asymmetric distance (ADC): for query q and code vector c(v),
``d2(q, v) ≈ Σ_j ||q_j − centroid_{j, c_j(v)}||²``. The per-(query,
subspace, centroid) distance table is the query subvectors joined to
the final codebook's rows (a driver-built local relation, no Lloyd
lineage) and scored by the Arrow dot ``qdot_arrow`` — every pair is
needed there. It is |Q|·m·k rows, broadcast into the join with the
exploded codes on (subspace, code), and a sum-aggregate folds the m
terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark.functions.hashing import md5_bucket
from mapreducemovieanalysis_cloud_spark.functions.vector import (
    qdot_arrow,
    qnorm2,
    quantize,
)
from mapreducemovieanalysis_cloud_spark.operators.clustering import (
    _assign,
    _codebook,
    _update,
)
from mapreducemovieanalysis_cloud_spark.operators.similarity import (
    _ivf_codebook,
    _topk,
)


def _subspace_points(
    emb: DataFrame, m: int, subdim: int, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, j, sv): quantized subvector per (vector, subspace). A
    vector wider than ``m·subdim`` fails an in-plan guard instead of being
    cut to its first ``m·subdim`` entries (as ``clustering._update`` does
    for k-means); shorter and NULL ones reach the kernel's checks."""
    pts = emb.select(
        F.col(id_col).alias("vec_id"), quantize(vec_col).alias("qv")
    )
    dim = m * subdim
    slices = F.array(
        *[F.slice("qv", j * subdim + 1, subdim) for j in range(m)]
    )
    guarded = F.when(
        F.assert_true(
            F.coalesce(F.size("qv"), F.lit(0)) <= F.lit(dim),
            F.concat(
                F.lit(
                    f"pq._subspace_points: vector wider than dim={dim} (got "
                ),
                F.size("qv").cast("string"),
                F.lit("); pass a dim >= the corpus vector width"),
            ),
        ).isNull(),
        slices,
    )
    return pts.select("vec_id", F.posexplode(guarded).alias("j", "sv"))


def pq_codes(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks and encode the corpus.

    Returns ``(codes, centroids)``: codes = (vec_id, j, code) — m rows per
    vector; centroids = (j, cell, cv, cn2), the codebooks the codes refer
    to (the ones used by the FINAL assignment, mirroring
    ``kmeans_assignments``' assign/update schedule), as a local relation
    built from the driver-held codebook. Seeds are the first-k vectors'
    subvectors, like the k-means seeds.

    The build runs Spark jobs: the seed codebook collect (one job) and,
    per intermediate Lloyd round, the update's shuffle stage and collect
    (two jobs) — 3 at ``iters=2``; each codebook is m·k rows, and
    ``codes`` is the final assign pass.

    ``train_sample=S`` is the 100 TB training tier: the Lloyd
    assign/update iterations run over the deterministic md5 1/S sample of
    VECTORS (whole vectors, not rows — the hash keys on the vector id, so
    every subspace of a sampled vector trains together), and only the
    FINAL assignment — the one that actually encodes the corpus and is
    unavoidably corpus-linear — sees every vector.  Codebooks are
    k·m centroids estimated from means; a bounded sample estimates them
    as well as the corpus does (standard Faiss practice: codebooks train
    on ~100k vectors regardless of index size), while per-iteration cost
    drops from corpus-bound to sample-bound — the difference between
    affording 2 and 20 Lloyd rounds at 100 TB.  The sample is a pure
    function of ids (``md5_bucket``: stable across engines, partitionings
    and retries), so the sampled path stays oracle-checkable; seeds stay
    the first-k corpus vectors either way.  Default ``None`` trains on
    the full corpus (the exact contract tier).
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = _subspace_points(emb, m, dim // m, id_col, vec_col)
    if train_sample is not None:
        train = sub.where(
            md5_bucket("vec_id", train_sample, salt="pqtrain:") == 0
        )
        if iters > 1 and train.isEmpty():
            # empty sample -> empty update -> empty codebooks -> the
            # final assign matches nothing and the corpus silently
            # encodes to zero rows; fail loudly instead
            raise ValueError(
                f"train_sample={train_sample} selected zero vectors; "
                "decrease it (the md5 sample keeps ~1/S of the corpus)"
            )
    else:
        train = sub
    codebook = _codebook(
        sub.where(F.col("vec_id") < k).select(
            "j",
            F.col("vec_id").alias("cell"),
            F.col("sv").alias("cv"),
            qnorm2(F.col("sv")).alias("cn2"),
        )
    )
    for _ in range(iters - 1):
        codebook = _codebook(
            _update(_assign(train, codebook, "sv"), dim // m, "sv")
        )
    codes = _assign(sub, codebook, "sv", out=["vec_id", "j"])
    cents = emb.sparkSession.createDataFrame(
        [
            (j, int(c), v.tolist(), int(n2))
            for j, (cells, cv, cn2) in codebook.items()
            for c, v, n2 in zip(cells, cv, cn2)
        ],
        "j int, cell bigint, cv array<bigint>, cn2 bigint",
    )
    return codes.withColumnRenamed("cell", "code"), cents


def _adc_topk(
    codes: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    topk: int,
    m: int,
    dim: int,
    query_id_col: str,
    vec_col: str,
    cand: DataFrame | None = None,
) -> DataFrame:
    """Top-k by asymmetric distance: the (query, subspace, code) distance
    table — every query subvector against every centroid of its
    subspace — joins the codes on (subspace, code) and a sum folds the m
    terms per (query, vector). ``cand`` (query_id, vec_id) restricts the
    scored vectors per query."""
    qsub = _subspace_points(
        queries, m, dim // m, query_id_col, vec_col
    ).withColumnRenamed("vec_id", "query_id")
    dtab = qsub.join(F.broadcast(cents), "j").select(
        "query_id",
        "j",
        F.col("cell").alias("code"),
        (
            qnorm2(F.col("sv"))
            - 2 * qdot_arrow(F.col("sv"), F.col("cv"))
            + F.col("cn2")
        ).alias("d2q"),
    )
    keys = ["j", "code"]
    if cand is not None:
        codes, keys = codes.join(cand, "vec_id"), ["query_id"] + keys
    adc = (
        codes.join(F.broadcast(dtab), keys)
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2q").alias("adc_d2"))
    )
    return _topk(
        adc, "query_id", "adc_d2", topk, desc=False, exclude_self=True
    )


def ann_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    train_sample: int | None = None,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance: (query_id, neighbor_id,
    adc_d2 BIGINT, rank INT), rank 1..topk per query by (adc_d2 asc,
    neighbor_id asc).  ``train_sample`` = the codebook-training sample
    divisor (see ``pq_codes``)."""
    codes, cents = pq_codes(
        corpus, m, k, iters, dim, id_col, vec_col, train_sample
    )
    return _adc_topk(
        codes, cents, queries, topk, m, dim, query_id_col, vec_col
    )


def ann_ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    train_sample: int | None = None,
) -> DataFrame:
    """IVF-PQ: the production composed index — IVF coarse cells bound WHICH
    vectors a query scores (nprobe/n_centroids of the corpus), PQ codes
    bound WHAT each scoring costs (m table lookups, not a d-dim dot).

    Faiss's IVFPQ layout expressed relationally: coarse assignment is the
    k-means codebook pass over the zero-norm IVF codebook (argmax integer
    dot, smaller centroid id on ties — ``ann_ivf_topk``'s cells), the
    corpus keeping one cell and the queries ``nprobe``; candidates =
    (probed cell ⋈ cell-assigned codes); ADC joins the broadcast
    per-query distance table on (query, subspace, code) and sum-folds the
    m terms. The build collects the IVF codebook (one Spark job) and the
    PQ codebooks (``pq_codes``: 3 jobs at ``iters=2``). At 100 TB the
    codes table is stored partitioned BY CELL (`ivf_write_index`
    pattern), so a probe reads nprobe partitions of an m-bytes-per-vector
    table — both reductions compound. (No residual
    encoding: codebooks are trained on raw subvectors, documented drift
    from Faiss which trains on cell residuals; exactness of the oracle
    comes first here, recall tuning is nprobe/k/m.)
    """
    codebook = _ivf_codebook(
        corpus.where(F.col(id_col) < n_centroids), id_col, vec_col
    )

    def qv(df: DataFrame, id_col: str, alias: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(alias), quantize(vec_col).alias("qv")
        )

    cassign = _assign(qv(corpus, id_col, "vec_id"), codebook, out=["vec_id"])
    qassign = _assign(
        qv(queries, query_id_col, "query_id"), codebook, keep=nprobe,
        out=["query_id"],
    )
    cand = cassign.join(F.broadcast(qassign), "cell").drop("cell")
    codes, pcents = pq_codes(
        corpus, m, k, iters, dim, id_col, vec_col, train_sample
    )
    return _adc_topk(
        codes, pcents, queries, topk, m, dim, query_id_col, vec_col, cand
    )
