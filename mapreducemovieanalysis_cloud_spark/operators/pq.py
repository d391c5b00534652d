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

Built entirely from the engine's deterministic k-means kernel
(operators/clustering.py): quantized int64 vectors, exact integer squared
distances with cell-id tie-breaks, rounded-mean centroid updates — every
step bit-reproducible, so even this three-stage iterative index is
oracle-checkable (unrolled-CTE SQL, same pattern as kmeans_embeddings).

Asymmetric distance (ADC): for query q and code vector c(v),
``d2(q, v) ≈ Σ_j ||q_j − centroid_{j, c_j(v)}||²`` — computed relationally:
the per-(query, subspace, centroid) distance table joins the exploded
codes on (subspace, code) and a sum-aggregate folds the m terms. No UDF,
no per-row loops; the distance table is |Q|·m·k rows, always broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark.functions.hashing import md5_bucket
from mapreducemovieanalysis_cloud_spark.functions.ordkey import (
    pack_score_cell,
    unpack_cell,
)
from mapreducemovieanalysis_cloud_spark.functions.vector import (
    qdot_arrow,
    qnorm2,
    quantize,
)


def _subspace_points(
    emb: DataFrame, m: int, subdim: int, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, j, sv, sn2): quantized subvector per (vector, subspace)."""
    pts = emb.select(
        F.col(id_col).alias("vec_id"), quantize(vec_col).alias("qv")
    )
    slices = F.array(
        *[F.slice("qv", j * subdim + 1, subdim) for j in range(m)]
    )
    return pts.select(
        "vec_id", F.posexplode(slices).alias("j", "sv")
    ).withColumn("sn2", qnorm2(F.col("sv")))


def _assign_sub(
    sub: DataFrame,
    cents: DataFrame,
    code_only: bool = False,
    cell_bound: int | None = None,
) -> DataFrame:
    """Nearest centroid per (vector, subspace): every (subvector, centroid)
    pair of the subspace scored through the broadcast centroids, then an
    arg-min per (vector, subspace). (k-means assigns against a driver-held
    codebook in one Arrow pass instead, ``clustering._assign``.)

    Arg-min as a partial-aggregatable ``min_by`` over the exact-integer
    ordering struct (d2, cell) — identical selection to the former
    row_number window (int64 comparisons; lexicographic struct order ==
    the window's two-key order), but the k-way score explosion collapses
    map-side and no per-partition sort runs (round-13 optimization,
    guide §2.3).

    ``code_only=True`` (the corpus-linear ENCODE pass) additionally packs
    the (d2, cell) ordering into one int64 (``cell_bound`` = the caller's
    k) so the arg-min is a plain ``min(long)`` — codegen HashAggregate,
    no per-partition Sort of the k-way exploded scores, where the struct
    ordering planned as SortAggregate (round-14; see functions/ordkey.py
    for the equivalence + in-plan guards)."""
    scored = sub.join(F.broadcast(cents), "j").withColumn(
        "d2",
        F.col("sn2") - 2 * qdot_arrow(F.col("sv"), F.col("cv")) + F.col("cn2"),
    )
    if code_only:
        if cell_bound is None:
            raise ValueError("code_only assignment requires cell_bound")
        packed = pack_score_cell(
            F.col("d2"), F.col("cell"), cell_bound, "pq._assign_sub"
        )
        return (
            scored.groupBy("vec_id", "j")
            .agg(F.min(packed).alias("__p"))
            .select(
                "vec_id",
                "j",
                unpack_cell(F.col("__p"), cell_bound).alias("cell"),
            )
        )
    return (
        scored.groupBy("vec_id", "j")
        .agg(
            F.min_by(
                F.struct("sv", "sn2", "cell"),
                F.struct(F.col("d2").alias("_d2"), F.col("cell").alias("_c")),
            ).alias("b")
        )
        .select("vec_id", "j", "b.sv", "b.sn2", "b.cell")
    )


def _update_sub(assigned: DataFrame, subdim: int) -> DataFrame:
    """Rounded-mean centroid per (subspace, cell) — clustering._update with
    the subspace key; exact int64 sums, one IEEE division per dim.

    Dimension-indexed sums instead of posexplode + (j, cell, pos) rollup
    + re-assembly: one exchange of k·m partial rows instead of two
    exchanges of n·subdim exploded rows (round-13 optimization, guide
    §2.3).  Value-identical: each dim's ``round(sum/count)`` is the same
    expression over the same group; ``subdim`` is exact by construction
    (dim // m from pq_codes).

    ``sv[i]`` (GetArrayItem) rather than clustering._update's null-safe
    ``F.get`` is DELIBERATE, not an oversight: every subvector here is
    exactly ``subdim`` wide by construction (``F.slice(qv, j*subdim+1,
    subdim)`` in pq_codes), so under ANSI mode an out-of-bounds read can
    only mean corrupted input — failing loudly matches the engine's
    runtime domain guards, while clustering._update's ``F.get`` exists
    because its ``dim`` is an upper bound over caller-supplied widths."""
    per_cell = assigned.groupBy("j", "cell").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(F.col("sv")[i]).alias(f"__s{i}") for i in range(subdim)],
    )
    return per_cell.select(
        "j",
        "cell",
        F.array(
            *[
                F.round(F.col(f"__s{i}") / F.col("__n")).cast("long")
                for i in range(subdim)
            ]
        ).alias("cv"),
    ).withColumn("cn2", qnorm2(F.col("cv")))


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
    ``kmeans_assignments``' assign/update schedule). Seeds are the first-k
    vectors' subvectors, like the k-means seeds.

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
            # final assign joins nothing and the corpus silently encodes
            # to zero rows; fail loudly instead
            raise ValueError(
                f"train_sample={train_sample} selected zero vectors; "
                "decrease it (the md5 sample keeps ~1/S of the corpus)"
            )
    else:
        train = sub
    cents = sub.where(F.col("vec_id") < k).select(
        "j",
        F.col("vec_id").alias("cell"),
        F.col("sv").alias("cv"),
        F.col("sn2").alias("cn2"),
    )
    assigned = None
    for it in range(iters):
        last = it == iters - 1
        assigned = _assign_sub(
            sub if last else train, cents, code_only=last, cell_bound=k
        )
        if not last:
            cents = _update_sub(assigned, dim // m)
    codes = assigned.select("vec_id", "j", F.col("cell").alias("code"))
    return codes, cents


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
    qsub = _subspace_points(
        queries, m, dim // m, query_id_col, vec_col
    ).withColumnRenamed("vec_id", "query_id")
    dtab = qsub.join(F.broadcast(cents), "j").select(
        "query_id",
        "j",
        F.col("cell").alias("code"),
        (
            F.col("sn2")
            - 2 * qdot_arrow(F.col("sv"), F.col("cv"))
            + F.col("cn2")
        ).alias("d2q"),
    )
    adc = (
        codes.join(F.broadcast(dtab), ["j", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2q").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "adc_d2", "rank")
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
    deterministic argmax-integer-dot kernel shared with ``ann_ivf_topk``;
    candidates = (probed cell ⋈ cell-partitioned codes); ADC joins the
    broadcast per-query distance table on (query, subspace, code) and
    sum-folds the m terms. At 100 TB the codes table is stored partitioned
    BY CELL (`ivf_write_index` pattern), so a probe reads nprobe partitions
    of an m-bytes-per-vector table — both reductions compound. (No residual
    encoding: codebooks are trained on raw subvectors, documented drift
    from Faiss which trains on cell residuals; exactness of the oracle
    comes first here, recall tuning is nprobe/k/m.)
    """
    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        _ivf_cells,
        _with_qv,
    )

    cents = corpus.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"), quantize(vec_col).alias("qv_cent")
    )
    cassign = _ivf_cells(
        _with_qv(corpus, id_col, vec_col, "neighbor_id"), cents,
        "neighbor_id", 1,
    ).select("neighbor_id", "cell")
    # Normalize the query id to the literal "query_id" once here (as the
    # ann_pq_topk path does via withColumnRenamed): every downstream
    # select/join (cand, dtab, adc) keys on "query_id", so a non-default
    # query_id_col previously failed at analysis time.
    qassign = _ivf_cells(
        _with_qv(queries, query_id_col, vec_col, query_id_col), cents,
        query_id_col, nprobe,
    ).select(F.col(query_id_col).alias("query_id"), "cell")
    cand = cassign.join(F.broadcast(qassign), "cell").select(
        "query_id", F.col("neighbor_id").alias("vec_id")
    )

    codes, pcents = pq_codes(
        corpus, m, k, iters, dim, id_col, vec_col, train_sample
    )
    qsub = _subspace_points(
        queries, m, dim // m, query_id_col, vec_col
    ).withColumnRenamed("vec_id", "query_id")
    dtab = qsub.join(F.broadcast(pcents), "j").select(
        "query_id",
        "j",
        F.col("cell").alias("code"),
        (
            F.col("sn2")
            - 2 * qdot_arrow(F.col("sv"), F.col("cv"))
            + F.col("cn2")
        ).alias("d2q"),
    )
    adc = (
        codes.join(cand, "vec_id")
        .join(F.broadcast(dtab), ["query_id", "j", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2q").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "adc_d2", "rank")
    )
