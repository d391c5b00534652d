"""Similarity search over the embeddings table (north-star, BASELINE.json).

Two tiers:

- **brute-force top-k**: broadcast the (small) query set against the full
  embedding table, exact quantized cosine, per-query window top-k. At scale
  the big side streams through a map stage — one pass, no shuffle of the
  embedding corpus, then a top-k exchange of only k·queries rows.
- **LSH-bucketed ANN** (scale path): random-hyperplane signatures (SRP) bucket
  vectors; queries probe only their own bucket (and optionally neighboring
  buckets via multi-probe). The hyperplanes are generated from md5 bits so the
  whole index is deterministic and engine-reproducible.

Embedding-cosine near-dup (pairs above a threshold) reuses the same SRP
buckets as a blocking key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark.functions.vector import (
    qdot_arrow,
    qnorm2,
    quantize,
    srp_signature_arrow,
    srp_signatures_multi_arrow,
)
from mapreducemovieanalysis_cloud_spark.operators.clustering import (
    _assign,
    _codebook,
)


def _with_qv(df, id_col, vec_col, id_alias, *extra):
    """Quantized vector + its (once-computed) norm per row, plus the
    ``extra`` columns of the same row. Norms are per-vector, not per-pair:
    precomputing them cuts the pair-scoring cost to one dot product + one
    divide. The vector is quantized once and the norm reads that column
    (CollapseProject keeps the two projects apart because the quantizing
    ``transform`` is referenced more than once)."""
    qv = f"qv_{id_alias}"
    return df.select(
        F.col(id_col).alias(id_alias), *extra, quantize(vec_col).alias(qv)
    ).withColumn(
        f"nrm_{id_alias}", F.sqrt(qnorm2(F.col(qv)).cast("double"))
    )


def _pair_cosine(a_alias, b_alias):
    """Pair-explosion scoring is the hot path at scale — Arrow-vectorized
    dot (bit-identical to the zip_with fold, ~1.5x faster per batch)."""
    return (
        qdot_arrow(F.col(f"qv_{a_alias}"), F.col(f"qv_{b_alias}"))
        / (F.col(f"nrm_{a_alias}") * F.col(f"nrm_{b_alias}"))
    ).alias("cosine")


def _topk(
    scored: DataFrame,
    qcol: str,
    score: str,
    k: int,
    desc: bool = True,
    exclude_self: bool = False,
) -> DataFrame:
    """The per-query top-k every similarity tier ends in: ``scored``'s
    columns plus an int ``rank`` 1..k per ``qcol``, ordered by ``score``
    (descending for similarities, ascending for distances) with the
    smaller ``neighbor_id`` first on ties, so the kept set is
    deterministic. ``exclude_self`` drops the query's own id first."""
    if exclude_self:
        scored = scored.where(F.col("neighbor_id") != F.col(qcol))
    order = F.col(score).desc() if desc else F.col(score).asc()
    w = Window.partitionBy(qcol).orderBy(order, F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine.

    ``queries`` must be small (it is broadcast); the corpus is scanned once.
    Ranking uses the (bit-deterministic) cosine plus the corpus id as tie-break, so the
    selected set is fully deterministic.
    """
    c = _with_qv(corpus, id_col, vec_col, "neighbor_id")
    q = _with_qv(queries, query_id_col, vec_col, query_id_col)
    scored = c.join(F.broadcast(q)).select(
        query_id_col,
        "neighbor_id",
        _pair_cosine(query_id_col, "neighbor_id"),
    )
    return _topk(scored, query_id_col, "cosine", k, exclude_self=exclude_self)


def srp_signature(
    vec_col: str | F.Column,
    planes: list[list[int]],
) -> F.Column:
    """Signed-random-projection bucket id: bit i = sign(v · plane_i).

    ``planes`` are ±1 integer hyperplanes (deterministic, see
    ``srp_planes``); the dot product of a quantized vector with ±1 entries is
    exact int64 arithmetic.
    """
    qv = quantize(vec_col) if isinstance(vec_col, str) else vec_col
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(p) for p in plane])
        dot = F.aggregate(
            F.zip_with(qv, arr, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(dot > 0, 1 << i).otherwise(0)
    return sig


def srp_planes(num_planes: int, dim: int, seed: str = "srp") -> list[list[int]]:
    """Deterministic ±1 hyperplanes derived from md5 bytes (no RNG state,
    reproducible everywhere)."""
    import hashlib

    planes = []
    for i in range(num_planes):
        bits: list[int] = []
        counter = 0
        while len(bits) < dim:
            h = hashlib.md5(f"{seed}:{i}:{counter}".encode()).digest()
            for byte in h:
                for b in range(8):
                    bits.append(1 if (byte >> b) & 1 else -1)
            counter += 1
        planes.append(bits[:dim])
    return planes


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: SRP-bucketed candidates, exact cosine re-rank.

    Each query only scores vectors in its own SRP bucket (expected corpus
    fraction 2^-num_planes per bucket). Recall is tunable via num_planes;
    at 100 TB this turns an O(corpus) scan per query into an O(bucket) probe
    partitioned by bucket id.
    """
    planes = srp_planes(num_planes, dim)
    c = _with_qv(corpus, id_col, vec_col, "neighbor_id").withColumn(
        "bucket", srp_signature_arrow(F.col("qv_neighbor_id"), planes)
    )
    q = _with_qv(queries, query_id_col, vec_col, query_id_col).withColumn(
        "bucket", srp_signature_arrow(F.col(f"qv_{query_id_col}"), planes)
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        query_id_col,
        "neighbor_id",
        _pair_cosine(query_id_col, "neighbor_id"),
    )
    return _topk(scored, query_id_col, "cosine", k, exclude_self=exclude_self)


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index.

    Deterministic seeding: the first ``n_centroids`` corpus vectors (by id)
    act as centroids. Cell assignment is argmax *integer* dot product of the
    quantized vectors (exact int64 compare — no float ties), centroid id as
    tie-break. Queries probe their ``nprobe`` best cells and re-rank with
    exact cosine.

    Scale shape: the centroids are a zero-norm codebook collected to the
    driver (n_centroids×d longs, one Spark job at build) and shipped in
    the task closure; cell assignment is the k-means kernel's narrow
    ``mapInArrow`` pass (no join, no shuffle of the corpus), the corpus
    keeping its best cell and each query its ``nprobe`` best; the probe
    join partitions by cell id, so each query touches ~nprobe/n_centroids
    of the corpus instead of all of it. At 100 TB the cell column becomes
    the partition key of the stored index (write once, probe many).
    """
    codebook = _ivf_codebook(
        corpus.where(F.col(id_col) < n_centroids), id_col, vec_col
    )
    c = _assign(
        _with_qv(corpus, id_col, vec_col, "neighbor_id"),
        codebook,
        "qv_neighbor_id",
    )
    q = _assign(
        _with_qv(queries, query_id_col, vec_col, query_id_col),
        codebook,
        f"qv_{query_id_col}",
        nprobe,
    )
    scored = c.join(F.broadcast(q), "cell").select(
        query_id_col,
        "neighbor_id",
        _pair_cosine(query_id_col, "neighbor_id"),
    )
    return _topk(scored, query_id_col, "cosine", k, exclude_self=exclude_self)


def cosine_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    num_planes: int = 8,
    num_bands: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold, blocked by
    multi-band SRP: ``num_bands`` independent ``num_planes``-bit signatures,
    candidates = pairs sharing ANY band's bucket (deduplicated), exact
    cosine verified.

    Banding decouples join size from recall the same way the MinHash path
    does: per-band bucket count is 2^num_planes (so within-bucket self-join
    cost is ~num_bands·n²/2^num_planes — size num_planes ≈ log2(n/B) for a
    target bucket size B as the corpus grows), while a pair at angle θ is
    caught with prob 1-(1-(1-θ/π)^planes)^bands — extra bands buy back the
    recall that extra planes cost. The fixed single-band 16-bucket scheme
    this replaces went quadratic at 100× corpus size.

    All bands' signatures come from ONE corpus pass (stacked-matrix Arrow
    kernel + posexplode), and the resulting (id, band, bucket) table — 3
    longs/row, ~24 B·bands per vector regardless of embedding dim — is
    materialized via lazy ``localCheckpoint`` so the bucket self-join reads
    it twice without replaying the scan+quantize lineage (at 1B vectors ×
    4 bands that's ~100 GB spread across the cluster's local stores, vs
    re-reading and re-projecting the full embedding corpus twice).
    localCheckpoint rather than ``persist(DISK_ONLY)``: persist registers
    the plan in the session CacheManager until an explicit unpersist, and
    this function returns a lazy frame — there is no in-function action
    after which to unpersist, so repeated invocations in one app would
    accumulate cached lineages for the app lifetime. Checkpoint blocks are
    instead reclaimed by the ContextCleaner once the returned frame is
    dropped; lazy (eager=False) so materialization happens at the
    consumer's first action, not at plan-construction time."""
    base = _with_qv(corpus, id_col, vec_col, "id_a")
    all_planes = [
        srp_planes(num_planes, dim, seed=f"srp:{band}")
        for band in range(num_bands)
    ]
    banded = base.select(
        "id_a",
        F.posexplode(
            srp_signatures_multi_arrow(F.col("qv_id_a"), all_planes)
        ).alias("band", "bucket"),
    ).localCheckpoint(eager=False)
    cands = (
        banded.join(
            banded.select(
                F.col("id_a").alias("id_b"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    b = base.select(
        F.col("id_a").alias("id_b"),
        F.col("qv_id_a").alias("qv_id_b"),
        F.col("nrm_id_a").alias("nrm_id_b"),
    )
    return (
        cands.join(base, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", _pair_cosine("id_a", "id_b"))
        .where(F.col("cosine") >= threshold)
    )


def _ivf_codebook(
    cents: DataFrame, id_col: str = "cent_id", vec_col: str = "cent_vec"
):
    """IVF centroids as a k-means codebook with every norm 0: the
    kernel's arg-min of ``−2·x·c`` is IVF's arg-max integer dot ``x·c``,
    smaller centroid id on ties."""
    return _codebook(
        cents.select(
            F.col(id_col).alias("cell"),
            quantize(vec_col).alias("cv"),
            F.lit(0).cast("long").alias("cn2"),
        )
    )


def _ivf_assign(
    vectors: DataFrame, codebook, id_col: str, vec_col: str
) -> DataFrame:
    """Cell-assign ``vectors`` against the IVF codebook — the stored
    row schema (id, qv, nrm, cell) shared by the base build and delta
    appends (assignment is per-vector, so a delta assigned under the
    same centroids is bit-identical to what a full rebuild would have
    placed in those cells)."""
    return _assign(
        _with_qv(vectors, id_col, vec_col, "nid"), codebook, "qv_nid"
    ).select(
        F.col("nid").alias(id_col),
        F.col("qv_nid").alias("qv"),
        F.col("nrm_nid").alias("nrm"),
        "cell",
    )


def ivf_append_batch(
    spark,
    path: str,
    new_vectors: DataFrame,
    batch_id: int | str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a batch of vectors to a stored IVF index WITHOUT a rebuild
    — the index-maintenance path a 100 TB corpus needs (a full rebuild
    re-reads the corpus; an append reads only the batch).

    Layout & durability (the invindex committed-batch protocol):
    the batch lands in ``<path>/cells_delta/batch=<id>/cell=*/`` via an
    idempotent per-batch overwrite (retry-safe: a re-driven batch
    rewrites its own directory, ``sources.writers.write_epoch``
    semantics), and a zero-byte ``_COMMITTED`` marker is written LAST.
    Probes read base cells plus committed batches only, so a crashed
    partial append is invisible until its retry completes.  Batch ids
    must be novel vector ids (the exactly-once id dedup belongs to the
    upstream dedup store, not the index).

    Assignment uses the STORED centroids — reading them first also makes
    the centroids table's presence the layout completeness marker, so
    appending to a half-built index fails loudly.  Because assignment is
    per-vector under fixed centroids, probe(base + batches) is exactly
    probe(single build over the union) — pinned by test.  Compaction
    (folding deltas into the base when batch count grows) is a rebuild
    into a fresh fingerprint-keyed path, the same rotation story as the
    base build."""
    import os

    codebook = _ivf_codebook(spark.read.parquet(f"{path}/centroids"))
    assigned = _ivf_assign(new_vectors, codebook, id_col, vec_col)
    delta_dir = f"{path}/cells_delta/batch={batch_id}"
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        delta_dir
    )
    with open(os.path.join(delta_dir, "_COMMITTED"), "w"):
        pass


_IVF_META_DDL = "format_version int, cells_schema string"


def _ivf_cell_stores(spark, path: str) -> list[DataFrame]:
    """Base cells plus every COMMITTED delta batch, one DataFrame per
    store so a cell predicate prunes partitions inside each subtree.
    Delta reads are pinned to the base store's schema: an EMPTY batch (a
    quiet ingest window) writes a directory with no part files, which
    schema inference cannot read but an explicit schema returns as zero
    rows."""
    import os

    from mapreducemovieanalysis_cloud_spark.operators.invindex import (
        read_layout_meta,
    )

    ddl = None
    if os.path.isdir(f"{path}/meta"):
        ddl = read_layout_meta(spark, path, _IVF_META_DDL).cells_schema
    base = (
        spark.read.schema(ddl).parquet(f"{path}/cells")
        if ddl
        else spark.read.parquet(f"{path}/cells")
    )
    stores = [base]
    droot = f"{path}/cells_delta"
    if os.path.isdir(droot):
        for d in sorted(os.listdir(droot)):
            if d.startswith("batch=") and os.path.exists(
                os.path.join(droot, d, "_COMMITTED")
            ):
                stores.append(
                    spark.read.schema(base.schema).parquet(
                        f"{droot}/{d}"
                    )
                )
    return stores


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index: vectors stored hive-partitioned by their
    cell, centroids alongside — the write-once/probe-many layout
    ``ann_ivf_topk``'s docstring promises at 100 TB.

    Probes then read only ``nprobe`` partition directories (partition
    pruning at the file-listing level), so per-query scan cost is
    ~nprobe/n_centroids of the corpus no matter how large the corpus
    grows. Centroid policy mirrors ``ann_ivf_topk`` (first ``n_centroids``
    ids), so a probe of the stored index returns exactly what the inline
    operator computes."""
    cents = corpus.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
    )
    # cell cast to int BEFORE the write so the pinned DDL carries the
    # same dtype hive-partition inference always produced (a bigint
    # pin here widens the probe's cell comparisons and breaks subtree
    # dedup against the delta stores — measured as a doubled plan)
    codebook = _ivf_codebook(cents)
    assigned = _ivf_assign(corpus, codebook, id_col, vec_col).withColumn(
        "cell", F.col("cell").cast("int")
    )
    # meta first (schema pin), cells next, centroids LAST: every probe
    # starts by reading the centroids table, so its _SUCCESS doubles as
    # the layout's completeness marker — a crashed partial build fails
    # LOUDLY at probe time (no centroids) instead of silently probing
    # cells that were assigned under different centroids.  (Rebuilds
    # land in a new fingerprint-keyed path — see
    # sources/readers.table_fingerprint — so same-path rewrite only
    # ever rewrites identical content.)  The meta row pins the cells
    # DDL so probes skip footer inference and an EMPTY corpus (zero
    # part files under partitionBy) still reads as a zero-row index
    # (r08 empty-input sweep; the invindex v3 pattern).
    from mapreducemovieanalysis_cloud_spark.operators.invindex import _ddl

    corpus.sparkSession.createDataFrame(
        [(1, _ddl(assigned.schema))], _IVF_META_DDL
    ).write.mode("overwrite").parquet(f"{path}/meta")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/cells"
    )
    cents.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_probe_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k against a stored IVF index (see ``ivf_write_index``).

    The probe-cell set is collected to the driver — it is at most
    nprobe x |queries| small ints (the same boundedness argument as a
    broadcast variable), and inlining it as a literal IN-filter guarantees
    static partition pruning on the cells read (``PartitionFilters`` in
    the scan, pinned by test) rather than depending on runtime DPP
    heuristics. Scoring re-ranks with the same exact quantized cosine as
    the inline operator."""
    q = _assign(
        _with_qv(queries, query_id_col, vec_col, query_id_col),
        _ivf_codebook(spark.read.parquet(f"{path}/centroids")),
        f"qv_{query_id_col}",
        nprobe,
    )
    probe_cells = sorted(
        {r.cell for r in q.select("cell").distinct().collect()}
    )
    # base + committed appends (ivf_append_batch); the literal IN-filter
    # prunes cell partitions inside every subtree independently
    idx = None
    for store in _ivf_cell_stores(spark, path):
        part = store.where(F.col("cell").isin(probe_cells)).select(
            F.col(id_col).alias("neighbor_id"),
            F.col("qv").alias("qv_neighbor_id"),
            F.col("nrm").alias("nrm_neighbor_id"),
            "cell",
        )
        idx = part if idx is None else idx.unionAll(part)
    scored = idx.join(F.broadcast(q), "cell").select(
        query_id_col,
        "neighbor_id",
        _pair_cosine(query_id_col, "neighbor_id"),
    )
    return _topk(scored, query_id_col, "cosine", k, exclude_self=exclude_self)


def ann_lsh_multiband_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 6,
    num_bands: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Multi-band SRP top-k: candidates = corpus vectors sharing ANY of
    ``num_bands`` independent ``num_planes``-bit buckets with the query,
    deduplicated, exact-cosine re-ranked.

    This is the measured answer to the single-band recall collapse
    (SCALE.md ANN recall table): one band retains a true neighbor at
    angle θ with prob (1-θ/π)^planes — 0.03 at 8 planes for θ≈65° — while
    OR-ing bands lifts it to 1-(1-(1-θ/π)^planes)^bands at a candidate
    cost of ~bands·n/2^planes per query. Planes size as log2(n/B) for
    target bucket size B; bands buy recall back. All band signatures
    come from ONE corpus pass (stacked Arrow kernel + posexplode), the
    same kernel as the near-dup pair blocker.
    """
    all_planes = [
        srp_planes(num_planes, dim, seed=f"srp:{band}")
        for band in range(num_bands)
    ]
    c = _with_qv(corpus, id_col, vec_col, "neighbor_id")
    q = _with_qv(queries, query_id_col, vec_col, query_id_col)
    cban = c.select(
        "neighbor_id",
        F.posexplode(
            srp_signatures_multi_arrow(F.col("qv_neighbor_id"), all_planes)
        ).alias("band", "bucket"),
    )
    qban = q.select(
        query_id_col,
        F.posexplode(
            srp_signatures_multi_arrow(
                F.col(f"qv_{query_id_col}"), all_planes
            )
        ).alias("band", "bucket"),
    )
    cand = (
        cban.join(F.broadcast(qban), ["band", "bucket"])
        .select(query_id_col, "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            _pair_cosine(query_id_col, "neighbor_id"),
        )
    )
    return _topk(scored, query_id_col, "cosine", k, exclude_self=exclude_self)


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the top-k most-similar corpus vectors with a DIFFERENT label — the
    negatives that sit closest to the decision boundary, which random
    negative sampling (operators/curation.py:negative_pairs) almost
    never finds.

    Exact tier: broadcast the anchor set, scan the corpus once, score
    with the quantized-integer cosine, keep the top-k per anchor among
    cross-label rows (cosine desc, neighbor id tiebreak).  At corpus
    scales where the full scan is too dear, probe the IVF index
    (pq.ann_ivf_pq_topk / the stored cell-partitioned index) and
    post-filter on label — same output contract, sublinear probe.
    """
    c = _with_qv(
        corpus, id_col, vec_col, "neighbor_id",
        F.col(label_col).alias("neighbor_label"),
    )
    q = _with_qv(
        anchors, query_id_col, vec_col, query_id_col,
        F.col(label_col).alias("anchor_label"),
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("neighbor_label") != F.col("anchor_label"))
        .select(
            query_id_col,
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            _pair_cosine(query_id_col, "neighbor_id"),
        )
    )
    return _topk(scored, query_id_col, "cosine", k)


# ---- scalar 8-bit quantization (SQ8) tier -----------------------------------


def sq8_reconstructed(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar 8-bit quantization of every corpus vector against per-dim
    corpus [min, max] ranges, DECODED back to the reconstruction the
    scorer uses — the Faiss ``SQ8`` compression tier that sits between
    raw vectors and PQ codes (4 bytes/dim -> 1 byte/dim, no codebook
    training).

    All arithmetic is exact int64 on the shared micro-quantization
    (functions/vector.py:quantize): code = ((x - mn) * 255) div
    (mx - mn); recon = mn + (code * (mx - mn)) div 255 — both engines
    truncate identically because every operand is non-negative.

    Scale: per-dim stats are ONE posexplode aggregate (64 keys) that
    broadcasts back as two dim-length arrays; encoding is map-side; no
    corpus shuffle.
    """
    qv = corpus.select(F.col(id_col), quantize(vec_col).alias("__q"))
    st = (
        qv.select(F.posexplode("__q").alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    stats = st.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, mn))), s -> s.mn)"
        ).alias("__mn"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, mx))), s -> s.mx)"
        ).alias("__mx"),
    )
    return qv.crossJoin(F.broadcast(stats)).select(
        F.col(id_col),
        F.expr(
            "transform(sequence(0, size(__q) - 1), i -> CASE"
            " WHEN element_at(__mx, i + 1) = element_at(__mn, i + 1)"
            " THEN element_at(__mn, i + 1)"
            " ELSE element_at(__mn, i + 1)"
            "  + (((element_at(__q, i + 1) - element_at(__mn, i + 1)) * 255)"
            "     div (element_at(__mx, i + 1) - element_at(__mn, i + 1)))"
            "    * (element_at(__mx, i + 1) - element_at(__mn, i + 1))"
            "    div 255 END)"
        ).alias("recon"),
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact-arithmetic ANN over the SQ8-compressed corpus: top-k per
    query by squared L2 distance to the RECONSTRUCTED vectors (asymmetric
    distance — full-precision query against compressed corpus, the same
    asymmetry as PQ's ADC), neighbor id as the deterministic tie-break.

    Scale: queries broadcast; the corpus is scanned once through the
    map-side encoder; only (query, neighbor, distance) rows shuffle into
    the per-query rank window."""
    rec = sq8_reconstructed(corpus, id_col, vec_col)
    q = queries.select(
        F.col(query_id_col), quantize(vec_col).alias("__qq")
    )
    scored = rec.join(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        F.expr(
            "aggregate(zip_with(__qq, recon, (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("dist_sq"),
    )
    return _topk(
        scored, query_id_col, "dist_sq", k, desc=False, exclude_self=True
    )
