"""Iterative clustering over embeddings (k-means, fixed Lloyd iterations),
and the engine's one nearest-centroid kernel.

Lloyd's iterations run the way Spark MLlib's KMeans runs them: the k×d
int64 codebook lives on the driver, and each iteration is one narrow
``mapInArrow`` assign pass over the points (the codebook rides in the
kernel's closure, once per task) plus one dim-wise aggregate (one shuffle
keyed on cell, map-side partial sums). The driver collects only the k
codebook rows per iteration — the rows a broadcast of the centroids
would collect there anyway — never point data.

The kernel (``_codebook`` + ``_assign``) has three users, with no branch
on which one calls it:

- k-means (``kmeans_assignments``, and through it ``semantic_dedup``):
  one cell per point;
- product quantization (operators/pq.py): the codebook is keyed by
  subspace ``j`` and each (vector, subspace) row picks its code among
  that subspace's centroids, for training and for encoding;
- IVF (operators/similarity.py and ``pq.ann_ivf_pq_topk``): centroid
  norms are 0, so the arg-min score is the arg-max dot product; the
  corpus keeps one cell, each query its ``nprobe`` best.

Scale posture: the codebook is held on the driver and in every task —
k×d longs for k-means, n_centroids×d for IVF, m·k·subdim for PQ. k is a
constant, or derived from ``target_cluster_size`` so it grows with n
(k = n/t codebook rows, the same growth a broadcast codebook had); the
``train_sample`` tier bounds the intermediate Lloyd rounds by the sample,
and only the final assign is corpus-linear.

Determinism contract (what makes this oracle-checkable, unlike textbook
k-means): points are quantized ints, scores are exact int64
``|c|² − 2·p·c`` (the ``|p|²`` term of the squared distance is constant
per point and cannot move the arg-min; cell-id tie-break — no float
compare), and updated centroids round the per-dim mean back to int64
(exact bigint sum, one IEEE division, round-half-away — identical in any
engine). Seeds are the first k vectors by id.
"""

from __future__ import annotations

from itertools import groupby

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from mapreducemovieanalysis_cloud_spark.functions.hashing import md5_bucket
from mapreducemovieanalysis_cloud_spark.functions.vector import (
    list_matrix,
    qnorm2,
    quantize,
)


def _codebook(cents: DataFrame) -> dict[int, tuple]:
    """The centroid rows ``([j,] cell, cv, cn2)`` collected to the driver,
    keyed by subspace ``j`` (all 0 when ``cents`` has no ``j``): per
    subspace (cells, (k, d) int64 matrix, norms), sorted by cell."""
    j = F.col("j") if "j" in cents.columns else F.lit(0)
    rows = sorted(
        cents.select(j.alias("j"), "cell", "cv", "cn2").collect(),
        key=lambda r: (r.j, r.cell),
    )
    widths = {-1 if r.cv is None else len(r.cv) for r in rows}
    if -1 in widths or len(widths) > 1:
        raise ValueError("clustering._codebook: NULL or ragged centroid")
    d = widths.pop() if widths else 0
    book = {}
    for sub, grp in groupby(rows, key=lambda r: r.j):
        grp = list(grp)
        book[sub] = (
            np.array([r.cell for r in grp], dtype=np.int64),
            np.array([r.cv for r in grp], dtype=np.int64).reshape(len(grp), d),
            np.array([r.cn2 for r in grp], dtype=np.int64),
        )
    return book


def _assign(
    pts: DataFrame,
    codebook: dict,
    vec: str = "qv",
    keep: int = 1,
    out: list[str] | None = None,
) -> DataFrame:
    """The ``keep`` nearest codebook cells per point in one ``mapInArrow``
    pass: ``out`` columns of ``pts`` (default all) plus ``cell``, one row
    per kept cell. For each Arrow batch the score ``cn2 − 2·X·Cᵀ`` is
    exact int64 (the point's own norm is constant per row, so it cannot
    move the arg-min), and the cells are taken in ``(score, cell)`` order
    over the cell-sorted codebook: ``argmin`` for one, a stable
    ``argsort`` for more. When ``pts`` has a ``j`` column, each row is
    scored against subspace ``j`` of the codebook (PQ), otherwise against
    subspace 0; a row whose subspace has no centroids is dropped. A
    codebook with ``cn2 = 0`` turns the arg-min into the arg-max dot
    product (IVF). A narrow map: no join, no exchange, no aggregate.

    Fails loudly instead of returning wrong cells: a NULL or ragged
    vector, or one whose width differs from the codebook's, raises a
    ``ValueError``, and so does a batch where ``d·(max|x| + max|c|)² <
    2^63`` — the bound on every term and partial sum — does not hold
    (numpy int64 matmul wraps silently). An empty codebook assigns
    nothing."""
    books = list(codebook.items())
    keep = min([keep] + [len(cells) for _, (cells, _, _) in books])
    d = books[0][1][1].shape[1] if books else 0
    mc = max(
        (max(int(cv.max(initial=0)), -int(cv.min(initial=0)))
         for _, (_, cv, _) in books),
        default=0,
    )
    by_j = "j" in pts.columns
    out = list(pts.columns) if out is None else out

    def assign(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if not books or not n:
                continue
            x = list_matrix(rb.column(vec), d, "clustering._assign")
            mx = max(int(x.max(initial=0)), -int(x.min(initial=0)))
            if d * (mx + mc) ** 2 >= 1 << 63:
                raise ValueError(
                    "clustering._assign: int64 overflow bound violated "
                    f"(d={d}, max|x|={mx}, max|c|={mc})"
                )
            js = rb.column("j").to_numpy() if by_j else None
            won = np.empty((n, keep), dtype=np.int64)
            hit = np.zeros(n, dtype=bool)
            for sub, (cells, cv, cn2) in books:
                rows = slice(None) if js is None else js == sub
                score = cn2[None, :] - 2 * (x[rows] @ cv.T)
                top = (
                    score.argmin(axis=1)[:, None]
                    if keep == 1
                    else np.argsort(score, axis=1, kind="stable")[:, :keep]
                )
                won[rows] = cells[top]
                hit[rows] = True
            cols = [rb.column(c) for c in out]
            if keep > 1 or not hit.all():
                ix = pa.array(np.repeat(np.flatnonzero(hit), keep))
                cols = [c.take(ix) for c in cols]
            yield pa.RecordBatch.from_arrays(
                cols + [pa.array(won[hit].ravel())], names=out + ["cell"]
            )

    schema = T.StructType(
        [T.StructField(c, pts.schema[c].dataType) for c in out]
        + [T.StructField("cell", T.LongType())]
    )
    return pts.mapInArrow(assign, schema)


def _update(assigned: DataFrame, dim: int, vec: str = "qv") -> DataFrame:
    """New centroid per cell from the ``vec`` column: per-dimension
    rounded mean ``CAST(round(s/n) AS bigint)`` (exact int64 sum, one
    IEEE division), reassembled in dimension order. The ``dim`` indexed
    sums partial-aggregate map-side to one row per cell, one exchange
    total; each sum and the reassembly is one SQL expression string, one
    parse each. Rows are keyed by ``(j, cell)`` when ``assigned`` has a
    ``j`` column, the rule ``_codebook`` and ``_assign`` follow: k-means
    updates per cell, PQ (``pq.pq_codes``, ``vec="sv"``, ``dim`` the
    subvector width) per (subspace, cell). PQ's subvectors are exactly
    ``dim`` wide, so the width guard below never fires for them.

    Explicit sum/count rather than avg(): Spark's Average over LongType
    accumulates in DoubleType, which loses the exact-bigint-sum guarantee
    once a cell's per-dim partial sums pass 2^53 (and becomes summation-
    order dependent). sum() stays int64; one IEEE division at the end.

    ``dim`` is an UPPER BOUND on the vector width: shorter vectors work
    (the sums past the real width are null and sliced off by the
    per-cell ``min(size(qv))``), but a vector WIDER than ``dim`` would
    be silently truncated — so the per-cell ``max(size(qv))`` is
    asserted ``<= dim`` inside the plan and the query FAILS LOUDLY
    (matching the engine's other runtime domain guards, e.g.
    pagerank_weighted's int64 guard) instead of producing wrong
    centroids (the engine's embedding tables are 64-wide everywhere;
    see pca_gram's hardcoded 64)."""
    # get() (not qv[i]): out-of-bounds must yield null under ANSI mode
    # for the shorter-than-dim tolerance above, not raise
    keys = ["j", "cell"] if "j" in assigned.columns else ["cell"]
    per_cell = assigned.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(F.size(vec)).alias("__len"),
        F.max(F.size(vec)).alias("__maxlen"),
        *[F.expr(f"sum(get({vec}, {i})) AS __s{i}") for i in range(dim)],
    )
    # assert_true returns null when the guard holds, so the when() wrapper
    # evaluates it per cell and passes __len through unchanged; a wider
    # vector raises with the observed width instead of truncating
    guarded_len = F.when(
        F.assert_true(
            F.col("__maxlen") <= F.lit(dim),
            F.concat(
                F.lit(
                    f"clustering._update: vector wider than dim={dim} (got "
                ),
                F.col("__maxlen").cast("string"),
                F.lit("); pass a dim >= the corpus vector width"),
            ),
        ).isNull(),
        F.col("__len"),
    )
    means = ", ".join(
        f"CAST(round(__s{i} / __n) AS bigint)" for i in range(dim)
    )
    return per_cell.select(
        *keys,
        F.slice(F.expr(f"array({means})"), F.lit(1), guarded_len).alias("cv"),
    ).withColumn("cn2", qnorm2(F.col("cv")))


def kmeans_assignments(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
    target_cluster_size: int | None = None,
    train_sample: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """(vec_id, cluster) after ``iters`` Lloyd iterations from the first-k
    seed centroids. ``keep_vec=True`` additionally returns the quantized
    vector and its squared norm (qv, pn2) so downstream per-cluster work
    (e.g. SemDeDup pairing) reuses the assignment lineage instead of
    re-joining the corpus.

    The build runs Spark jobs: the seed codebook and each intermediate
    update are collected to the driver (k rows each, see the module
    docstring), and the returned frame is the final assign pass.

    ``target_cluster_size`` switches k from a constant to a corpus-derived
    value k = max(ceil(n / target_cluster_size), 2), computed on the driver
    from one count, so expected cluster size — and with it the cost of any
    per-cluster quadratic consumer — stays constant as the corpus grows
    instead of clusters growing as n/k. Exact integer arithmetic keeps the
    derived k reproducible in any engine.

    ``train_sample=S`` is the 100 TB training tier (same contract as
    ``pq.pq_codes``): intermediate Lloyd assign/update rounds run over
    the deterministic md5 1/S sample of vectors, and only the FINAL
    assignment — the corpus-linear step that actually labels every
    vector — sees the full input.  Centroids are means; a bounded sample
    estimates them as well as the corpus does, so per-iteration training
    cost drops from corpus-bound to sample-bound.  Deterministic
    (``md5_bucket`` is a pure function of ids) and oracle-mirrorable
    (``_kmeans_oracle(train_where=...)``); seeds and the
    ``target_cluster_size`` k-derivation stay full-corpus either way.
    Pick S so the absolute sample stays large (≥ ~100·k vectors) — see
    SCALE.md round-5 notes."""
    pts = emb.select(
        F.col(id_col).alias("vec_id"), quantize(vec_col).alias("qv")
    ).withColumn("pn2", qnorm2(F.col("qv")))
    if target_cluster_size is not None:
        k = max(-(-emb.count() // target_cluster_size), 2)
    codebook = _codebook(
        pts.where(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cell"),
            F.col("qv").alias("cv"),
            F.col("pn2").alias("cn2"),
        )
    )
    if train_sample is not None:
        train = pts.where(
            md5_bucket("vec_id", train_sample, salt="kmtrain:") == 0
        )
        if iters > 1 and train.isEmpty():
            # an empty sample would silently cascade to an empty result
            # (empty update -> empty codebook -> final assign labels
            # nothing); fail loudly like the engine's other degenerate
            # cases instead
            raise ValueError(
                f"train_sample={train_sample} selected zero vectors; "
                "decrease it (the md5 sample keeps ~1/S of the corpus)"
            )
    else:
        train = pts
    for _ in range(iters - 1):
        codebook = _codebook(_update(_assign(train, codebook), dim))
    assigned = _assign(pts, codebook, out=None if keep_vec else ["vec_id"])
    return assigned.withColumnRenamed("cell", "cluster")


def label_propagation_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 64,
) -> DataFrame:
    """Connected components by min-label propagation, iterated to
    convergence: label(v) <- min(label(v), min over neighbors label(u)),
    repeated until a round changes no label.

    The dedup-cluster closure: near-dup PAIRS become groups so one survivor
    can be chosen per component (min doc_id). Convergence is deterministic —
    every round's labels are pure mins over the input, and the fixpoint is
    exactly min-reachable-id per node regardless of partitioning or round
    count — so the result stays oracle-checkable (the DuckDB oracle computes
    the same fixpoint with a recursive transitive closure). Components merge
    fully at any diameter, unlike a fixed round budget.

    Each round is one shuffle (join on the edge key) + one aggregate + one
    O(1)-row convergence count — no driver-side graph state; the driver only
    iterates the plan. Rounds needed = graph diameter (dedup clusters are
    near-cliques, so typically 2-3); ``max_iters`` is a runaway bound, and
    at petabyte scale the same loop swaps min-propagation for
    large-star/small-star contraction (O(log n) rounds) without changing
    this driver pattern. ``edges``: (src, dst) undirected pairs.
    """
    # Every round re-reads the edge list: persist it once instead of
    # re-deriving its (possibly expensive — LSH candidate generation)
    # lineage per iteration. MEMORY_AND_DISK: the edge list is the largest
    # state; unified-memory eviction spills it to disk under execution
    # pressure rather than letting it crowd the shuffle working set, and
    # the disk copy keeps per-round re-reads from recomputing lineage.
    sym = (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("u"))
        .union(edges.select(F.col("dst").alias("v"), F.col("src").alias("u")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    persisted = nodes.select(
        F.col(id_col).alias("v"), F.col(id_col).alias("lbl")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels = persisted
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(
                labels.select(
                    F.col("v").alias("u"), F.col("lbl").alias("u_lbl")
                ),
                "u",
            )
            .groupBy("v")
            .agg(F.min("u_lbl").alias("n_lbl"))
        )
        # Eager localCheckpoint instead of persist: it materializes the
        # round AND truncates lineage, so round r's plan is O(1) — with
        # plain persist the logical plan still chains through every prior
        # round and per-round planning/serialization grows O(r), O(r²)
        # total (visible as hundreds of Exchanges in PLANS.md before this
        # fix). Blocks of dropped rounds are reclaimed by the
        # ContextCleaner once unreferenced; a production run on a real
        # cluster sets a checkpoint dir and uses reliable checkpoint()
        # every few rounds instead (localCheckpoint does not survive
        # executor loss).
        stepped = (
            labels.join(neighbor_min, "v", "left")
            .select(
                "v",
                F.col("lbl").alias("old_lbl"),
                F.least(
                    F.col("lbl"), F.coalesce(F.col("n_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.where(F.col("lbl") != F.col("old_lbl")).count()
        if persisted is not None:
            persisted.unpersist()
            persisted = None
        labels = stepped.select("v", "lbl")
        if changed == 0:
            break
    sym.unpersist()
    # The last round's checkpoint blocks back the returned frame; they are
    # reclaimed by the ContextCleaner when the consumer drops the frame.
    return labels.select(
        F.col("v").alias(id_col), F.col("lbl").alias("component")
    )


def _sym(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def star_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 32,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the O(log n)-round kernel SCALE.md prescribes when
    diameter-bound min-label propagation (rounds = diameter) stops being
    affordable. Same fixpoint: component = min reachable id, so the same
    recursive-CTE oracle and the propagation kernel's results are
    interchangeable (pinned by tests).

    large-star hangs every neighbor v > u onto min(N(u) ∪ {u});
    small-star re-hangs each node's smaller neighbors onto their minimum.
    Each phase is one grouped aggregate + one join on the edge list —
    no driver-side graph state. Convergence detection is two-tier: a
    cheap O(1)-row (count, sum-of-xxhash64) signature of the edge set is
    the per-round fast path, and only when the signature matches is the
    fixpoint CONFIRMED with one exact ``new.exceptAll(old).count() == 0``
    action (equal cardinality + empty difference ⇒ equal sets), so a
    hash-sum collision across genuinely different edge sets can delay
    termination by a round but can never terminate it early with split
    components. Exhausting ``max_iters`` without a confirmed fixpoint
    raises rather than silently returning half-contracted stars — with
    the default 32 rounds and geometric contraction that bound covers
    graphs far beyond 2^32 nodes. Rounds are O(log n) regardless of
    diameter — long chains contract geometrically instead of one hop per
    round.
    """
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def signature(df: DataFrame):
        # 64-bit per-edge hash: a sum of 32-bit F.hash values collides
        # across distinct edge sets at plausible rates; xxhash64 pushes
        # that into the 2^-64 regime, and the exact exceptAll confirm
        # below removes even that residual risk. Summed as decimal(38,0):
        # an int64 sum of int64 hashes overflows (ANSI mode raises), while
        # 38 digits leave ~10^19-term headroom at full entropy.
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    converged = False
    sig = signature(e)
    for _ in range(max_iters):
        # large-star: neighbors above u re-hang onto min(N(u) ∪ {u})
        sym = _sym(e)
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient downhill, re-hang u and its smaller
        # neighbors onto their minimum
        d = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        smins = d.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            d.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = signature(small)
        if new_sig == sig and small.exceptAll(e).count() == 0:
            e = small
            converged = True
            break
        e = small
        sig = new_sig
    if not converged:
        raise RuntimeError(
            "star_components did not reach a confirmed fixpoint in "
            f"{max_iters} rounds; raise max_iters (contraction is "
            "O(log n) rounds, so this indicates either an enormous "
            "graph or a bug upstream)"
        )
    # at the fixpoint e is a forest of stars (v -> root): a node's
    # component is its smallest incident endpoint, itself if isolated
    roots = _sym(e).groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("component")
    )
    return (
        nodes.select(F.col(id_col).alias("u"))
        .join(roots, "u", "left")
        .select(
            F.col("u").alias(id_col),
            F.coalesce("component", "u").alias("component"),
        )
    )


def canonical_survivors(
    docs: DataFrame,
    components: DataFrame,
    priority: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivor selection per near-dup component: within each component
    keep the doc maximizing ``priority`` (ties broken by MIN id), and
    report every doc's verdict — the step that turns a dedup clustering
    into an actual keep/drop decision.  Production pipelines keep the
    LONGEST or highest-quality member of a near-dup cluster rather than
    the arbitrary min-id one (the longest version of a boilerplate-
    wrapped page is usually the most complete); ``priority`` is any
    integer-valued Column over ``docs`` (e.g. ``F.length("text")``).

    Returns (id_col, component, priority, survivor_id, is_survivor) for
    EVERY doc in ``components`` (singletons survive trivially).

    Scale: the arg-max is a partial-aggregatable ``min_by(id,
    struct(-priority, id))`` per component — no per-component window
    ever sorts member lists, so a pathological giant component costs a
    skewed-key aggregate, not a single-task sort.  The ordering struct
    leads with the negated priority (max-priority wins) and breaks ties
    on the id itself, so the arg-max is deterministic and — because the
    id is compared natively, never negated — works for STRING doc ids
    exactly like the rest of the dedup API (the previous
    ``max(struct(priority, -id))`` shape threw CAST_INVALID_INPUT on
    string ids under ANSI mode; r06 advisor).  The verdict join-back is
    a component-keyed equi-join; both sides arrive pre-shuffled on
    ``component`` from the agg, so AQE plans it without a new exchange
    class.  Priority must be integer-valued: float priorities would put
    cross-engine tie-breaking at the mercy of last-ulp disagreement.
    """
    labeled = components.join(
        docs.select(F.col(id_col), priority.cast("long").alias("priority")),
        id_col,
    )
    best = labeled.groupBy("component").agg(
        F.min_by(
            F.col(id_col),
            F.struct(
                (-F.col("priority")).alias("_np"),
                F.col(id_col).alias("_id"),
            ),
        ).alias("survivor_id")
    )
    return labeled.join(best, "component").select(
        id_col,
        "component",
        "priority",
        "survivor_id",
        (F.col(id_col) == F.col("survivor_id"))
        .cast("long")
        .alias("is_survivor"),
    )
