"""Deduplication operators for the documents table (north-star, BASELINE.json).

Four tiers, each a pure DataFrame plan:

- **exact**: md5-fingerprint groupBy — one shuffle on a 32-byte key, never on
  the full text.
- **n-gram Jaccard** (exact near-dup): explode distinct word shingles,
  self-join on shingle, count intersections — the exact-but-quadratic-in-
  collisions baseline the approximate tiers are judged against.
- **MinHash + LSH** (scale path): per-doc signature of k min-hashes, banded
  into LSH keys; only docs sharing a band key become candidate pairs, then
  exact Jaccard verifies. Hashes are md5 *strings* (min over lexicographic
  order) so the whole pipeline is reproducible in any engine — no
  engine-specific hash function in the contract.
- **SimHash**: 16-bit signed-projection sketch from md5 hex digits; hamming
  distance on the compact signature finds near-dups without touching text.

Scale notes: every self-join keys on a shingle/band/bucket — cardinality
control comes from banding (LSH) or signature compactness (SimHash), not from
driver-side state. Hot shingles (stopword runs) can skew the exact-Jaccard
join; LSH bands are uniform by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark.functions.text import (
    fingerprint,
    tokens,
)


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Survivor per normalized-text fingerprint: min id wins, duplicate count
    kept. Shuffles only (fingerprint, id) — 40 bytes/row at any scale."""
    return (
        docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingle_sets(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    fan_out: bool = False,
) -> DataFrame:
    """(id, shingle) exploded distinct n-word shingles.

    Tokenizes in its own projection so the split runs once per document —
    inlining ``tokens()`` into the shingle lambda re-splits per shingle
    (see ``functions.text.shingles_from_tokens``).

    With ``fan_out=True`` the tokenized frame is rebalanced when the
    scan is narrower than the cluster (``skew.fan_out_underparallel``):
    a single-row-group corpus file otherwise serializes the shingle
    transform, the md5 seed hashes and every downstream per-row pass on
    one core.  Self-extinguishing at scale — real corpora scan as >=
    cores splits, so no extra Exchange exists in the 100 TB plan.
    Opt-in per call site because only the MINHASH consumers win from it
    (k/4 md5 digests per shingle row are the dominant serialized cost:
    interleaved A/B at sf0.1/local[32] read dedup_minhash_lsh 2.05 ->
    0.98 s, lsh_band_collision_stats 2.44 -> 0.90, jaccard_threshold_
    sweep 2.09 -> 1.04), while the PPJoin/exact paths — one md5 per row,
    self-join dominated — measure the extra exchange as a net loss
    (dedup_jaccard +0.20 s, containment_pairs +0.15, lsh_recall_vs_exact
    +0.53); see OPTIMIZATION_r13.md."""
    from mapreducemovieanalysis_cloud_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )
    from mapreducemovieanalysis_cloud_spark.operators.skew import (
        fan_out_underparallel,
    )

    toked = docs.select(F.col(id_col), tokens(text_col).alias("__toks"))
    if fan_out:
        toked = fan_out_underparallel(toked)
    return toked.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("__toks"), n))
        ).alias("shingle"),
    )


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard >= thr).

    jaccard = |A∩B| / (|A|+|B|-|A∩B|) — all integers until one exact IEEE
    division, so the value is engine- and partitioning-independent.

    Candidate generation uses PPJoin-style prefix filtering: under a fixed
    global shingle order (md5), J(A,B) >= t implies |A∩B| >= ceil(t·max) —
    so the two prefixes of length |X| - ceil(t·|X|) + 1 must share a
    shingle. Only prefix shingles enter the self-join (~(1-t) of each set),
    shrinking candidate pairs ~(1-t)² with zero loss (the full intersection
    is then counted per candidate). Surviving candidates then pass the
    PPJoin+ POSITIONAL filter: both prefixes are sorted by the same global
    order, so every common element other than the first shared one (at
    rank i in A, j in B) ranks strictly after it in BOTH sets — overlap
    <= 1 + min(|A|-i, |B|-j); pairs whose bound falls below the required
    overlap ceil(t/(1+t)·(|A|+|B|)) are dropped before the exact-set
    verify intersects the two docs' materialized fingerprint arrays.
    Lossless: the bound is an upper bound on the true overlap, so only
    pairs that cannot qualify are cut, and the result set is identical
    to the brute-force join the oracle runs.

    Pass a ``shingles`` frame to avoid re-tokenizing when the caller
    already derived the shingle sets (the minhash_signatures pattern —
    lsh_recall_vs_exact shares one shingle pass across truth AND
    banding sides); callers must localCheckpoint a shared frame
    themselves, since this function fans it out to three consumers.
    """
    sh = (
        shingles
        if shingles is not None
        else shingle_sets(docs, n, id_col, text_col).localCheckpoint(
            eager=False
        )
    )
    # One projection owns both hashes of each shingle: ``fp`` (md5 hex —
    # the canonical global order AND the verify fingerprint, unchanged
    # contract) and ``jk`` (xxhash64 — the 8-byte candidate-JOIN key;
    # round-13 optimization, guide §2.3 "narrower types").  Raw shingle
    # strings never flow past this projection.  Hashing the join key is
    # LOSSLESS: equal shingles hash equal (no candidate missed), and a
    # collision can only ADD a candidate pair — the exact array_intersect
    # verify below rejects it, and a colliding row can only LOWER a
    # pos_a/pos_b min, which RAISES the positional upper bound (keeps
    # strictly more pairs for the verify), never drops a qualifying one.
    proj = sh.select(
        F.col(id_col),
        F.md5("shingle").alias("fp"),
        F.xxhash64("shingle").alias("jk"),
    )
    sizes = proj.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    rank_w = Window.partitionBy(id_col).orderBy(F.col("fp"))
    # Required overlap is ceil(t·size) in EXACT arithmetic: the float product
    # can round up past the true integer (0.55*100 -> 55.00000000000001,
    # ceil=56), which would shorten the prefix by one and silently drop
    # qualifying pairs. The epsilon backs off float-rounding-up while staying
    # far below the 1/size quantum between distinct exact values.
    prefix = (
        proj.withColumn("rk", F.row_number().over(rank_w))
        .join(sizes, id_col)
        .where(
            F.col("rk")
            <= F.col("set_size")
            - F.ceil(F.lit(threshold) * F.col("set_size") - F.lit(1e-9))
            + 1
        )
        .select(id_col, "jk", "rk")
    )
    # The groupBy replaces the plain .distinct() at the same shuffle cost,
    # but additionally keeps each pair's FIRST shared prefix shingle's
    # ranks (min rk on both sides — consistent, because both prefixes are
    # sorted by the same global md5 order, so the globally-smallest shared
    # shingle is the rank-min in A and in B simultaneously).
    cands = (
        prefix.select(F.col(id_col).alias("doc_a"), "jk", F.col("rk").alias("rk_a"))
        .join(
            prefix.select(
                F.col(id_col).alias("doc_b"), "jk", F.col("rk").alias("rk_b")
            ),
            "jk",
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.min("rk_a").alias("pos_a"), F.min("rk_b").alias("pos_b"))
    )
    # PPJoin length filter (lossless): J(A,B) >= t implies
    # min(|A|,|B|) >= t·max(|A|,|B|) — then the PPJoin+ positional filter:
    # overlap <= 1 + min(|A|-pos_a, |B|-pos_b) (everything common beyond
    # the first shared prefix element ranks after it in both sets), and
    # J >= t needs overlap >= t/(1+t)·(|A|+|B|). Both prune candidate
    # pairs on two id-keyed joins BEFORE the intersection join re-explodes
    # them against full shingle sets (the same float-rounding epsilon as
    # the prefix bound keeps the cuts exact — conservative by 1e-9, never
    # dropping a qualifying pair).
    cands = (
        cands.join(
            sizes.select(
                F.col(id_col).alias("doc_a"), F.col("set_size").alias("sz_a")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col(id_col).alias("doc_b"), F.col("set_size").alias("sz_b")
            ),
            "doc_b",
        )
        .where(
            F.least("sz_a", "sz_b").cast("double")
            >= F.lit(threshold) * F.greatest("sz_a", "sz_b") - F.lit(1e-9)
        )
        .where(
            (
                1
                + F.least(
                    F.col("sz_a") - F.col("pos_a"),
                    F.col("sz_b") - F.col("pos_b"),
                )
            ).cast("double")
            >= F.ceil(
                F.lit(threshold / (1.0 + threshold))
                * (F.col("sz_a") + F.col("sz_b"))
                - F.lit(1e-9)
            )
        )
        .select("doc_a", "doc_b")
    )
    # Exact-set verify (same kernel as containment_pairs): surviving
    # candidate pairs join one materialized sorted-md5 fingerprint array
    # per doc and count the intersection locally — shuffle volume is
    # O(candidates × avg doc fingerprint bytes), no exploded postings
    # fan-out, no pair-keyed re-aggregation.
    doc_sets = proj.groupBy(id_col).agg(
        F.sort_array(F.collect_list("fp")).alias("__fps"),
        F.count(F.lit(1)).alias("set_size"),
    )
    return (
        cands.join(
            doc_sets.select(
                F.col(id_col).alias("doc_a"),
                F.col("__fps").alias("__fa"),
                F.col("set_size").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            doc_sets.select(
                F.col(id_col).alias("doc_b"),
                F.col("__fps").alias("__fb"),
                F.col("set_size").alias("size_b"),
            ),
            "doc_b",
        )
        .withColumn(
            "n_common", F.size(F.array_intersect("__fa", "__fb")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def winnow_fingerprints(
    docs: DataFrame,
    n: int = 3,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03): rolling hash per
    n-gram position, keep the min hash of every ``window`` consecutive
    positions, distinct per doc. Guarantees any shared substring of
    ``n + window - 1`` tokens yields a shared fingerprint — the local-match
    analog of whole-doc md5 (``exact_dedup``).

    Scale shape: hashing is map-side; the only shuffle is the per-doc window
    sort, partitioned by doc id (bounded by the longest single document, not
    the corpus). Output is ~|doc|/window fingerprint rows per doc.
    """
    from pyspark.sql import Window as W

    from mapreducemovieanalysis_cloud_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )

    # Deliberately NOT fan_out_underparallel'd (the minhash-family
    # rebalance): one truncated md5 per position is too light to pay
    # for the extra exchange — the round-13 interleaved A/B read
    # decontaminate_batch +0.50 s and decontamination_overlap_sweep
    # +0.23 WITH the rebalance (each pays TWO winnow passes), against
    # only -0.15 on the plain fingerprint_winnow surface.
    toked = docs.select(F.col(id_col), tokens(text_col).alias("__toks"))
    # max_pos is known before exploding (shingle count = tokens - n + 1), so
    # carry it as a scalar instead of re-deriving it with a second
    # unbounded max() window over the exploded rows — one window pass and
    # one sort-free stage cheaper, same rows out.
    sh = toked.select(
        F.col(id_col),
        (F.size("__toks") - F.lit(n)).alias("max_pos"),
        F.posexplode(shingles_from_tokens(F.col("__toks"), n)).alias(
            "pos", "shingle"
        ),
    )
    h = sh.select(
        id_col,
        "max_pos",
        "pos",
        F.substring(
            F.md5(F.encode(F.col("shingle"), "UTF-8")), 1, 8
        ).alias("h"),
    )
    roll_w = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    return (
        h.withColumn("wmin", F.min("h").over(roll_w))
        .where(F.col("pos") <= F.col("max_pos") - (window - 1))
        .select(F.col(id_col), F.col("wmin").alias("fp"))
        .distinct()
    )


def _seed_hash(seed: int, col: Column) -> Column:
    """Deterministic per-seed hash of a shingle: md5 over 'seed:shingle'.
    Min over the lexicographic order of hex strings is a valid MinHash
    permutation surrogate (any total order on the hash space works)."""
    return F.md5(F.encode(F.concat(F.lit(f"{seed}:"), col), "UTF-8"))


# Each md5 digest yields four independent 32-bit (8-hex-char) hash chunks, so
# k minhashes cost k/4 digests per shingle instead of k.
_CHUNKS_PER_MD5 = 4


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """k independent min-hashes per doc: one explode + one groupBy, k min()
    aggregates (map-side partial min keeps the shuffle tiny). Pass a
    (possibly cached) ``shingles`` frame to avoid re-tokenizing."""
    sh = (
        shingles
        if shingles is not None
        else shingle_sets(docs, n, id_col, text_col, fan_out=True)
    )
    n_digests = (num_hashes + _CHUNKS_PER_MD5 - 1) // _CHUNKS_PER_MD5
    # materialize each digest once per shingle row, then min() over its
    # 8-hex-char chunks — k/4 md5 evaluations instead of k
    with_digests = sh.select(
        F.col(id_col),
        *[
            _seed_hash(g, F.col("shingle")).alias(f"d{g}")
            for g in range(n_digests)
        ],
    )
    return with_digests.groupBy(id_col).agg(
        *[
            F.min(
                F.substring(
                    F.col(f"d{i // _CHUNKS_PER_MD5}"),
                    (i % _CHUNKS_PER_MD5) * 8 + 1,
                    8,
                )
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def banded_keys(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band_idx, band_key) rows — the exact banding scheme
    ``lsh_candidate_pairs`` joins on (rows/band = num_hashes/bands,
    band key = '|'-joined minhash chunks), exposed as its own frame so
    measurement surfaces (``lsh_band_collision_stats``) audit the
    production scheme by construction rather than a reimplementation."""
    rows = num_hashes // bands
    band_cols = F.array(
        *[
            F.concat_ws("|", *[F.col(f"h{b*rows+r}") for r in range(rows)])
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.posexplode(band_cols).alias("band_idx", "band_key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding: rows/band = num_hashes/bands; docs sharing any band key
    are candidates. Shuffle key is the (band_idx, band_key) pair — uniform by
    hash construction, no skew."""
    banded = banded_keys(signatures, num_hashes, bands, id_col)
    a = banded.select(F.col(id_col).alias("doc_a"), "band_idx", "band_key")
    b = banded.select(F.col(id_col).alias("doc_b"), "band_idx", "band_key")
    return (
        a.join(b, ["band_idx", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_candidate_jaccard(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, n_common, size_a, size_b, jaccard) for every LSH
    CANDIDATE pair, exact-verified but NOT thresholded —
    ``minhash_lsh_dedup``'s candidate-verify machinery factored out so
    measurement surfaces (``jaccard_threshold_sweep``) audit the
    shipped pipeline by construction rather than a reimplementation
    (the ``banded_keys`` rule; a private copy would silently
    desynchronize the calibration curve from the dedup it
    calibrates).  Integer columns are exact, so callers can derive
    floor-permille thresholds without touching the float."""
    # Re-read twice (signatures + verification join): lazy localCheckpoint
    # — the repo-wide pattern for multi-consumer intermediates since the
    # round-4 leak audit (persist() without a matching unpersist pins
    # storage for the app lifetime; checkpoint blocks are released when
    # the RDD is GC'd).
    sh = shingle_sets(docs, n, id_col, text_col, fan_out=True).localCheckpoint(
        eager=False
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    sigs = minhash_signatures(
        docs, n, num_hashes, id_col, text_col, shingles=sh
    )
    cands = lsh_candidate_pairs(sigs, num_hashes, bands, id_col)
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates from banding, verified
    with exact Jaccard (join back to shingle sets). Only candidate pairs pay
    the verification cost — the LSH recall/precision tradeoff is in
    (num_hashes, bands).  Exactly ``minhash_candidate_jaccard`` filtered
    to the threshold."""
    return (
        minhash_candidate_jaccard(
            docs, n, num_hashes, bands, id_col, text_col
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash16(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """16-bit SimHash per document from token md5s.

    Each token contributes ±1 per bit (bit set in its hash → +1 else −1);
    the signature bit is 1 iff the sum is positive (2·ones > n). The token
    hash value is the first 4 md5 hex digits parsed as an int — reproducible
    in any engine with md5 + string ops.
    """
    toks = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    hv = F.conv(F.substring(F.md5(F.encode(F.col("tok"), "UTF-8")), 1, 4), 16, 10).cast(
        "long"
    )
    with_bits = toks.select(
        F.col(id_col),
        *[
            F.shiftright(hv, j).bitwiseAND(F.lit(1)).alias(f"b{j}")
            for j in range(16)
        ],
    )
    agg = with_bits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"b{j}").alias(f"s{j}") for j in range(16)],
    )
    sig: Column = F.lit(0).cast("long")
    for j in range(16):
        sig = sig + F.when(F.col(f"s{j}") * 2 > F.col("n"), 1 << j).otherwise(0)
    return agg.select(F.col(id_col), sig.alias("simhash"))


_SIM64_BLOCKS = 4
_SIM64_BLOCK_BITS = 16


def simhash64_blocks(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document as four independent 16-bit blocks
    (b0..b3) — the Manku-et-al (WWW'07) layout for hamming-distance search.

    Block j's 16 token-hash bits come from md5 hex digits 4j+1..4j+4, so
    every bit is engine-reproducible string arithmetic. Keeping the
    signature as four 16-bit ints (rather than one 64-bit int) sidesteps
    signed-overflow in the top block and gives the pair join its blocking
    keys for free.
    """
    toks = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    md5c = F.md5(F.encode(F.col("tok"), "UTF-8"))
    chunks = [
        F.conv(F.substring(md5c, 4 * j + 1, 4), 16, 10).cast("long")
        for j in range(_SIM64_BLOCKS)
    ]
    with_bits = toks.select(
        F.col(id_col),
        *[
            F.shiftright(chunks[j], b).bitwiseAND(F.lit(1)).alias(f"s{j}_{b}")
            for j in range(_SIM64_BLOCKS)
            for b in range(_SIM64_BLOCK_BITS)
        ],
    )
    agg = with_bits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(f"s{j}_{b}").alias(f"s{j}_{b}")
            for j in range(_SIM64_BLOCKS)
            for b in range(_SIM64_BLOCK_BITS)
        ],
    )
    blocks = []
    for j in range(_SIM64_BLOCKS):
        blk: Column = F.lit(0).cast("long")
        for b in range(_SIM64_BLOCK_BITS):
            blk = blk + F.when(
                F.col(f"s{j}_{b}") * 2 > F.col("n"), 1 << b
            ).otherwise(0)
        blocks.append(blk.alias(f"b{j}"))
    return agg.select(F.col(id_col), *blocks)


def simhash_candidate_hamming(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, hamming) for every PIGEONHOLE CANDIDATE pair —
    docs whose 64-bit SimHash signatures agree on at least one of the
    four 16-bit blocks — with the exact hamming distance attached and
    no threshold applied.  This is ``simhash_pairs``' candidate
    generator factored out (the production pairs are exactly this
    frame filtered to hamming <= max_hamming), so measurement surfaces
    (``simhash_hamming_histogram``) audit the shipped blocking scheme
    by construction.  For hamming <= 3 the candidate set is provably
    complete (pigeonhole); at larger distances it is the observable
    population only."""
    sigs = simhash64_blocks(docs, id_col, text_col).localCheckpoint(
        eager=False
    )
    blocked = sigs.select(
        F.col(id_col),
        *[F.col(f"b{j}") for j in range(_SIM64_BLOCKS)],
        F.posexplode(
            F.array(*[F.col(f"b{j}") for j in range(_SIM64_BLOCKS)])
        ).alias("blk_idx", "blk_key"),
    )
    a = blocked.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"b{j}").alias(f"a{j}") for j in range(_SIM64_BLOCKS)],
        "blk_idx",
        "blk_key",
    )
    b = blocked.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"b{j}").alias(f"bb{j}") for j in range(_SIM64_BLOCKS)],
        "blk_idx",
        "blk_key",
    )
    hamming: Column = F.lit(0)
    for j in range(_SIM64_BLOCKS):
        hamming = hamming + F.bit_count(
            F.col(f"a{j}").bitwiseXOR(F.col(f"bb{j}"))
        )
    return (
        a.join(b, ["blk_idx", "blk_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            *[F.col(f"a{j}") for j in range(_SIM64_BLOCKS)],
            *[F.col(f"bb{j}") for j in range(_SIM64_BLOCKS)],
        )
        .distinct()
        .withColumn("hamming", hamming.cast("int"))
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash hamming distance (≤3), blocked on
    the four 16-bit signature blocks: ≤3 differing bits across 4 blocks
    leave at least one block identical (pigeonhole), so the blocked join
    finds exactly the brute-force result. Each block key has 2^16 values —
    expected bucket size n/65536, so the within-bucket self-join stays
    ~4·n²/65536 pairs instead of the n²/16 a 4-bit quarter scheme degrades
    to; at larger corpora, widen blocks (more tables) or add a second
    signature the way the MinHash path bands."""
    if max_hamming >= _SIM64_BLOCKS:
        raise ValueError(
            "pigeonhole blocking over 4 blocks only covers max_hamming <= 3"
        )
    return simhash_candidate_hamming(docs, id_col, text_col).where(
        F.col("hamming") <= max_hamming
    )


def decontaminate(
    batch: DataFrame,
    reference: DataFrame,
    n: int = 3,
    window: int = 4,
    min_shared: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination / incremental near-dup gate: score each
    batch document by how many of its winnowing fingerprints appear
    anywhere in ``reference``.

    The training-data use is dropping (or flagging) incoming documents
    that overlap a held-out benchmark or an already-ingested corpus —
    n-gram-overlap decontamination computed with winnowing's guarantee
    that any shared run of ``n + window - 1`` tokens yields a shared
    fingerprint.

    Scale shape: both sides reduce to (id, fp) / (fp) rows before anything
    joins — the reference side collapses to DISTINCT fingerprints (set
    semantics, a fraction of its text volume), the join partitions on fp,
    and per-doc scoring is a count aggregate. Nothing rescans text after
    the fingerprint stage, so a growing reference corpus costs its
    fingerprint-set size, not its byte size. Documents shorter than
    ``n`` tokens have no fingerprints and are absent from the output
    (they cannot overlap anything).

    Scoring is ONE left join + ONE aggregation: ``rfp`` is distinct, so
    the left join keeps every batch fingerprint row exactly once,
    ``count(__hit)`` is the shared count and ``count(1)`` the per-doc
    total — no second aggregation joined back on the doc id (round-14
    optimization, guide §2.4: it halves the batch-fingerprint subtree
    and drops a doc-id outer join).

    Behaviour change in that rewrite: a batch doc with a NULL id now
    gets its REAL shared count (and can be flagged ``contaminated``).
    The former doc-id join never matched a NULL key, so such docs were
    reported with ``n_shared`` forced to 0.  All NULL-id docs share the
    one NULL group, as in any group-by.
    """
    bfp = winnow_fingerprints(batch, n, window, id_col, text_col)
    rfp = (
        winnow_fingerprints(reference, n, window, id_col, text_col)
        .select("fp")
        .distinct()
    )
    hit = bfp.join(rfp.withColumn("__hit", F.lit(1)), "fp", "left")
    return (
        hit.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.count("__hit").alias("n_shared"),
        )
        .withColumn("contaminated", F.col("n_shared") >= min_shared)
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    survivors_path: str | None = None,
    batch_id: int | str | None = None,
):
    """Incremental exact dedup against a persistent fingerprint store.

    The 100 TB batch-ingest pattern: the historical corpus is NEVER
    rescanned — each arriving batch (a) dedups within itself (min-id
    survivor), (b) anti-joins the store's fingerprints to drop docs seen
    in ANY earlier batch, and (c) appends only its novel fingerprints to
    the store. Store I/O per batch is O(batch + store) parquet column
    reads of a 2-column table (fp, doc_id) — ~40 bytes/row — not the
    corpus text. Returns (survivors, store_df_after).

    Failure semantics: pass ``survivors_path`` so survivors are persisted
    BEFORE the store append. A crash between the two writes then means the
    next retry re-emits some survivors (at-least-once, dedupable by fp
    downstream) — never the reverse order, where a crash after the store
    append would mark the batch's documents as already-seen and silently
    drop them from survivor output forever. Callers that consume the
    returned ``novel`` DataFrame directly instead of passing
    ``survivors_path`` must durably persist it BEFORE calling this
    function again for the same data (e.g. not from a retried
    foreachBatch).

    ``batch_id`` upgrades at-least-once to EXACTLY-ONCE under retry:
    both writes land in per-epoch directories ``<path>/batch=<id>``
    via overwrite (the streaming/mv.py idempotent-delta layout), and the
    novelty anti-join reads the store EXCLUDING the current batch's
    partition — so a crashed prior attempt of the same batch (possibly a
    partial directory) can neither duplicate survivors nor mark its own
    documents as already-seen.  Streaming callers pass the foreachBatch
    epoch id.  The two layouts must not be mixed on one store path.

    For repeated high-rate ingest, write the store with
    ``writers.write_bucketed`` on fp so step (b) becomes a shuffle-free
    co-located join; a bloom filter over store fps cuts the probe further.
    """
    from mapreducemovieanalysis_cloud_spark.sources.writers import (
        read_epochs,
        write_epoch,
    )

    if batch_id is None:
        # the docstring's layouts-must-not-mix contract, enforced (the
        # mirror of dq._reject_flat_layout): a flat append into a store
        # previously written in epoch mode would drop part files beside
        # the batch= directories and break partition discovery for every
        # later read of the store
        import os

        for root in (store_path, survivors_path):
            if root and os.path.isdir(root) and any(
                e.startswith("batch=") for e in os.listdir(root)
            ):
                raise ValueError(
                    f"{root} holds an epoch (batch=) layout; a flat "
                    "append (batch_id=None) would mix layouts and break "
                    "partition discovery — pass a batch_id (or use a "
                    "fresh store path)"
                )
    spark = new_docs.sparkSession
    batch = (
        new_docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    from pyspark.errors import AnalysisException

    try:
        if batch_id is not None:
            # a crashed prior attempt of THIS batch must be invisible to
            # the novelty check (it would silently drop the batch's docs
            # forever); read_epochs compares the RAW partition string, so
            # ids like "007" round-trip instead of inferring to int 7
            store = read_epochs(
                spark, store_path, exclude_batch=batch_id
            )
        else:
            store = spark.read.parquet(store_path)
        have_store = True
    except AnalysisException:
        # first batch: no store yet. Other failures (corrupt files,
        # permissions) must propagate — treating them as "empty store"
        # would silently re-admit the whole history's duplicates.
        store = None
        have_store = False
    novel = (
        batch.join(store.select("fp"), "fp", "left_anti")
        if have_store
        else batch
    )
    # materialize before appending: the append must not re-run a plan that
    # reads the store it is writing to
    novel = novel.localCheckpoint(eager=True)
    if batch_id is not None:
        if survivors_path is not None:
            write_epoch(novel, survivors_path, batch_id)
        write_epoch(novel, store_path, batch_id)
    else:
        if survivors_path is not None:
            # survivors FIRST, store second (see failure semantics above)
            novel.write.mode("append").parquet(survivors_path)
        novel.write.mode("append").parquet(store_path)
    return novel, spark.read.parquet(store_path)


def duplicate_passages(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    topk: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicate-passage detection: every n-token sliding window that
    recurs across >= ``min_docs`` distinct documents (the passage-level
    dedup of Lee et al., "Deduplicating Training Data Makes Language Models
    Better" — windowed-hash formulation instead of a suffix array, which
    has no distributed-friendly construction).

    One scan explodes each doc into its (len - n + 1) windows; the groupBy
    keys on the 32-byte md5 of the window — never on raw text — so the
    shuffle is fingerprint-sized. The distinct-doc count is hand-rolled as
    two explicit aggregates ((fp, doc) partial-collapse, then fp rollup)
    rather than a ``countDistinct`` beside the other aggregates: the
    planner rewrites a mixed distinct/non-distinct aggregate through an
    Expand node that DUPLICATES every exploded row before the first
    shuffle (one stream per aggregate class), while the two-stage shape
    shuffles each window once and the second exchange carries one row per
    distinct (fp, doc). Output: the passage text (min over an md5 group is
    the passage itself), distinct-doc count, total occurrences, and the
    lowest containing doc id; ordered by occurrences desc with the passage
    string as the unique tie-break.

    Scale: rows exploded = total tokens (same order as any tokenize pass);
    at 100 TB pick n >= 32 so window cardinality approaches uniqueness and
    the having-filter drops ~everything before the top-k.
    """
    from mapreducemovieanalysis_cloud_spark.operators.skew import (
        fan_out_underparallel,
    )

    # Rebalance under-parallel scans (the minhash-family pattern): the
    # window build pays an 8-token slice+concat plus an md5 per
    # position, otherwise serialized on a single-row-group corpus file.
    toked = fan_out_underparallel(
        docs.select(F.col(id_col), tokens(text_col).alias("__t"))
    ).where(F.size("__t") >= n)
    wins = toked.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, n)),
            )
        ).alias("passage"),
    )
    per_doc = wins.groupBy(
        F.md5("passage").alias("__fp"), F.col(id_col)
    ).agg(
        F.count(F.lit(1)).alias("__k"),
        F.min("passage").alias("passage"),
    )
    return (
        per_doc.groupBy("__fp")
        .agg(
            F.min("passage").alias("passage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__k").alias("n_occurrences"),
            F.min(id_col).alias("first_doc"),
        )
        .where(F.col("n_docs") >= min_docs)
        .select("passage", "n_docs", "n_occurrences", "first_doc")
        .orderBy(F.col("n_occurrences").desc(), F.col("passage").asc())
        .limit(topk)
    )


def _containment_candidates(
    sh: DataFrame,
    sizes: DataFrame,
    t_num: int,
    t_den: int,
    id_col: str,
    max_df: int | None,
    join_on_hash: bool = False,
) -> DataFrame:
    """Directional candidate pairs for the containment detector.

    Canonical PPJoin ordering: ascending document frequency with an md5
    tiebreak.  The prefix then holds each doc's RAREST shingles, so the
    candidate join fans out on low-df postings — on skewed vocabularies
    this collapses candidate volume by orders of magnitude vs a random
    (md5-only) order, with identical output (any consistent total order
    is lossless; this one is just the cheapest to probe).  ``max_df``
    additionally drops prefix postings denser than the cap (recall-
    trading density guard — see ``containment_pairs``).

    PPJoin+ positional filter, adapted to asymmetric containment: both
    sides carry their shingle's rank under the SAME (df, md5) total
    order, and per surviving pair the first-match ranks (i, j) bound the
    overlap by min(|A| − i + 1, |B| − j + 1) — LOSSLESS in exact mode
    because per-doc rank order is the global order restricted to the
    doc, so any common shingle earlier in B is also earlier in A, hence
    an earlier prefix match (i is minimal — contradiction); no common
    shingle precedes either first-match position.  (Under ``max_df`` a
    pruned-from-prefix common shingle can precede j in B, so the bound
    can over-prune — consistent with the knob's documented
    recall-trading contract.)  Output carries |A| and the pair grain is
    the groupBy itself, replacing the old distinct at the same shuffle
    cost.

    ``join_on_hash=True`` keys the candidate join on xxhash64(shingle)
    instead of the shingle string — 8 bytes through the exchange and a
    long compare per probe (guide §2.3 "narrower types").  ONLY for
    callers that exact-verify the surviving pairs (containment_pairs\'
    array_intersect): equal shingles hash equal so no candidate is
    missed, and a collision can only ADD a pair (and only LOWER the
    first-match rank mins, which RAISES the positional bound — keeps
    strictly more).  The stats surface counts candidates with no
    verify, so it keeps the exact string join."""
    df_rank = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    rank_w = Window.partitionBy(id_col).orderBy(
        "__df", F.md5(F.col("shingle"))
    )
    ranked = (
        sh.join(df_rank, "shingle")
        .withColumn("rk", F.row_number().over(rank_w))
        .join(sizes, id_col)
    ).localCheckpoint(eager=False)
    prefix = ranked.where(
        F.col("rk")
        <= F.col("s")
        - F.expr(f"CAST((s * {t_num} + {t_den - 1}) div {t_den} AS BIGINT)")
        + 1
    )
    if max_df is not None:
        prefix = prefix.where(F.col("__df") <= max_df)
    jkey = (
        F.xxhash64("shingle").alias("__jk")
        if join_on_hash
        else F.col("shingle").alias("__jk")
    )
    prefix = prefix.select(
        F.col(id_col).alias("doc_a"),
        jkey,
        F.col("rk").alias("__ra"),
        "s",
    )
    bside = ranked.select(
        F.col(id_col).alias("doc_b"),
        jkey,
        F.col("rk").alias("__rb"),
        F.col("s").alias("__sb"),
    )
    return (
        prefix.join(bside, "__jk")
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("s").alias("s"),
            F.min("__ra").alias("__ra"),
            F.min("__rb").alias("__rb"),
            F.min("__sb").alias("__sb"),
        )
        .where(
            F.least(
                F.col("s") - F.col("__ra") + 1,
                F.col("__sb") - F.col("__rb") + 1,
            )
            * t_den
            >= F.lit(t_num) * F.col("s")
        )
        .select("doc_a", "doc_b", "s")
    )


def containment_candidate_stats(
    docs: DataFrame,
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """One-row candidate-density report for the containment detector:
    (n_docs, n_candidates, candidates_per_doc_micro) under the same
    prefix scheme (and optional ``max_df`` guard) ``containment_pairs``
    would use.

    This is the no-silent-caps measurement surface: run it BEFORE the
    detector on an unfamiliar corpus — candidates_per_doc growing with
    corpus size (rather than staying ~flat) is the dense-vocabulary
    signature, and the signal to set ``max_df`` or route to
    ``minhash_lsh_pairs`` instead of letting an exact n²-ish candidate
    join run at 100 TB."""
    sh = shingle_sets(docs, n, id_col, text_col).localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("s"))
    cands = _containment_candidates(sh, sizes, t_num, t_den, id_col, max_df)
    # GREATEST guard: an empty corpus has n_docs = 0 AND n_candidates
    # = 0, so density 0 is exact — without it ANSI mode raises
    # DIVIDE_BY_ZERO on an empty ingest batch (r08 empty-input sweep)
    return cands.agg(
        F.count(F.lit(1)).alias("n_candidates")
    ).crossJoin(
        F.broadcast(sizes.agg(F.count(F.lit(1)).alias("n_docs")))
    ).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.expr(
            "CAST(n_candidates * 1000000 div GREATEST(n_docs, 1)"
            " AS BIGINT)"
        ).alias("candidates_per_doc_micro"),
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: directional (doc_a, doc_b)
    with |A∩B|/|A| >= t_num/t_den — the doc-in-doc detector Jaccard
    misses (a paragraph fully quoted inside a much longer doc has high
    containment but low Jaccard, because the union is dominated by B).

    The threshold is a RATIONAL t_num/t_den and every gate is exact
    integer arithmetic: required overlap r = ceil(t·|A|) computed as
    (t_num·|A| + t_den − 1) div t_den; the candidate filter keeps only
    the probing side's prefix — under the global md5 shingle order, any
    r-subset of A must intersect A's first |A| − r + 1 shingles — joined
    against FULL postings of B (containment constrains only A's side, so
    B cannot be prefix-pruned; that asymmetry is what makes this cheaper
    than symmetric PPJoin on the A side and is lossless).  The final gate
    re-counts the exact intersection and keeps c·t_den >= t_num·|A|.

    Scale: postings join keyed on the shingle; candidate volume is
    prefix(A) × df(shingle), linear in genuinely-shared content.  The
    verify step joins the candidate PAIR list against one materialized
    sorted-md5 fingerprint array per doc and counts the exact
    intersection locally (array_intersect) — shuffle volume is
    O(candidates × avg doc fingerprint bytes), the same data volume as
    shuffling the docs themselves, with no exploded postings fan-out and
    no pair-keyed re-aggregation (the previous postings-rejoin verify
    shuffled candidates × |A| rows; measured 8.5 s → ~1 s at sf0.1).
    Output carries |A|, the overlap, and floor-permille containment.

    DENSITY GUARD (``max_df``): candidate volume is Σ over prefix
    shingles of df(shingle) — output-complexity-bound for an exact
    operator, but on a dense-vocabulary corpus (every doc's rarest
    shingles still common) it approaches n² before verify ever runs.
    ``max_df=K`` drops prefix postings whose document frequency exceeds
    K, capping candidates at ~prefix_len·K per doc.  This TRADES RECALL:
    a true pair is missed only when every prefix shingle A shares with B
    has df > K — exactly the dense regime; leave ``max_df=None``
    (default, exact) on normal corpora.  Measure density first with
    ``containment_candidate_stats`` (the no-silent-caps report), and
    when the corpus is genuinely dense route to the banded
    MinHash-LSH detector (``minhash_lsh_pairs``), whose cost is bounded
    by bands·rows rather than by document frequency.
    """
    sh = shingle_sets(docs, n, id_col, text_col).localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("s"))
    cands = _containment_candidates(
        sh, sizes, t_num, t_den, id_col, max_df, join_on_hash=True
    )
    # Exact-set verify: one sorted md5-fingerprint array per doc (md5 is
    # the repo-wide shingle fingerprint; 128 bits makes a collision that
    # changes an overlap count astronomically unlikely), candidate pairs
    # join their two arrays by doc id and count the intersection locally.
    doc_sets = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.md5("shingle"))).alias("__fps"),
        F.count(F.lit(1)).alias("s"),
    ).localCheckpoint(eager=False)
    # Candidates carry |A| from generation (free — the prefix filter
    # already joined sizes), so the b-side join attaches B's array AND
    # size in one pass and the overlap<=|B| gate (any B smaller than
    # ceil(t·|A|) cannot pass) fires BEFORE the second join — pruned
    # pairs never drag B's fingerprint array through the doc_a shuffle.
    out = (
        cands.join(
            doc_sets.select(
                F.col(id_col).alias("doc_b"),
                F.col("__fps").alias("__fb"),
                F.col("s").alias("__sb"),
            ),
            "doc_b",
        )
        .where(F.col("__sb") * t_den >= F.lit(t_num) * F.col("s"))
        .join(
            doc_sets.select(
                F.col(id_col).alias("doc_a"), F.col("__fps").alias("__fa")
            ),
            "doc_a",
        )
        .withColumn(
            "overlap", F.size(F.array_intersect("__fa", "__fb"))
        )
        .where(F.col("overlap") * t_den >= F.lit(t_num) * F.col("s"))
        .select(
            "doc_a",
            "doc_b",
            F.col("s").cast("long").alias("size_a"),
            F.col("overlap").cast("long").alias("overlap"),
            F.expr("CAST(overlap * 1000 div s AS BIGINT)").alias(
                "containment_permille"
            ),
        )
    )
    return out


# the store probe MUST band with the production scheme itself — a
# private copy would silently desynchronize within-batch candidates
# from the store probe if the banding ever changed (r06 advisor)
_banded = banded_keys


def incremental_minhash_dedup(
    new_docs: DataFrame,
    store_path: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    min_agree: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    survivors_path: str | None = None,
    batch_id: int | str | None = None,
):
    """Incremental NEAR-dup dedup against a persistent MinHash store —
    the fuzzy sibling of ``incremental_exact_dedup``: the historical
    corpus's TEXT is never rescanned; only its k-hash signatures
    (~num_hashes x 8 bytes/doc) persist, and each arriving batch pays
    O(batch) signature computation plus a band-bucketed join against
    the stored signature table.

    Per batch: (a) near-dup WITHIN the batch — LSH candidates verified
    with exact Jaccard on the batch's own shingles (text is in hand),
    closed into components, min-id survivor (the dedup_clusters rule);
    (b) each within-batch survivor is dropped if any STORED signature
    shares a band with it and agrees on >= ``min_agree`` of the
    ``num_hashes`` minhashes (the classical unbiased Jaccard estimate
    from signature agreement — exact verification is impossible without
    the historical text, and storing history shingle sets would be an
    O(corpus tokens) store; ``min_agree`` defaults to
    ``ceil(threshold * num_hashes)``, integer arithmetic end-to-end);
    (c) only SURVIVORS' signatures append to the store — dropped docs
    add no information.

    Failure semantics and layout are ``incremental_exact_dedup``'s
    verbatim: flat append (at-least-once; survivors-write-first) or
    ``batch_id`` epoch layout (exactly-once under retry via per-epoch
    overwrite + current-batch exclusion on read); the two layouts must
    not mix on one store path.

    Returns (survivors, store_df_after) where survivors carries
    (id_col, h0..h{k-1}) — the exact rows appended to the store.

    100 TB posture: banding keys are uniform by hash construction (no
    skew); the store probe moves (store band rows x batch band rows
    sharing a key), not the corpus; agreement counting touches only
    candidate pairs' 2k hash columns. For sustained ingest, bucket the
    store on band_key (``writers.write_bucketed``) to make the probe
    co-located, exactly as the exact store's fp-bucketing note."""
    import os

    from pyspark.errors import AnalysisException

    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        label_propagation_components,
    )
    from mapreducemovieanalysis_cloud_spark.sources.writers import (
        read_epochs,
        write_epoch,
    )

    if min_agree is None:
        min_agree = -(-int(threshold * num_hashes * 1000000) // 1000000)
    if batch_id is None:
        for root in (store_path, survivors_path):
            if root and os.path.isdir(root) and any(
                e.startswith("batch=") for e in os.listdir(root)
            ):
                raise ValueError(
                    f"{root} holds an epoch (batch=) layout; a flat "
                    "append (batch_id=None) would mix layouts and break "
                    "partition discovery — pass a batch_id (or use a "
                    "fresh store path)"
                )
    spark = new_docs.sparkSession

    # (a) within-batch near-dup: the minhash_lsh_dedup pipeline with the
    # signature table shared (computed ONCE, reused for banding, the
    # store probe, and the append)
    sh = shingle_sets(new_docs, n, id_col, text_col).localCheckpoint(
        eager=False
    )
    sigs = minhash_signatures(
        new_docs, n, num_hashes, id_col, text_col, shingles=sh
    ).localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(sigs, num_hashes, bands, id_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col(id_col).alias("doc_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("doc_b"), F.col("set_size").alias("size_b")
    )
    pairs = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
            >= threshold
        )
        .select("doc_a", "doc_b")
    )
    comps = label_propagation_components(
        new_docs.select(id_col),
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
        id_col=id_col,
    )
    within = comps.where(F.col(id_col) == F.col("component")).select(id_col)

    # (b) probe the stored signatures (excluding a crashed prior attempt
    # of THIS batch, exactly as the exact store's novelty read)
    try:
        if batch_id is not None:
            store = read_epochs(spark, store_path, exclude_batch=batch_id)
        else:
            store = spark.read.parquet(store_path)
        have_store = True
    except AnalysisException:
        store = None
        have_store = False
    surv_sigs = sigs.join(within, id_col)
    if have_store:
        store = store.select(
            F.col(id_col).alias("_sid"),
            *[F.col(f"h{i}").alias(f"_sh{i}") for i in range(num_hashes)],
        )
        cand_cross = (
            _banded(surv_sigs, num_hashes, bands, id_col)
            .join(
                _banded(
                    store.select(
                        F.col("_sid").alias(id_col),
                        *[
                            F.col(f"_sh{i}").alias(f"h{i}")
                            for i in range(num_hashes)
                        ],
                    ),
                    num_hashes,
                    bands,
                    id_col,
                ).select(
                    F.col(id_col).alias("_sid"), "band_idx", "band_key"
                ),
                ["band_idx", "band_key"],
            )
            .select(id_col, "_sid")
            .distinct()
        )
        agree = (
            cand_cross.join(surv_sigs, id_col)
            .join(store, "_sid")
            .select(
                id_col,
                sum(
                    [
                        F.when(
                            F.col(f"h{i}") == F.col(f"_sh{i}"), 1
                        ).otherwise(0)
                        for i in range(num_hashes)
                    ],
                    F.lit(0),
                ).alias("_agree"),
            )
        )
        dropped = (
            agree.where(F.col("_agree") >= min_agree)
            .select(id_col)
            .distinct()
        )
        surv_sigs = surv_sigs.join(dropped, id_col, "left_anti")

    # (c) persist survivors-first, then append their signatures
    surv_sigs = surv_sigs.localCheckpoint(eager=True)
    if batch_id is not None:
        if survivors_path is not None:
            write_epoch(surv_sigs, survivors_path, batch_id)
        write_epoch(surv_sigs, store_path, batch_id)
    else:
        if survivors_path is not None:
            surv_sigs.write.mode("append").parquet(survivors_path)
        surv_sigs.write.mode("append").parquet(store_path)
    return surv_sigs, spark.read.parquet(store_path)


def decontaminate_spans(
    batch: DataFrame,
    reference: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level decontamination: instead of the drop-the-whole-doc
    verdict ``decontaminate`` produces, locate the CONTAMINATED TOKEN
    SPANS (maximal runs covered by n-grams that appear anywhere in the
    reference) and report how much of each batch document survives —
    the GPT-3/PaLM-style n-gram scrub that keeps a mostly-clean
    document instead of discarding it for one quoted benchmark line.

    Per batch doc: (id, n_tokens, n_spans, n_contaminated_tokens,
    n_clean_tokens, clean_permille).  Docs shorter than ``n`` tokens
    have no n-grams, cannot be contaminated, and report fully clean.

    Semantics: position p is matched when the exact n-gram starting at
    p (0-based) occurs in the reference's DISTINCT n-gram set; matched
    positions p1 < p2 merge into one span when p2 <= p1 + n - 1
    (their token intervals [p, p+n-1] overlap or touch), and a span
    covering [first, last] contaminates last - first + n tokens.
    All-integer interval arithmetic — engine-exact.

    Scale: the reference collapses to DISTINCT n-grams before the join
    (set semantics, Heaps-sublinear in reference bytes); the join
    partitions on the gram; span merging is a per-DOC ordered window
    over matched positions only — bounded by the longest single
    document's match count, never corpus-wide (the winnowing window
    posture); the final verdict is one doc-keyed aggregate LEFT-joined
    back so clean documents still get a row.
    """
    from pyspark.sql import Window as W

    from mapreducemovieanalysis_cloud_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )

    btoked = batch.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).localCheckpoint(eager=False)
    sizes = btoked.select(
        F.col(id_col), F.size("__toks").alias("n_tokens")
    )
    bpos = btoked.select(
        F.col(id_col),
        F.posexplode(shingles_from_tokens(F.col("__toks"), n)).alias(
            "pos", "gram"
        ),
    )
    rtoked = reference.select(tokens(text_col).alias("__toks"))
    rgrams = rtoked.select(
        F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("gram")
    ).distinct()
    hits = bpos.join(rgrams, "gram").select(id_col, "pos")
    ord_w = W.partitionBy(id_col).orderBy("pos")
    spans = (
        hits.withColumn("__prev", F.lag("pos").over(ord_w))
        .withColumn(
            "__new_span",
            (
                F.col("__prev").isNull()
                | (F.col("pos") > F.col("__prev") + F.lit(n - 1))
            ).cast("long"),
        )
        .withColumn(
            "__span_id",
            F.sum("__new_span").over(
                W.partitionBy(id_col)
                .orderBy("pos")
                .rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "__span_id")
        .agg(
            (F.max("pos") - F.min("pos") + F.lit(n)).alias("__covered")
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("__covered").alias("n_contaminated_tokens"),
        )
    )
    return (
        sizes.join(spans, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_contaminated_tokens", F.lit(0))
            .cast("long")
            .alias("n_contaminated_tokens"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_spans",
            "n_contaminated_tokens",
            (F.col("n_tokens") - F.col("n_contaminated_tokens"))
            .cast("long")
            .alias("n_clean_tokens"),
            F.expr(
                "CAST((n_tokens - n_contaminated_tokens) * 1000"
                " DIV GREATEST(n_tokens, 1) AS BIGINT)"
            ).alias("clean_permille"),
        )
    )
