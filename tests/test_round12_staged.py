"""Parity + contracts for the round-12 wave (queries/round12_staged.py):
the driver-identical Spark-vs-DuckDB parity, the wave's registration
pin, plan hygiene, batch-split-invariance and retry-idempotence pins
for both new sketch stores, and an independent python replay of the FM
construction."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark import registry
from tests.oracle import assert_matches_oracle

ROUND12 = (
    "fm_audience_overlap",
    "incremental_distinct_users",
    "incremental_source_overlap",
    "masked_lm_dataset",
    "multimodal_frame_dedup",
    "span_corruption_dataset",
    "stored_graph_triangles",
)


@pytest.mark.parametrize("name", ROUND12)
def test_staged_matches_oracle(spark, oracle_sf_dir, name):
    assert_matches_oracle(
        registry.queries()[name](spark, oracle_sf_dir),
        registry.oracle_sql()[name],
        oracle_sf_dir,
    )


def test_staged_are_registered():
    """ROUND12 is exactly the set of queries round12_staged registers, each
    with an oracle: a query added to the module without a parity entry
    above, or a name above that no longer registers, fails here."""
    mod = "mapreducemovieanalysis_cloud_spark.queries.round12_staged"
    live = {
        name for name, fn in registry.queries().items()
        if fn.__module__ == mod
    }
    assert live == set(ROUND12)
    assert live <= set(registry.oracle_sql())


def test_staged_oracles_are_the_registered_truths():
    """Two of the three candidates claim "same oracle as the registered
    query, VERBATIM" — pin the strings byte-identical so the claim
    cannot drift."""
    live = registry.oracle_sql()
    assert (
        live["stored_graph_triangles"] == live["triangle_counts_suppliers"]
    )
    assert (
        live["incremental_source_overlap"] == live["source_overlap_bottomk"]
    )


def test_staged_plan_hygiene(executed_plan):
    """No CartesianProduct ever; BroadcastNestedLoopJoin only for the
    deliberate bounded broadcasts listed here."""
    BNLJ_BY_DESIGN = {
        # 16-row register table broadcast onto the id stream (the
        # anf_reach_suppliers whitelist justification)
        "incremental_distinct_users",
    }
    offenders_cart, offenders_bnlj = [], []
    for name in ROUND12:
        plan = executed_plan(name)
        if "CartesianProduct" in plan:
            offenders_cart.append(name)
        if (
            "BroadcastNestedLoopJoin" in plan
            and name not in BNLJ_BY_DESIGN
        ):
            offenders_bnlj.append(name)
    assert not offenders_cart, offenders_cart
    assert not offenders_bnlj, offenders_bnlj


# ---- FM distinct store ----------------------------------------------------------


def _fm_python(ids, registers=16, cap=20, salt="fmd"):
    b_sum = 0
    for r in range(registers):
        m = 0
        for u in ids:
            h = int(
                hashlib.md5(f"{salt}:{r}:{u}".encode()).hexdigest()[:8],
                16,
            )
            tz = (h & -h).bit_length() - 1 if h else cap
            m |= 1 << min(tz, cap)
        b = 0
        while m & (1 << b):
            b += 1
        b_sum += b
    est = round(2 ** (b_sum / registers) / 0.77351 * 1000)
    return b_sum, est


def test_fm_matches_bruteforce_python(spark):
    """Exact replay of the md5 seeding, OR merge, and lowest-unset-bit
    estimate — register sums and milli estimates agree exactly, and
    duplicate ids change nothing (idempotence of OR)."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches

    rows = [("a", i % 7) for i in range(100)] + [
        ("b", i) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, uid long")
    got = {
        r.g: (r.b_sum, r.est_distinct_milli)
        for r in sketches.fm_estimate(
            sketches.fm_register_masks(df, ["g"], "uid"), ["g"]
        ).collect()
    }
    assert got["a"] == _fm_python(set(i % 7 for i in range(100)))
    assert got["b"] == _fm_python(set(range(50)))


def test_fm_store_batch_split_invariance(spark, tmp_path):
    """One batch, two row-split batches, and the direct (storeless)
    computation must produce identical register sums — OR merge is
    associative and idempotent, and a row-level split (ids straddling
    batches) is explicitly safe."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches

    rows = [("t0", i % 13) for i in range(60)] + [
        ("t1", i % 29) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "g string, uid long")
    df = df.withColumn("row_id", F.monotonically_increasing_id())

    def build(store, preds):
        for i, p in enumerate(preds):
            sketches.incremental_fm_append(
                df.where(p), store, f"b{i}",
                group_cols=["g"], id_col="uid",
            )
        return sorted(
            map(
                tuple,
                sketches.incremental_fm_distinct(
                    spark, store, group_cols=["g"]
                ).collect(),
            )
        )

    one = build(str(tmp_path / "one"), [F.lit(True)])
    two = build(
        str(tmp_path / "two"),
        [F.col("uid") % 2 == 0, F.col("uid") % 2 == 1],
    )
    direct = sorted(
        map(
            tuple,
            sketches.fm_estimate(
                sketches.fm_register_masks(df, ["g"], "uid"), ["g"]
            ).collect(),
        )
    )
    assert one == two == direct
    assert one  # non-vacuous


def test_fm_store_retry_idempotence(spark, tmp_path):
    """A retried batch append overwrites its own epoch; OR-merging the
    same masks again changes nothing."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches

    df = spark.createDataFrame(
        [("t", i) for i in range(20)], "g string, uid long"
    )
    store = str(tmp_path / "s")
    sketches.incremental_fm_append(
        df, store, "b0", group_cols=["g"], id_col="uid"
    )
    once = sketches.incremental_fm_distinct(
        spark, store, group_cols=["g"]
    ).collect()
    sketches.incremental_fm_append(
        df, store, "b0", group_cols=["g"], id_col="uid"
    )
    twice = sketches.incremental_fm_distinct(
        spark, store, group_cols=["g"]
    ).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))


# ---- KMV store ------------------------------------------------------------------


def test_kmv_store_batch_split_invariance(spark, tmp_path):
    """Merged batch sketches must equal the full-corpus sketch exactly
    (BK(A ∪ B) = BK(BK(A) ∪ BK(B))) — including when a shingle appears
    in BOTH batches (the distinct-at-merge rule)."""
    from mapreducemovieanalysis_cloud_spark.operators import (
        corpus_overlap,
    )

    words = [f"w{i}" for i in range(40)]
    # two sources, overlapping text; docs share shingles across batches
    rows = []
    for d in range(8):
        text = " ".join(words[d : d + 20])
        rows.append((d, "s0" if d < 4 else "s1", text))
        # a duplicated doc in the other parity class: same shingles in
        # both batches
        rows.append((d + 100, "s0" if d < 4 else "s1", text))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )

    def build(store, preds):
        for i, p in enumerate(preds):
            corpus_overlap.incremental_kmv_append(
                docs.where(p), store, f"b{i}", group_col="source",
                n=3, k=16,
            )
        return sorted(
            map(
                tuple,
                corpus_overlap.incremental_kmv_sketches(
                    spark, store, k=16
                ).collect(),
            )
        )

    one = build(str(tmp_path / "one"), [F.lit(True)])
    two = build(
        str(tmp_path / "two"),
        [F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1],
    )
    direct = sorted(
        map(
            tuple,
            corpus_overlap.bottomk_sketches(
                docs, "source", "text", n=3, k=16
            ).collect(),
        )
    )
    assert one == two == direct
    assert one  # non-vacuous


def test_kmv_store_overlap_consumer(spark, tmp_path):
    """The estimator over merged stored sketches equals the registered
    kernel over from-scratch sketches — and a planted full-duplicate
    source pair estimates jaccard 1.0 exactly."""
    from mapreducemovieanalysis_cloud_spark.operators import (
        corpus_overlap,
    )

    words = [f"w{i}" for i in range(30)]
    text = " ".join(words)
    docs = spark.createDataFrame(
        [(0, "a", text), (1, "b", text)],
        "doc_id long, source string, text string",
    )
    store = str(tmp_path / "s")
    corpus_overlap.incremental_kmv_append(
        docs.where(F.col("doc_id") == 0), store, "b0",
        group_col="source", n=3, k=16,
    )
    corpus_overlap.incremental_kmv_append(
        docs.where(F.col("doc_id") == 1), store, "b1",
        group_col="source", n=3, k=16,
    )
    sk = corpus_overlap.incremental_kmv_sketches(spark, store, k=16)
    [r] = corpus_overlap.pairwise_overlap(
        None, k=16, sketches=sk
    ).collect()
    assert (r.source_a, r.source_b) == ("a", "b")
    assert r.n_both == r.n_union_used  # identical shingle sets
    assert r.jaccard_est_micro == 1_000_000


def test_fm_pairwise_overlap_algebra(spark):
    """Identical audiences: union mask == each group's mask, so all
    three register sums coincide and the intersection estimate equals
    the per-group estimate.  Disjoint audiences: the union estimate
    strictly exceeds each side (more bits set => more low bits
    occupied, b_sum can only grow under OR)."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches

    same = spark.createDataFrame(
        [(g, i) for g in ("x", "y") for i in range(40)],
        "g string, uid long",
    )
    masks = sketches.fm_register_masks(same, ["g"], "uid")
    [r] = sketches.fm_pairwise_overlap(masks, "g").collect()
    assert r.b_sum_a == r.b_sum_b == r.b_sum_union
    assert r.inter_est_milli == r.est_a_milli

    disj = spark.createDataFrame(
        [("x", i) for i in range(40)] + [("y", i + 1000) for i in range(40)],
        "g string, uid long",
    )
    masks2 = sketches.fm_register_masks(disj, ["g"], "uid")
    [r2] = sketches.fm_pairwise_overlap(masks2, "g").collect()
    assert r2.b_sum_union >= max(r2.b_sum_a, r2.b_sum_b)
    assert r2.est_union_milli > max(r2.est_a_milli, r2.est_b_milli)


def test_fm_streaming_sink_matches_batch(spark, tmp_path):
    """The streaming appender (streaming/fm.fm_distinct_sink) must leave
    the store in a state whose merged estimate equals a one-shot batch
    computation over the same rows — after the first micro-batch AND
    after a late second file arrives (OR-merge makes any micro-batch
    partitioning equivalent)."""
    from mapreducemovieanalysis_cloud_spark.operators import sketches
    from mapreducemovieanalysis_cloud_spark.streaming import fm

    rows1 = [("t0", i) for i in range(30)] + [("t1", i % 5) for i in range(20)]
    rows2 = [("t0", i + 15) for i in range(30)] + [("t1", 99)]
    schema = "g string, uid long"
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    src = tmp_path / "src"
    b1.write.parquet(str(src / "f1"))

    store = str(tmp_path / "store")
    stream = spark.readStream.schema(b1.schema).parquet(str(src / "*"))
    q = fm.fm_distinct_sink(
        stream, store, group_cols=["g"], id_col="uid",
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        got1 = sorted(
            map(tuple, sketches.incremental_fm_distinct(
                spark, store, group_cols=["g"]).collect())
        )
        want1 = sorted(
            map(tuple, sketches.fm_estimate(
                sketches.fm_register_masks(b1, ["g"], "uid"), ["g"]
            ).collect())
        )
        assert got1 == want1
        b2.write.parquet(str(src / "f2"))
        q.processAllAvailable()
        got2 = sorted(
            map(tuple, sketches.incremental_fm_distinct(
                spark, store, group_cols=["g"]).collect())
        )
        want2 = sorted(
            map(tuple, sketches.fm_estimate(
                sketches.fm_register_masks(
                    b1.unionByName(b2), ["g"], "uid"), ["g"]
            ).collect())
        )
        assert got2 == want2
        assert got1 != got2  # the late file actually moved the estimate
    finally:
        q.stop()


def test_masked_lm_planted_consistency(spark, tmp_path):
    """On a planted corpus: input/label columns are complementary
    (input == MASK_ID exactly where label != IGNORE_LABEL), unmasked
    inputs equal the plain tokenize encoding, masked labels carry the
    original id, and the mask set matches an exact python replay of the
    md5 draw."""
    import hashlib as _h

    from mapreducemovieanalysis_cloud_spark.operators.curation import (
        IGNORE_LABEL,
        MASK_ID,
        MASK_THRESHOLD_U32,
        masked_lm_dataset,
        tokenize_with_vocab,
    )

    words = ["alpha", "beta", "gamma", "delta"]
    rows = [
        (d, " ".join(words[(d + i) % 4] for i in range(50)))
        for d in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in masked_lm_dataset(docs, 4).collect()}
    plain = {
        r.doc_id: r.ids_csv.split(",")
        for r in tokenize_with_vocab(docs, 4).collect()
    }
    n_masked_total = 0
    for d, r in got.items():
        ins = r.input_ids_csv.split(",")
        labs = r.labels_csv.split(",")
        assert len(ins) == len(labs) == r.n_tokens == 50
        for i, (x, y, orig) in enumerate(zip(ins, labs, plain[d]), 1):
            draw = int(
                _h.md5(f"mask:{d}:{i}".encode()).hexdigest()[:8], 16
            )
            masked = draw < MASK_THRESHOLD_U32
            if masked:
                assert x == str(MASK_ID) and y == orig
                n_masked_total += 1
            else:
                assert x == orig and y == str(IGNORE_LABEL)
        assert r.n_masked == sum(
            1
            for i in range(1, 51)
            if int(_h.md5(f"mask:{d}:{i}".encode()).hexdigest()[:8], 16)
            < MASK_THRESHOLD_U32
        )
    assert n_masked_total > 0  # the 15% draw actually fires


def test_frame_dedup_planted_relationships(spark):
    """Planted relationships: an exact copy shares every frame
    (containment 10000 with nf_a == nf_b == n_shared); a clip (the
    first half of a longer asset, frame-aligned) is fully contained
    (10000 with n_shared == its own frame count); unrelated payloads
    share nothing (pair absent)."""
    from mapreducemovieanalysis_cloud_spark.operators.multimodal import (
        documents_as_media,
        frame_dedup_pairs,
    )
    from pyspark.sql import functions as F2

    base = "".join(chr(ord("a") + (i % 26)) for i in range(256))
    rows = [
        (0, base, "en", "s", 1),
        (1, base, "en", "s", 1),          # exact copy
        (2, base[:128], "en", "s", 1),    # frame-aligned clip
        (3, "Z" * 256, "en", "s", 1),     # unrelated
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = {
        (r.media_a, r.media_b): r
        for r in frame_dedup_pairs(
            documents_as_media(docs.where(F2.length("text") > 0))
        ).collect()
    }
    copy = got[(0, 1)]
    assert copy.containment_bp == 10000
    assert copy.nf_a == copy.nf_b == copy.n_shared == 4  # 256/64 frames
    clip_pairs = [got[(0, 2)], got[(1, 2)]]
    for c in clip_pairs:
        assert c.containment_bp == 10000
        assert c.n_shared == 2 and c.nf_b == 2  # 128/64 frames
    assert all(3 not in k for k in got)


def test_span_corruption_matches_bruteforce_python(spark, tmp_path):
    """Exact python replay of the draw, coverage, span merge, sentinel
    numbering, and both output sequences on a planted corpus — plus
    structural invariants: sentinels strictly descend from -200, and a
    doc's tokens partition exactly into kept-inputs + corrupted."""
    import hashlib as _h

    from mapreducemovieanalysis_cloud_spark.operators.curation import (
        SENTINEL_BASE,
        SPAN_LEN,
        SPAN_START_THRESHOLD_U32,
        span_corruption_dataset,
        tokenize_with_vocab,
    )

    words = ["alpha", "beta", "gamma", "delta"]
    rows = [
        (d, " ".join(words[(d + i) % 4] for i in range(60)))
        for d in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in span_corruption_dataset(docs, 4).collect()}
    plain = {
        r.doc_id: [int(x) for x in r.ids_csv.split(",")]
        for r in tokenize_with_vocab(docs, 4).collect()
    }

    def fired(d, p):
        if p < 1:
            return False
        h = int(_h.md5(f"span:{d}:{p}".encode()).hexdigest()[:8], 16)
        return h < SPAN_START_THRESHOLD_U32

    for d, ids in plain.items():
        n = len(ids)
        cov = [
            any(fired(d, i - o) for o in range(SPAN_LEN))
            for i in range(1, n + 1)
        ]
        inp, tgt, k = [], [], -1
        for i in range(n):
            if cov[i] and (i == 0 or not cov[i - 1]):
                k += 1
                inp.append(SENTINEL_BASE - k)
                tgt.extend([SENTINEL_BASE - k, ids[i]])
            elif cov[i]:
                tgt.append(ids[i])
            else:
                inp.append(ids[i])
        r = got[d]
        assert r.input_ids_csv == ",".join(map(str, inp))
        assert r.targets_csv == ",".join(map(str, tgt))
        assert r.n_tokens == n
        assert r.n_spans == k + 1
        assert r.n_corrupted == sum(cov)
        # structural: token count conservation
        n_kept = len([x for x in inp if x >= -1])
        assert n_kept + r.n_corrupted == n


def test_span_corruption_uncorrupted_doc_roundtrips(spark):
    """A doc none of whose positions fire keeps its exact tokenize
    encoding as input and an EMPTY target (not NULL — pinned against
    the oracle's COALESCE)."""
    import hashlib as _h

    from mapreducemovieanalysis_cloud_spark.operators.curation import (
        SPAN_START_THRESHOLD_U32,
        span_corruption_dataset,
        tokenize_with_vocab,
    )

    def fired(d, p):
        h = int(_h.md5(f"span:{d}:{p}".encode()).hexdigest()[:8], 16)
        return h < SPAN_START_THRESHOLD_U32

    # find a doc id none of whose first 8 positions fire
    d = next(
        x for x in range(1000)
        if not any(fired(x, p) for p in range(1, 9))
    )
    docs = spark.createDataFrame(
        [(d, "a b c d e f g h")], "doc_id long, text string"
    )
    [r] = span_corruption_dataset(docs, 8).collect()
    [p] = tokenize_with_vocab(docs, 8).collect()
    assert r.input_ids_csv == p.ids_csv
    assert r.targets_csv == ""
    assert r.n_spans == 0 and r.n_corrupted == 0
