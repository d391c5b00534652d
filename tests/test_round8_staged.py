"""Parity + contracts for the round-8 wave (queries/round8_staged.py):
the exact Spark-vs-DuckDB comparison the driver runs, the wave's
registration pin, plan hygiene, and behavioral checks of each
measurement's semantics on planted corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark import registry
from tests.oracle import assert_matches_oracle

ROUND8 = (
    "ann_recall_pq",
    "containment_threshold_sweep",
    "cosine_threshold_sweep",
    "decontamination_overlap_sweep",
    "jaccard_threshold_sweep",
    "ngram_novelty_curve",
    "quality_nb_scores",
    "simhash_hamming_histogram",
)


@pytest.mark.parametrize("name", ROUND8)
def test_staged_matches_oracle(spark, oracle_sf_dir, name):
    assert_matches_oracle(
        registry.queries()[name](spark, oracle_sf_dir),
        registry.oracle_sql()[name],
        oracle_sf_dir,
    )


def test_staged_are_registered():
    """ROUND8 is exactly the set of queries round8_staged registers, each
    with an oracle: a query added to the module without a parity entry
    above, or a name above that no longer registers, fails here."""
    mod = "mapreducemovieanalysis_cloud_spark.queries.round8_staged"
    live = {
        name for name, fn in registry.queries().items()
        if fn.__module__ == mod
    }
    assert live == set(ROUND8)
    assert live <= set(registry.oracle_sql())


def test_staged_plan_hygiene(executed_plan):
    """Same gate as the registry-wide sweep: no CartesianProduct ever;
    BroadcastNestedLoopJoin only for deliberate 1-row/bounded
    broadcasts listed here."""
    BNLJ_BY_DESIGN = {
        # 1-row vocab-size scalar + n_sources-row base-term broadcasts
        # into the smoothing terms (the ngram_lm_scores justification)
        "quality_nb_scores",
        # broadcast query-sample x corpus scoring for the exact-L2
        # ground truth (the ann_bruteforce whitelist justification)
        "ann_recall_pq",
    }
    offenders_cart, offenders_bnlj = [], []
    for name in ROUND8:
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


def test_novelty_curve_planted_order(spark, tmp_path):
    """First doc is 100% novel; an exact copy later is 0% novel; a doc
    sharing half its shingles with earlier material scores between."""
    from mapreducemovieanalysis_cloud_spark.queries.round8_staged import (
        ngram_novelty_curve,
    )

    d0 = "alpha beta gamma delta epsilon zeta eta theta"  # 6 shingles
    # shares its first half of shingles with d0, introduces new ones
    d1 = "alpha beta gamma delta omega psi chi phi"
    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, d0), (2, d1), (3, d0)], "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")

    rows = {r.doc_id: r for r in ngram_novelty_curve(spark, sf).collect()}
    assert rows[1].novelty_bp == 10000
    assert rows[3].novelty_bp == 0 and rows[3].n_novel == 0
    assert 0 < rows[2].novelty_bp < 10000
    # mass conservation: every shingle's first occurrence is counted
    # exactly once across docs
    assert sum(r.n_novel for r in rows.values()) == len(
        {
            " ".join(ws[i : i + 3])
            for ws in (d0.split(), d1.split())
            for i in range(len(ws) - 2)
        }
    )


def test_threshold_sweep_buckets_bound_the_dedup(spark, oracle_sf_dir):
    """The sweep's cumulative count at the 500-permille bucket must
    equal-or-exceed the registered dedup's accepted pairs at
    threshold 0.5 (the sweep counts >=500-permille pairs in integer
    floor arithmetic; the dedup accepts jaccard >= 0.5 in float —
    floor-permille >= 500 implies jaccard >= 0.5 and vice versa), and
    every bucket is within [0, 900]."""
    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        minhash_lsh_dedup,
    )
    from mapreducemovieanalysis_cloud_spark.queries.round8_staged import (
        jaccard_threshold_sweep,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    sweep = jaccard_threshold_sweep(spark, oracle_sf_dir).collect()
    assert all(0 <= r.bucket_lo_permille <= 900 for r in sweep)
    # reverse-cumulative is internally consistent
    by_bucket = sorted(sweep, key=lambda r: -r.bucket_lo_permille)
    run = 0
    for r in by_bucket:
        run += r.n_pairs
        assert r.n_pairs_ge == run
    at_500 = sum(
        r.n_pairs for r in sweep if r.bucket_lo_permille >= 500
    )
    docs = load_table(spark, oracle_sf_dir, "documents")
    accepted = minhash_lsh_dedup(
        docs, n=3, num_hashes=16, bands=4, threshold=0.5
    ).count()
    assert at_500 == accepted


def test_nb_scores_separate_planted_vocabularies(spark, tmp_path):
    """Two sources with disjoint vocabularies must classify perfectly;
    a doc written in the OTHER source's vocabulary must be attributed
    to that other source (correct = 0) — the quality-filter semantics
    the classifier exists for."""
    from mapreducemovieanalysis_cloud_spark.queries.round8_staged import (
        quality_nb_scores,
    )

    a_docs = [
        (i, f"apple banana cherry date elder fig grape kiwi w{i}", "fruit")
        for i in range(8)
    ]
    b_docs = [
        (
            20 + i,
            f"iron copper zinc nickel cobalt tin lead silver m{i}",
            "metal",
        )
        for i in range(8)
    ]
    # labeled 'fruit' but written in metal vocabulary
    turncoat = (40, "iron copper zinc nickel cobalt tin lead", "fruit")
    sf = str(tmp_path)
    spark.createDataFrame(
        a_docs + b_docs + [turncoat],
        "doc_id long, text string, source string",
    ).write.parquet(f"{sf}/documents.parquet")

    rows = {r.doc_id: r for r in quality_nb_scores(spark, sf).collect()}
    assert len(rows) == 17
    for i in range(8):
        assert rows[i].pred_source == "fruit" and rows[i].correct == 1
        assert rows[20 + i].pred_source == "metal"
    t = rows[40]
    assert t.pred_source == "metal" and t.correct == 0
    # own-class score is strictly below the predicted class's score
    assert t.score_own_micro < t.score_pred_micro
    # and the prediction bit is consistent with the scores everywhere
    for r in rows.values():
        assert (r.score_own_micro == r.score_pred_micro) == (r.correct == 1)


def test_novelty_matches_bruteforce_property(spark, tmp_path):
    """Exact-integer brute force over adversarial corpora: repeated
    docs, shared prefixes, sub-3-token docs (which must be absent from
    the output), duplicate shingles within a doc."""
    corpora = [
        ["a b c d", "a b c d", "a b c d e"],
        ["x y", "x y z", "z y x w v"],
        ["p q r p q r p q r", "q r p"],
    ]
    from mapreducemovieanalysis_cloud_spark.queries.round8_staged import (
        ngram_novelty_curve,
    )

    for ci, texts in enumerate(corpora):
        sf = str(tmp_path / f"c{ci}")
        spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        ).write.parquet(f"{sf}/documents.parquet")
        got = {
            r.doc_id: (r.n_shingles, r.n_novel, r.novelty_bp)
            for r in ngram_novelty_curve(spark, sf).collect()
        }
        seen: set = set()
        want = {}
        for did, text in enumerate(texts):
            ws = text.split()
            sh = {
                " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
            }
            if not sh:
                continue
            novel = len(sh - seen)
            seen |= sh
            want[did] = (len(sh), novel, novel * 10000 // len(sh))
        assert got == want


def test_nb_scores_match_bruteforce_python(spark, tmp_path):
    """Independent reimplementation (python floats, same add-1 formula,
    same quantize-the-term-then-sum-exactly shape) must agree with the
    distributed NB within +/-1 micro PER TOKEN TERM on every
    (doc, own/pred) score — the quantization makes each score
    summation-order-invariant, but a replay on a different libm
    (JVM Math.log vs C log, 1 ulp) or rounding mode (Spark HALF_UP vs
    Python banker's at an exact .5-micro boundary) can shift a rounded
    term by one micro, scaled by the token's count (r09 advisor item:
    exactness here would convert that vanishingly-rare divergence into
    a spurious failure).  pred_source is asserted whenever the
    brute-force margin exceeds twice the bound — i.e. whenever the
    argmax is provably stable — which on this fixture is every doc; a
    formula error still trips the tolerance by orders of magnitude."""
    import math

    from mapreducemovieanalysis_cloud_spark.queries.round8_staged import (
        quality_nb_scores,
    )

    docs = [
        (0, "red red green blue", "paint"),
        (1, "green blue blue cyan", "paint"),
        (2, "loam silt clay sand", "soil"),
        (3, "clay sand sand loam red", "soil"),
        (4, "red green blue clay", "paint"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    ).write.parquet(f"{sf}/documents.parquet")
    got = {r.doc_id: r for r in quality_nb_scores(spark, sf).collect()}

    # brute force
    from collections import Counter, defaultdict

    cls: dict = defaultdict(Counter)
    for _, text, src in docs:
        cls[src].update(text.split())
    vocab = {w for c in cls.values() for w in c}
    v = len(vocab)
    tot = {s: sum(c.values()) for s, c in cls.items()}

    def score(text: str, s: str) -> int:
        lp = 0
        for w, n in Counter(text.split()).items():
            lp += n * round(
                math.log((cls[s][w] + 1.0) / (tot[s] + v)) * 1_000_000
            )
        return lp

    for did, text, src in docs:
        scores = {s: score(text, s) for s in cls}
        pred = min(scores, key=lambda s: (-scores[s], s))
        r = got[did]
        # +/-1 micro per rounded term, scaled by the token's count:
        # the doc-level bound is its total token count (matched terms
        # and the absent-token lp0 mass partition exactly that total)
        tol = len(text.split())
        assert abs(r.score_own_micro - scores[src]) <= tol
        assert abs(r.score_pred_micro - scores[pred]) <= tol
        ranked = sorted(scores.values(), reverse=True)
        # fixture strength: every doc's margin must clear the bound so
        # the argmax assertion actually fires for all rows (a fixture
        # edit that shrank a margin would void the check silently)
        assert ranked[0] - ranked[1] > 2 * tol
        assert r.pred_source == pred


def test_cosine_sweep_buckets_bound_the_dedup(spark, oracle_sf_dir):
    """The sweep's pairs at or above the 400-permille bucket must cover
    the registered dedup's accepted pairs at threshold 0.4 (bucket
    floor-400 admits cosines in [0.4, 0.5), so >= is coverage, not
    equality), the cumulative column must be internally consistent, and
    buckets stay within the [-1000, 900] domain."""
    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        cosine_dup_pairs,
    )
    from mapreducemovieanalysis_cloud_spark.queries.round8_staged import (
        cosine_threshold_sweep,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    sweep = cosine_threshold_sweep(spark, oracle_sf_dir).collect()
    assert all(-1000 <= r.bucket_lo_permille <= 900 for r in sweep)
    by_bucket = sorted(sweep, key=lambda r: -r.bucket_lo_permille)
    run = 0
    for r in by_bucket:
        run += r.n_pairs
        assert r.n_pairs_ge == run
    at_400 = sum(r.n_pairs for r in sweep if r.bucket_lo_permille >= 400)
    emb = load_table(spark, oracle_sf_dir, "embeddings")
    accepted = cosine_dup_pairs(
        emb, threshold=0.4, num_planes=6, num_bands=3
    ).count()
    assert at_400 >= accepted
    # and the bucket strictly below 400 exists or accepted == at_400
    assert run >= accepted


def test_hamming_histogram_low_buckets_exact(spark, oracle_sf_dir):
    """Buckets 0..3 must match the registered dedup's per-distance pair
    counts exactly (pigeonhole completeness), and the ascending
    cumulative must be internally consistent."""
    from collections import Counter

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        simhash_pairs,
    )
    from mapreducemovieanalysis_cloud_spark.queries.round8_staged import (
        simhash_hamming_histogram,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    hist = simhash_hamming_histogram(spark, oracle_sf_dir).collect()
    run = 0
    for r in sorted(hist, key=lambda r: r.hamming):
        run += r.n_pairs
        assert r.n_pairs_le == run
    docs = load_table(spark, oracle_sf_dir, "documents")
    exact = Counter(
        r.hamming for r in simhash_pairs(docs, max_hamming=3).collect()
    )
    got_low = {r.hamming: r.n_pairs for r in hist if r.hamming <= 3}
    assert got_low == {h: n for h, n in exact.items()}


def test_containment_sweep_totals_match_detector(spark, oracle_sf_dir):
    """The sweep's grand total equals the registered detector's pair
    count (it is that output histogrammed), the cumulative column is
    consistent, and every bucket sits in the exact [500, 1000]
    operating range."""
    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        containment_pairs,
    )
    from mapreducemovieanalysis_cloud_spark.queries.round8_staged import (
        containment_threshold_sweep,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    sweep = containment_threshold_sweep(spark, oracle_sf_dir).collect()
    assert all(500 <= r.bucket_lo_permille <= 1000 for r in sweep)
    run = 0
    for r in sorted(sweep, key=lambda r: -r.bucket_lo_permille):
        run += r.n_pairs
        assert r.n_pairs_ge == run
    docs = load_table(spark, oracle_sf_dir, "documents")
    assert run == containment_pairs(docs).count()


def test_decon_sweep_gate_bucket_matches_flag(spark, oracle_sf_dir):
    """n_docs_ge at the capped bucket 10 must equal the registered
    gate's contaminated count (min_shared=10 reads off the curve), and
    the grand total equals the batch's doc population."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import dedup
    from mapreducemovieanalysis_cloud_spark.queries.round8_staged import (
        decontamination_overlap_sweep,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    sweep = {
        r.n_shared_capped: r
        for r in decontamination_overlap_sweep(spark, oracle_sf_dir).collect()
    }
    docs = load_table(spark, oracle_sf_dir, "documents")
    batch_srcs = ["src0", "src1", "src2", "src3", "src4"]
    scored = dedup.decontaminate(
        docs.where(F.col("source").isin(batch_srcs)),
        docs.where(~F.col("source").isin(batch_srcs)),
        n=3,
        window=4,
        min_shared=10,
    ).collect()
    n_contaminated = sum(1 for r in scored if r.contaminated)
    # docs in buckets >= 10 are exactly the n_shared >= 10 population
    # (capping at 20 never moves a doc across the 10 boundary)
    assert sum(r.n_docs for k, r in sweep.items() if k >= 10) == (
        n_contaminated
    )
    # cumulative is consistent and the grand total is the batch
    run = 0
    for k in sorted(sweep, reverse=True):
        run += sweep[k].n_docs
        assert sweep[k].n_docs_ge == run
    assert run == len(scored)


def test_ann_recall_pq_perfect_on_representable_corpus(spark, tmp_path):
    """A corpus with exactly 16 distinct vectors (k=16 per-subspace
    centroids) must be PQ-representable EXACTLY: Lloyd's init takes the
    first 16 vectors' slices as centroids, every point snaps to its own
    pattern, ADC distance equals exact distance, and recall@10 is
    1.0 for every query — the index is lossless when the codebook can
    hold the corpus, which pins the whole train/encode/probe chain."""
    import random

    from mapreducemovieanalysis_cloud_spark.queries.round8_staged import (
        ann_recall_pq,
    )

    rng = random.Random(7)
    patterns = [
        [round(rng.uniform(-1, 1), 3) for _ in range(64)] for _ in range(16)
    ]
    rows = []
    vid = 0
    for copy in range(3):
        for p in patterns:
            rows.append((vid, p, vid % 4))
            vid += 1
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")

    out = ann_recall_pq(spark, sf).collect()
    assert len(out) == 5
    for r in out:
        assert r.n_hits == 10
        assert r.recall_micro == 1_000_000
