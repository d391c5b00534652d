"""Parity + contracts for the round-9 second wave
(queries/round9_staged.py): the exact Spark-vs-DuckDB comparison the
driver runs, the wave's registration pin, plan hygiene, and behavioral
checks of each measurement's semantics on planted corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark import registry
from tests.oracle import assert_matches_oracle

ROUND9 = (
    "distinct_ngram_diversity",
    "label_propagation_communities",
    "lsh_recall_vs_exact",
    "sq8_reconstruction_error",
    "token_head_mass",
    "unicode_hygiene_report",
)


@pytest.mark.parametrize("name", ROUND9)
def test_staged_matches_oracle(spark, oracle_sf_dir, name):
    assert_matches_oracle(
        registry.queries()[name](spark, oracle_sf_dir),
        registry.oracle_sql()[name],
        oracle_sf_dir,
    )


def test_staged_are_registered():
    """ROUND9 is exactly the set of queries round9_staged registers, each
    with an oracle: a query added to the module without a parity entry
    above, or a name above that no longer registers, fails here."""
    mod = "mapreducemovieanalysis_cloud_spark.queries.round9_staged"
    live = {
        name for name, fn in registry.queries().items()
        if fn.__module__ == mod
    }
    assert live == set(ROUND9)
    assert live <= set(registry.oracle_sql())


def test_staged_plan_hygiene(executed_plan):
    """No CartesianProduct ever; BroadcastNestedLoopJoin only for the
    deliberate bounded broadcasts listed here."""
    BNLJ_BY_DESIGN = {
        # the d-row per-dim min/max stats broadcast into the encoder —
        # the ann_sq8 whitelist justification, via the same
        # sq8_reconstructed kernel
        "sq8_reconstruction_error",
    }
    offenders_cart, offenders_bnlj = [], []
    for name in ROUND9:
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


def test_lsh_recall_exact_dups_always_caught(spark, tmp_path):
    """Identical docs share every minhash, hence every band key — the
    1000-permille bucket's recall must be exactly 1.0; and the
    caught/missed split must stay internally consistent in every
    bucket."""
    from mapreducemovieanalysis_cloud_spark.queries.round9_staged import (
        lsh_recall_vs_exact,
    )

    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, dup) for i in range(6)] + [
        (100 + i, f"unique{i} text{i} body{i} words{i} here{i} now{i}")
        for i in range(10)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")

    out = {r.bucket_lo_permille: r for r in lsh_recall_vs_exact(spark, sf).collect()}
    assert 1000 in out
    exact = out[1000]
    assert exact.n_true_pairs == 6 * 5 // 2
    assert exact.n_caught == exact.n_true_pairs and exact.n_missed == 0
    assert exact.recall_micro == 1_000_000
    for r in out.values():
        assert r.n_missed == r.n_true_pairs - r.n_caught
        assert 0 <= r.recall_micro <= 1_000_000
        assert 500 <= r.bucket_lo_permille <= 1000


def test_lsh_recall_populates_every_decile_planted(spark, tmp_path):
    """Planted corpus exercising SIX deciles of the recall curve at
    once (the r09 verdict watch item: the sf0.01 corpus happens to
    populate a single decile, so decile bucketing itself was only
    exercised at one point).  Construction: pair k shares a p-token
    prefix then diverges into q unique tokens per side, so with 3-word
    shingles shared = p-2 and union = p+2q-2 — (p, q) of (6,2), (8,2),
    (16,3), (10,1), (20,1) land EXACTLY on Jaccard 0.5/0.6/0.7/0.8/0.9
    (verified by the python shingle replay below), plus one identical
    pair at 1.0.  Per-pair token namespaces guarantee no cross-pair
    truth rows."""
    from mapreducemovieanalysis_cloud_spark.queries.round9_staged import (
        lsh_recall_vs_exact,
    )

    def doc(words):
        return " ".join(words)

    rows, expected = [], {}
    for k, (p, q) in enumerate([(6, 2), (8, 2), (16, 3), (10, 1), (20, 1)]):
        pre = [f"p{k}x{i}" for i in range(p)]
        a = pre + [f"p{k}a{i}" for i in range(q)]
        b = pre + [f"p{k}b{i}" for i in range(q)]

        def shingles(t):
            return {tuple(t[i : i + 3]) for i in range(len(t) - 2)}

        inter = len(shingles(a) & shingles(b))
        union = len(shingles(a) | shingles(b))
        bucket = inter * 1000 // union // 100 * 100
        expected[bucket] = expected.get(bucket, 0) + 1
        rows += [(10 * k, doc(a)), (10 * k + 1, doc(b))]
    dup = " ".join(f"dupw{i}" for i in range(10))
    rows += [(900, dup), (901, dup)]
    expected[1000] = 1

    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")

    out = {r.bucket_lo_permille: r for r in lsh_recall_vs_exact(spark, sf).collect()}
    # the replay-derived deciles are exactly 500..900 — the construction
    # is the test's own oracle, so assert it produced what it claims
    assert set(expected) == {500, 600, 700, 800, 900, 1000}
    assert {b: r.n_true_pairs for b, r in out.items()} == expected
    assert out[1000].recall_micro == 1_000_000  # identical docs
    for r in out.values():
        assert r.n_missed == r.n_true_pairs - r.n_caught
        assert 0 <= r.recall_micro <= 1_000_000


def test_lsh_recall_truth_matches_registered_detector(spark, oracle_sf_dir):
    """The recall table's truth mass (sum of n_true_pairs) must equal
    the registered jaccard_pairs detector's pair count at the same
    threshold — the measured-scheme == shipped-scheme rule."""
    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        jaccard_pairs,
    )
    from mapreducemovieanalysis_cloud_spark.queries.round9_staged import (
        lsh_recall_vs_exact,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    out = lsh_recall_vs_exact(spark, oracle_sf_dir).collect()
    docs = load_table(spark, oracle_sf_dir, "documents").select(
        "doc_id", "text"
    )
    n_truth = jaccard_pairs(docs, n=3, threshold=0.5).count()
    assert sum(r.n_true_pairs for r in out) == n_truth


def test_diversity_separates_repetitive_source(spark, tmp_path):
    """A source that repeats one sentence scores far lower distinct-n
    than a source of all-unique sentences; unigram totals are exact."""
    from mapreducemovieanalysis_cloud_spark.queries.round9_staged import (
        distinct_ngram_diversity,
    )

    rep = [(i, "spam spam spam spam spam", "looped") for i in range(5)]
    uniq = [
        (100 + i, f"w{i}a w{i}b w{i}c w{i}d w{i}e", "fresh")
        for i in range(5)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rep + uniq, "doc_id long, text string, source string"
    ).write.parquet(f"{sf}/documents.parquet")

    out = {
        (r.source, r.n): r
        for r in distinct_ngram_diversity(spark, sf).collect()
    }
    # looped: 25 unigram occurrences, 1 distinct -> 40 permille
    assert out[("looped", 1)].n_total == 25
    assert out[("looped", 1)].n_distinct == 1
    assert out[("looped", 1)].distinct_permille == 40
    # fresh: every token unique corpus-wide
    assert out[("fresh", 1)].n_total == 25
    assert out[("fresh", 1)].n_distinct == 25
    assert out[("fresh", 1)].distinct_permille == 1000
    for n in (1, 2, 3):
        assert (
            out[("looped", n)].distinct_permille
            < out[("fresh", n)].distinct_permille
        )


def test_sq8_error_zero_on_constant_dim_and_within_codec_bound(
    spark, tmp_path
):
    """A dimension whose values are all equal reconstructs exactly
    (the mx = mn branch); every dimension's max error respects the
    codec's per-dim bound (range // 255 + 1 in quantized units)."""
    from mapreducemovieanalysis_cloud_spark.queries.round9_staged import (
        sq8_reconstruction_error,
    )

    rows = [
        (i, [1.0, float(i) / 7.0, -0.25 + float(i % 5) / 11.0])
        for i in range(40)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{sf}/embeddings.parquet")

    out = {r.d: r for r in sq8_reconstruction_error(spark, sf).collect()}
    assert out[0].max_abs_err == 0 and out[0].sum_abs_err == 0
    # per-dim quantized ranges, same quantization as the codec
    import numpy as np

    q = np.round(
        np.array([r[1] for r in rows], dtype=np.float64) * 1_000_000
    ).astype("int64")
    for d in (1, 2):
        rng = int(q[:, d].max() - q[:, d].min())
        assert 0 < out[d].max_abs_err <= rng // 255 + 1
        assert out[d].n_vecs == 40


def test_unicode_hygiene_planted_pathologies(spark, tmp_path):
    """Planted control char, U+FFFD, zero-width space, and accented
    text are each counted in exactly their own column."""
    from mapreducemovieanalysis_cloud_spark.queries.round9_staged import (
        unicode_hygiene_report,
    )

    rows = [
        (1, "clean ascii text", "dirty"),
        (2, "bell \x07 char", "dirty"),
        (3, "moji�bake", "dirty"),
        (4, "zero​width", "dirty"),
        (5, "café résumé", "dirty"),
        (6, "all clean here", "clean"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{sf}/documents.parquet")

    out = {r.source: r for r in unicode_hygiene_report(spark, sf).collect()}
    d = out["dirty"]
    assert d.n_docs == 5
    assert d.n_ctrl_docs == 1
    assert d.n_replacement_docs == 1
    assert d.n_zerowidth_docs == 1
    # café résumé -> 3 non-ascii chars; U+FFFD and U+200B count too
    assert d.n_nonascii_chars == 5
    assert d.nonascii_ppm == 5 * 1_000_000 // d.n_chars
    c = out["clean"]
    assert (
        c.n_ctrl_docs
        == c.n_replacement_docs
        == c.n_zerowidth_docs
        == c.n_nonascii_chars
        == 0
    )
    assert c.nonascii_ppm == 0


def test_lpa_separates_planted_cliques(spark, tmp_path):
    """Two planted 4-cliques joined by a single bridge edge resolve to
    two communities (each clique converges to its min node id); the
    bridge endpoints stay with their own cliques because clique votes
    outnumber the single cross edge."""
    from mapreducemovieanalysis_cloud_spark.queries.round9_staged import (
        label_propagation_communities,
    )

    # lineitem fixture: an order shared by two suppliers = an edge
    # (>= 20 shared orders per the production min_shared)
    rows = []
    order = 0

    def add_edge(u, v):
        nonlocal order
        for _ in range(20):
            rows.append((order, u))
            rows.append((order, v))
            order += 1

    cliq_a = [1, 2, 3, 4]
    cliq_b = [11, 12, 13, 14]
    for grp in (cliq_a, cliq_b):
        for i, u in enumerate(grp):
            for v in grp[i + 1 :]:
                add_edge(u, v)
    add_edge(4, 11)  # bridge
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "l_orderkey long, l_suppkey long"
    ).write.parquet(f"{sf}/lineitem.parquet")

    out = {
        r.suppkey: r.community
        for r in label_propagation_communities(spark, sf).collect()
    }
    assert {out[u] for u in cliq_a} == {1}
    assert {out[u] for u in cliq_b} == {11}


def test_head_mass_concentration_ordering(spark, tmp_path):
    """A one-token source has all mass in its top-10; a flat source's
    top-10 share equals exactly 10/vocab of the mass; cumulative
    monotonicity holds."""
    from mapreducemovieanalysis_cloud_spark.queries.round9_staged import (
        token_head_mass,
    )

    flat = " ".join(f"w{i}" for i in range(50))  # 50 tokens, each once
    rows = [
        (1, "spam " * 30, "head"),
        (2, flat, "flat"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{sf}/documents.parquet")

    out = {r.source: r for r in token_head_mass(spark, sf).collect()}
    h = out["head"]
    assert h.vocab_size == 1 and h.top10_permille == 1000
    f = out["flat"]
    assert f.vocab_size == 50 and f.n_tokens_total == 50
    assert f.top10_permille == 10 * 1000 // 50
    for r in out.values():
        assert (
            r.top10_permille
            <= r.top100_permille
            <= r.top1000_permille
            <= 1000
        )


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_lpa_matches_bruteforce_python(spark, tmp_path, seed):
    """Independent python reimplementation of 3-round synchronous LPA
    (same count-DESC/label-ASC vote) on a random graph must agree
    exactly — catches a formula error the unrolled-CTE oracle could
    share with the query (the quality_nb_scores pattern)."""
    import random

    from mapreducemovieanalysis_cloud_spark.queries.round9_staged import (
        _LPA_ITERS,
        label_propagation_communities,
    )

    rng = random.Random(seed)
    nodes = list(range(1, 13))
    edges = set()
    for u in nodes:
        for v in nodes:
            if u < v and rng.random() < 0.25:
                edges.add((u, v))
    if not edges:
        edges.add((1, 2))

    rows = []
    order = 0
    for u, v in sorted(edges):
        for _ in range(20):
            rows.append((order, u))
            rows.append((order, v))
            order += 1
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "l_orderkey long, l_suppkey long"
    ).write.parquet(f"{sf}/lineitem.parquet")

    got = {
        r.suppkey: r.community
        for r in label_propagation_communities(spark, sf).collect()
    }

    # brute force: synchronous rounds over the undirected edge set
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    labels = {n: n for n in adj}
    for _ in range(_LPA_ITERS):
        nxt = {}
        for n in adj:
            votes = Counter(labels[m] for m in adj[n])
            nxt[n] = min(votes, key=lambda l: (-votes[l], l))
        labels = nxt
    assert got == labels


def test_sq8_error_matches_bruteforce_python(spark, tmp_path):
    """Independent python reimplementation of quantize -> SQ8 code ->
    reconstruct -> per-dim |error| stats must agree EXACTLY (all
    integer arithmetic)."""
    from mapreducemovieanalysis_cloud_spark.queries.round9_staged import (
        sq8_reconstruction_error,
    )

    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(30)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{sf}/embeddings.parquet")

    # brute force from the PARQUET bytes (float32, like the engines)
    import duckdb

    vecs = duckdb.sql(
        f"SELECT embedding FROM '{sf}/embeddings.parquet/*.parquet'"
        " ORDER BY vec_id"
    ).fetchall()
    q = [
        [round(float(x) * 1_000_000) for x in emb] for (emb,) in vecs
    ]
    d = len(q[0])
    expect = {}
    for j in range(d):
        col = [v[j] for v in q]
        mn, mx = min(col), max(col)
        errs = []
        for x in col:
            if mx == mn:
                rec = mn
            else:
                code = (x - mn) * 255 // (mx - mn)
                rec = mn + code * (mx - mn) // 255
            errs.append(abs(x - rec))
        expect[j] = (
            len(errs),
            max(errs),
            sum(errs),
            sum(errs) * 1_000_000 // len(errs),
        )

    got = {
        r.d: (r.n_vecs, r.max_abs_err, r.sum_abs_err, r.mean_abs_err_micro)
        for r in sq8_reconstruction_error(spark, sf).collect()
    }
    assert got == expect
