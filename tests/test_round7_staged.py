"""Parity for the round-7 wave (queries/round7_staged.py): the exact
Spark-vs-DuckDB comparison the driver runs, the wave's registration pin,
plan hygiene, partition-count invariance, and behavioral checks on
planted corpora."""

from __future__ import annotations

import pytest

from mapreducemovieanalysis_cloud_spark import registry
from tests.oracle import assert_matches_oracle

ROUND7 = (
    "ann_ivf_incremental",
    "boundary_overlap_pairs",
    "ccnet_lm_buckets",
    "char_entropy_docs",
    "containment_candidate_stats",
    "curate_corpus_v2",
    "dedup_chain_merge_audit",
    "dedup_cluster_size_histogram",
    "dedup_cluster_survivors",
    "dedup_impact_by_source",
    "dsir_weights_en",
    "embedding_health_report",
    "gopher_rules_report",
    "incremental_minhash_dedup",
    "leakage_safe_split",
    "lsh_band_collision_stats",
    "minhash_estimate_error",
    "ngram_lm_scores",
    "packing_fragmentation_audit",
    "source_overlap_bottomk",
    "token_fertility_stats",
    "tokenizer_oov_rate",
    "vocab_growth_stats",
)


@pytest.mark.parametrize("name", ROUND7)
def test_staged_matches_oracle(spark, oracle_sf_dir, name):
    assert_matches_oracle(
        registry.queries()[name](spark, oracle_sf_dir),
        registry.oracle_sql()[name],
        oracle_sf_dir,
    )


def test_staged_are_registered():
    """ROUND7 is exactly the set of queries round7_staged registers, each
    with an oracle: a query added to the module without a parity entry
    above, or a name above that no longer registers, fails here."""
    mod = "mapreducemovieanalysis_cloud_spark.queries.round7_staged"
    live = {
        name for name, fn in registry.queries().items()
        if fn.__module__ == mod
    }
    assert live == set(ROUND7)
    assert live <= set(registry.oracle_sql())


def test_ngram_lm_gates_planted_gibberish(spark):
    """Behavioral check of the quality signal itself: a corpus of
    repetitive template sentences plus one token-salad outlier must
    score the outlier's avg negative log-prob strictly highest — the
    filter actually separates in-distribution text from noise."""
    from mapreducemovieanalysis_cloud_spark.operators import ngram_lm

    normal = [
        (i, "the quick brown fox jumps over the lazy dog every day")
        for i in range(20)
    ]
    docs = spark.createDataFrame(
        normal + [(99, "zxq plork vmnt qqj blarg wex")],
        "doc_id long, text string",
    )
    scored = ngram_lm.score_documents(docs, ngram_lm.ngram_model(docs))
    rows = {r.doc_id: r.avg_neg_logprob_micro for r in scored.collect()}
    assert max(rows, key=rows.get) == 99
    # and the buckets report puts the outlier alone in the top bucket
    buckets = ngram_lm.ngram_perplexity_buckets(docs).collect()
    assert buckets[-1].n_docs == 1


def test_ngram_lm_short_docs_absent_not_zero(spark):
    """Docs shorter than n tokens have no n-grams: they must be ABSENT
    from the score output (unscorable), never present with score 0 —
    a zero would rank them as perfectly in-distribution."""
    from mapreducemovieanalysis_cloud_spark.operators import ngram_lm

    docs = spark.createDataFrame(
        [(1, "hello world again"), (2, "solo")],
        "doc_id long, text string",
    )
    scored = ngram_lm.score_documents(docs, ngram_lm.ngram_model(docs))
    assert [r.doc_id for r in scored.collect()] == [1]


def test_dsir_separates_target_from_offtarget(spark):
    """Behavioral check of the importance weight itself: with a target
    sub-corpus in one vocabulary and off-target docs in a disjoint one,
    a raw doc written in the target vocabulary must out-weigh a raw doc
    in the off-target vocabulary — the selector actually pulls toward
    the target distribution."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import dsir

    target = [(i, "alpha beta gamma delta alpha beta", 1) for i in range(10)]
    off = [(100 + i, "zork quux fnord blarg zork quux", 0) for i in range(10)]
    probe = [
        (900, "alpha beta gamma delta", 0),  # target-like
        (901, "zork quux fnord blarg", 0),  # off-target-like
    ]
    docs = spark.createDataFrame(
        target + off + probe, "doc_id long, text string, is_t int"
    )
    w = {
        r.doc_id: r.log_weight_micro
        for r in dsir.dsir_log_weights(docs, F.col("is_t") == 1).collect()
    }
    assert w[900] > w[901]


def test_bottomk_overlap_identical_and_disjoint(spark):
    """Identical corpora estimate Jaccard 1.0; disjoint corpora share no
    sketch hash and are absent from the pair report."""
    from mapreducemovieanalysis_cloud_spark.operators import corpus_overlap

    text_x = "one two three four five six seven eight nine ten"
    text_y = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    docs = spark.createDataFrame(
        [
            ("a", text_x),
            ("b", text_x),  # b identical to a
            ("c", text_y),  # c disjoint from both
        ],
        "source string, text string",
    )
    rows = {
        (r.source_a, r.source_b): r
        for r in corpus_overlap.pairwise_overlap(docs, n=3, k=8).collect()
    }
    assert set(rows) == {("a", "b")}
    ab = rows[("a", "b")]
    assert ab.n_both == ab.n_union_used
    assert ab.jaccard_est_micro == 1000000


def test_canonical_survivors_rule(spark):
    """One component {1,2,3}: doc 2 is longest -> survivor; tie between
    equal-length docs breaks to the smaller id; singleton survives."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        canonical_survivors,
    )

    docs = spark.createDataFrame(
        [(1, "aa"), (2, "aaaa"), (3, "aaaa"), (9, "z")],
        "doc_id long, text string",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], "doc_id long, component long"
    )
    out = {
        r.doc_id: r
        for r in canonical_survivors(
            docs, comps, F.length("text")
        ).collect()
    }
    assert out[1].survivor_id == 2  # longest wins
    assert out[2].is_survivor == 1 and out[3].is_survivor == 0
    assert out[3].survivor_id == 2  # len tie 2 vs 3 -> min id
    assert out[9].is_survivor == 1 and out[9].survivor_id == 9


def test_ccnet_terciles_partition_per_language(spark):
    """Six docs per language with strictly ordered LM scores split 2/2/2
    into head/middle/tail WITHIN each language — a global threshold
    would have binned them differently across languages."""
    from mapreducemovieanalysis_cloud_spark.operators import ccnet

    # lang A: natural-ish text with varying repetition; lang B disjoint
    # vocab so its score range differs from A's.
    rows = []
    for i, rep in enumerate(
        ["a b", "a b a b", "a b c", "a c b", "c b a", "b c a x"]
    ):
        rows.append((i, rep, "A"))
    for i, rep in enumerate(
        ["q r", "q r q r", "q r s", "q s r", "s r q", "r s q y"]
    ):
        rows.append((100 + i, rep, "B"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = ccnet.lm_quality_buckets(docs, num_partitions=4).collect()
    by_lang: dict = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        assert len(rs) == 6
        assert sorted(r.tercile for r in rs) == [1, 1, 2, 2, 3, 3], lang
        # bucket label matches tercile and ordering matches score order
        for r in rs:
            assert r.bucket == {1: "head", 2: "middle", 3: "tail"}[
                r.tercile
            ]
        ordered = sorted(rs, key=lambda r: (r.avg_neg_logprob_micro, r.doc_id))
        assert [r.tercile for r in ordered] == sorted(
            r.tercile for r in rs
        )


def test_staged_plan_hygiene(executed_plan):
    """No CartesianProduct, and every BroadcastNestedLoopJoin must be a
    deliberate 1-row/tiny-side broadcast listed below (the plans are the
    registry-wide sweep's, built once per session)."""
    BNLJ_BY_DESIGN = {
        # 1-row vocabulary-size scalar broadcast into the add-1 term
        "ngram_lm_scores",
        # 1-row n_docs x 1-row n_candidates report cross join
        "containment_candidate_stats",
        # 1024-row hashed-n-gram distributions broadcast back onto the
        # corpus (bounded by construction, never corpus-sized)
        "dsir_weights_en",
        # broadcast query-set x candidate-cell scoring — same design as
        # the registered ann_ivf whitelist entry
        "ann_ivf_incremental",
    }
    offenders_cart, offenders_bnlj = [], []
    for name in ROUND7:
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


def test_staged_partition_count_invariance(spark, sf_dir):
    """The registry invariance pin (tests/test_properties.py) extended
    to the round-7 queries whose kernels involve prefix sums, global
    distributions, or iterative fixpoints — the classes whose naive
    formulations are partition-sensitive."""
    from tests.oracle import _canon

    NAMES = [
        "packing_fragmentation_audit",  # two-phase prefix sum
        "ccnet_lm_buckets",             # distributed prefix-sum terciles
        "dsir_weights_en",              # corpus distributions broadcast
        "dedup_cluster_size_histogram", # min-label fixpoint rollup
        "minhash_estimate_error",       # banding + verify joins
        "leakage_safe_split",           # component-keyed assignment
        "dedup_chain_merge_audit",      # closure + direct-pair counts
    ]
    default = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in ("1", default):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for name in NAMES:
                pdf = registry.queries()[name](spark, sf_dir).toPandas()
                results.setdefault(name, []).append(_canon(pdf))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    for name, (a, b) in results.items():
        assert a == b, f"{name} changed under repartitioning"
