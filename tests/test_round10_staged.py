"""Parity + contracts for the round-10 query wave
(queries/round10_staged.py): driver-identical Spark-vs-DuckDB parity,
the wave's registration pin, plan hygiene, planted-corpus behavioral
checks, and independent python brute-force replays."""

from __future__ import annotations

import pytest

from mapreducemovieanalysis_cloud_spark import registry
from tests.oracle import assert_matches_oracle

ROUND10 = (
    "ab_uplift_ci",
    "bootstrap_mean_chars_ci",
    "decontaminate_span_report",
    "embedding_batch_drift",
    "incremental_lm_scores",
    "source_repeat_schedule",
)


@pytest.mark.parametrize("name", ROUND10)
def test_staged_matches_oracle(spark, oracle_sf_dir, name):
    assert_matches_oracle(
        registry.queries()[name](spark, oracle_sf_dir),
        registry.oracle_sql()[name],
        oracle_sf_dir,
    )


def test_staged_are_registered():
    """ROUND10 is exactly the set of queries round10_staged registers, each
    with an oracle: a query added to the module without a parity entry
    above, or a name above that no longer registers, fails here."""
    mod = "mapreducemovieanalysis_cloud_spark.queries.round10_staged"
    live = {
        name for name, fn in registry.queries().items()
        if fn.__module__ == mod
    }
    assert live == set(ROUND10)
    assert live <= set(registry.oracle_sql())


def test_staged_plan_hygiene(executed_plan):
    BNLJ_BY_DESIGN = {
        # 1-row corpus-totals broadcast into the per-source plan —
        # the standard bounded-broadcast whitelist justification
        "source_repeat_schedule",
        # 1-row vocab-size scalar broadcast inside score_documents —
        # the registered ngram_lm_scores whitelist justification
        # (identical kernel, merged-store model)
        "incremental_lm_scores",
        # the 1-row point-estimate frame x the 1-row CI frame — a
        # 1x1 join by construction
        "ab_uplift_ci",
    }
    for name in ROUND10:
        plan = executed_plan(name)
        assert "CartesianProduct" not in plan, name
        if name not in BNLJ_BY_DESIGN:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_bootstrap_ci_constant_and_bounded(spark, tmp_path):
    """A constant-valued source has a degenerate CI (lo = mean = hi
    exactly — every replica's weighted mean of a constant is that
    constant whenever any weight lands); a spread source's CI stays
    within [min, max] of the data."""
    from mapreducemovieanalysis_cloud_spark.queries.round10_staged import (
        bootstrap_mean_chars_ci,
    )

    rows = [(i, "t", "const", 500) for i in range(40)] + [
        (100 + i, "t", "spread", 100 + 37 * i) for i in range(40)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")

    out = {r.source: r for r in bootstrap_mean_chars_ci(spark, sf).collect()}
    c = out["const"]
    assert c.mean_micro == 500 * 1_000_000
    assert c.ci_lo_micro == c.ci_hi_micro == c.mean_micro
    s = out["spread"]
    vals = [100 + 37 * i for i in range(40)]
    assert s.ci_lo_micro <= s.mean_micro <= s.ci_hi_micro
    assert min(vals) * 1_000_000 <= s.ci_lo_micro
    assert s.ci_hi_micro <= max(vals) * 1_000_000


def test_bootstrap_rejects_small_b(spark):
    """b < 20 must raise (the rank-2 lower-bound contract): the CI's
    lower bound is the FIXED rank-2 order statistic that both
    consumers' oracles hardcode, so a regression back to a silent
    adaptive rank would desynchronize Spark from the oracles without
    any parity test noticing (r09 advisor item — this pin is the
    guard's regression test)."""
    import pytest as _pytest

    from mapreducemovieanalysis_cloud_spark.operators.aggregates import (
        poisson_bootstrap_mean_ci,
    )

    df = spark.range(5).selectExpr("id", "'g' AS g", "id AS v")
    with _pytest.raises(ValueError, match="rank-2"):
        poisson_bootstrap_mean_ci(
            df, ["g"], id_col="id", value_col="v", b=19
        )


def test_bootstrap_matches_bruteforce_python(spark, tmp_path):
    """Python replay of the md5 -> Poisson weight -> replica mean ->
    order-statistic pipeline must agree EXACTLY (all integer
    arithmetic) — independent of both the operator and the oracle."""
    import hashlib

    from mapreducemovieanalysis_cloud_spark.operators.aggregates import (
        POISSON1_T32,
    )
    from mapreducemovieanalysis_cloud_spark.queries.round10_staged import (
        _BOOT_B,
        bootstrap_mean_chars_ci,
    )

    rows = [(i, "t", "s", 50 + 13 * (i % 7)) for i in range(25)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")

    got = bootstrap_mean_chars_ci(spark, sf).collect()[0]

    def weight(doc_id: int, r: int) -> int:
        u = int(
            hashlib.md5(f"boot:{doc_id}:{r}".encode()).hexdigest()[:8], 16
        )
        return sum(1 for t in POISSON1_T32 if u >= t)

    means = []
    for r in range(_BOOT_B):
        s = n = 0
        for doc_id, _, _, x in rows:
            w = weight(doc_id, r)
            s += w * x
            n += w
        means.append((s * 1_000_000 // n if n else 0, r))
    means.sort()
    lo = means[2 - 1][0]
    hi = means[-(-95 * _BOOT_B // 100) - 1][0]
    total = sum(x for *_, x in rows)
    assert got.n_rows == 25
    assert got.mean_micro == total * 1_000_000 // 25
    assert got.ci_lo_micro == lo
    assert got.ci_hi_micro == hi


def test_span_report_planted_quotes(spark, tmp_path):
    """A batch doc quoting a 5-token reference run is contaminated on
    exactly those 5 tokens (the three overlapping 3-grams merge into
    one span); a clean doc and a 2-token doc report fully clean; two
    separated quotes make two spans."""
    from mapreducemovieanalysis_cloud_spark.queries.round10_staged import (
        decontaminate_span_report,
    )

    bench = "alpha beta gamma delta epsilon"
    rows = [
        # batch (src0): 10 tokens, quotes bench tokens 0-4 at pos 2..6
        (1, f"x1 x2 {bench} y1 y2 y3", "src0"),
        (2, "clean words only here now", "src0"),
        (3, "too short", "src0"),
        # two separated quotes of 3-token runs -> two spans
        (4, "alpha beta gamma q1 q2 q3 q4 gamma delta epsilon", "src0"),
        # reference
        (100, f"intro {bench} outro", "src9"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{sf}/documents.parquet")

    out = {r.doc_id: r for r in decontaminate_span_report(spark, sf).collect()}
    assert set(out) == {1, 2, 3, 4}
    r1 = out[1]
    assert r1.n_tokens == 10
    assert r1.n_spans == 1
    assert r1.n_contaminated_tokens == 5
    assert r1.n_clean_tokens == 5 and r1.clean_permille == 500
    assert out[2].n_spans == 0 and out[2].clean_permille == 1000
    assert out[3].n_tokens == 2 and out[3].clean_permille == 1000
    r4 = out[4]
    assert r4.n_spans == 2
    assert r4.n_contaminated_tokens == 6
    assert r4.n_clean_tokens == 4


def test_repeat_schedule_cap_binds_small_source(spark, tmp_path):
    """Small source hits the 4-epoch cap (allocated = 4x its tokens,
    cap_bound = 1, shortfall positive); large source takes its full
    uniform slice (cap_bound = 0). Exact integer arithmetic on a
    hand-computed fixture."""
    from mapreducemovieanalysis_cloud_spark.queries.round10_staged import (
        source_repeat_schedule,
    )

    ten = "a b c d e f g h i j"
    rows = [(1, ten, "small")] + [
        (10 + i, ten, "large") for i in range(10)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{sf}/documents.parquet")

    out = {r.source: r for r in source_repeat_schedule(spark, sf).collect()}
    # totals: 110 tokens, budget 2.0x = 220, 2 sources -> 110 requested each
    s = out["small"]
    assert s.n_tokens == 10 and s.requested == 110
    assert s.allocated == 40 and s.cap_bound == 1
    assert s.epochs_milli == 4000 and s.shortfall == 70
    l = out["large"]
    assert l.n_tokens == 100 and l.requested == 110
    assert l.allocated == 110 and l.cap_bound == 0
    assert l.epochs_milli == 1100 and l.shortfall == 0


@pytest.mark.parametrize("seed", [3, 17, 44])
def test_span_report_matches_bruteforce_python(spark, tmp_path, seed):
    """Python replay of gram-match -> interval-merge -> span stats on
    random corpora must agree exactly — pins the merge boundary
    (p2 <= p1 + n - 1 merges, p2 = p1 + n does not) independently of
    the oracle."""
    import random

    from mapreducemovieanalysis_cloud_spark.queries.round10_staged import (
        decontaminate_span_report,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(12):
        ln = rng.randint(1, 20)
        text = " ".join(rng.choice(vocab) for _ in range(ln))
        src = "src0" if i % 2 == 0 else "src9"
        rows.append((i, text, src))
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{sf}/documents.parquet")

    got = {
        r.doc_id: (
            r.n_tokens,
            r.n_spans,
            r.n_contaminated_tokens,
            r.n_clean_tokens,
            r.clean_permille,
        )
        for r in decontaminate_span_report(spark, sf).collect()
    }

    n = 3
    ref_grams = set()
    for _, text, src in rows:
        if src == "src0":
            continue
        t = text.split()
        for p in range(len(t) - n + 1):
            ref_grams.add(" ".join(t[p : p + n]))
    expect = {}
    for doc_id, text, src in rows:
        if src != "src0":
            continue
        t = text.split()
        hits = sorted(
            p
            for p in range(len(t) - n + 1)
            if " ".join(t[p : p + n]) in ref_grams
        )
        spans = []
        for p in hits:
            if spans and p <= spans[-1][1] + n - 1:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        cont = sum(last - first + n for first, last in spans)
        nt = len(t)
        expect[doc_id] = (
            nt,
            len(spans),
            cont,
            nt - cont,
            (nt - cont) * 1000 // max(nt, 1),
        )
    assert got == expect


def test_incremental_lm_append_is_idempotent_and_equals_rebuild(
    spark, tmp_path
):
    """Retrying an already-applied batch (same batch_id) must not
    double counts (the epoch overwrite contract), and the merged
    model's count tables must equal a full rebuild's exactly."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import ngram_lm

    docs = spark.createDataFrame(
        [
            (0, "a b c a b"),
            (1, "b c d"),
            (2, "a b c"),
            (3, "d e"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "lm_store")
    ngram_lm.incremental_ngram_append(
        docs.where(F.col("doc_id") < 2), store, "b0"
    )
    ngram_lm.incremental_ngram_append(
        docs.where(F.col("doc_id") >= 2), store, "b1"
    )
    # retry batch b1: the epoch dir is overwritten, never appended
    ngram_lm.incremental_ngram_append(
        docs.where(F.col("doc_id") >= 2), store, "b1"
    )

    inc_ng, inc_ctx, inc_v = ngram_lm.incremental_ngram_model(spark, store)
    full_ng, full_ctx, full_v = ngram_lm.ngram_model(docs)

    def tbl(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    assert tbl(inc_ng, ["ngram", "c"]) == tbl(full_ng, ["ngram", "c"])
    assert tbl(inc_ctx, ["context", "ctx"]) == tbl(
        full_ctx, ["context", "ctx"]
    )
    assert inc_v.collect()[0].v == full_v.collect()[0].v == 5


def test_embedding_drift_planted_directions(spark, tmp_path):
    """Identical windows -> cosine exactly 1.0 and zero L2 gap;
    opposite windows (v vs -v) -> cosine exactly -1.0."""
    from mapreducemovieanalysis_cloud_spark.queries.round10_staged import (
        embedding_batch_drift,
    )

    v = [0.5, -0.25, 0.125, 1.0]
    neg = [-x for x in v]
    rows = []
    for i in range(8):  # label 1: same direction in both windows
        rows.append((i, v, 1))
    for i in range(8):  # label 2: parity windows point opposite ways
        rows.append((100 + i, v if i % 2 == 0 else neg, 2))
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")

    out = {r.label: r for r in embedding_batch_drift(spark, sf).collect()}
    same = out[1]
    assert same.n_ref == same.n_cur == 4
    assert same.centroid_cosine_micro == 1_000_000
    assert same.centroid_l2sq_micro == 0
    # label 2: vec_id parity puts all +v in window 0 and all -v in 1
    flip = out[2]
    assert flip.centroid_cosine_micro == -1_000_000
    assert flip.centroid_l2sq_micro > 0


def test_ab_uplift_constant_metric_is_exact_zero(spark, tmp_path):
    """A constant metric makes both arms' means equal and every
    bootstrap replica's difference exactly zero — point estimate and
    both CI bounds must be 0; arm sizes must partition the corpus."""
    from mapreducemovieanalysis_cloud_spark.queries.round10_staged import (
        ab_uplift_ci,
    )

    rows = [(i, "t", "s", 250) for i in range(60)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")

    r = ab_uplift_ci(spark, sf).collect()[0]
    assert r.n_a + r.n_b == 60 and r.n_a > 0 and r.n_b > 0
    assert r.mean_a_micro == r.mean_b_micro == 250 * 1_000_000
    assert r.diff_micro == 0
    assert r.ci_lo_micro == r.ci_hi_micro == 0


def test_ab_uplift_internal_consistency(spark, oracle_sf_dir):
    """On real data: diff = mean_a - mean_b exactly, CI ordered, and
    the CI brackets the point estimate (paired replicas center on
    it)."""
    from mapreducemovieanalysis_cloud_spark.queries.round10_staged import (
        ab_uplift_ci,
    )

    r = ab_uplift_ci(spark, oracle_sf_dir).collect()[0]
    assert r.diff_micro == r.mean_a_micro - r.mean_b_micro
    assert r.ci_lo_micro <= r.ci_hi_micro
    assert r.ci_lo_micro <= r.diff_micro <= r.ci_hi_micro
