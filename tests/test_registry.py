"""Driver-contract guards for the query registry."""

from __future__ import annotations

import os
import subprocess
import sys

from mapreducemovieanalysis_cloud_spark import registry


def test_every_query_has_oracle():
    qs, osql = registry.queries(), registry.oracle_sql()
    assert set(osql) <= set(qs), f"orphan oracles: {set(osql) - set(qs)}"
    missing = set(qs) - set(osql)
    # every operator claimed done needs both halves; allow-list nothing
    assert not missing, f"queries without oracle SQL: {missing}"


def test_enumerable_without_spark_session():
    """The driver may call __spark_entry__.queries() before it builds a
    SparkSession — enumeration must not require an active context (no
    module-level pandas_udf / udtf registration)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import sys; sys.path.insert(0, {root!r});"
        "import __spark_entry__ as e;"
        "qs = e.queries(); o = e.oracle_sql();"
        f"assert len(qs) == {len(registry.queries())} and set(o) <= set(qs);"
        "print(len(qs))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=root,
    )
    assert out.returncode == 0, out.stderr[-2000:]


def test_registry_wide_plan_hygiene(executed_plan):
    """No query in the registry may plan a CartesianProduct, and
    BroadcastNestedLoopJoin is allowed ONLY where the design calls for a
    broadcast of a one-row aggregate / deliberately tiny side (scalar
    normalizers, thresholds, codebook stats — and the cross-join family
    query itself). A new query that accidentally cross-joins two fact
    tables fails here before any driver run sees it.  Plans come from
    the session-wide ``executed_plan`` cache, so each query is built
    once for this check and the Expand check below."""
    BNLJ_BY_DESIGN = {
        # cross-join family query: the operator under test IS the cross join
        "join_cross",
        # 1-row scalar broadcasts: normalizers / global thresholds / counts
        "source_quality_filter",
        "lang_temperature_mix",
        "langid_kappa",
        "dq_orders_gate",
        "train_mix_sample",
        "histogram_equidepth",
        "bigram_pmi",
        "bm25_rank",
        # same 1-row corpus-stats broadcast through the shared BM25 tree
        "search_bm25_stored_index",
        "search_conjunctive_stored_index",
        "tpch_q11_important_stock",
        "tpch_q22_global_sales",
        "merge_upsert_orders",
        # 1-row totals / MAX(key) scalar broadcasts
        "skew_report_lineitem",
        "snapshot_diff_orders",
        "target_encode_segment",
        # (sources x bins) smoothing grid + 1-row bin-count/total scalars
        "quality_psi_by_source",
        # 1-row corpus-count broadcast into the IDF term
        "tfidf_top_terms",
        # 1-row corpus-token-total broadcast into the LLR contrast
        "keyness_llr_by_lang",
        # type-cardinality totals + 1-row grand-total broadcast into the
        # (value-domain x type) KS grid
        "ks_drift_by_type",
        # broadcast query-set x corpus blocks: every query scores every
        # candidate row by design (brute force / probe scoring)
        "ann_bruteforce",
        "ann_sq8",
        "ann_ivf",
        "ann_ivf_pq",
        "ann_recall_ivf",
        "hard_negatives_brute",
        "kmeans_embeddings",
        # round-7 promotions (justifications unchanged from the staged
        # sweep they graduated from):
        # 1-row vocabulary-size scalar broadcast into the add-1 term
        "ngram_lm_scores",
        # 1-row n_docs x 1-row n_candidates report cross join
        "containment_candidate_stats",
        # 1024-row hashed-n-gram distributions broadcast back onto the
        # corpus (bounded by construction, never corpus-sized)
        "dsir_weights_en",
        # broadcast query-set x candidate-cell scoring — same design as
        # the ann_ivf entry above
        "ann_ivf_incremental",
        # round-13 promotion: both fusion legs are whitelisted kernels —
        # the ann_bruteforce 1-vector broadcast and the bm25_rank 1-row
        # corpus-stats broadcast (justification unchanged from the
        # staged sweep it graduated from)
        "hybrid_search_rrf",
        # round-9 promotions (justifications unchanged from the staged
        # sweeps they graduated from):
        # 1-row vocab-size scalar + n_sources-row base-term broadcasts
        # into the smoothing terms (the ngram_lm_scores justification)
        "quality_nb_scores",
        # broadcast query-sample x corpus scoring for the exact-L2
        # ground truth (the ann_bruteforce whitelist justification)
        "ann_recall_pq",
        # the d-row per-dim min/max stats broadcast into the encoder —
        # the ann_sq8 whitelist justification, via the same
        # sq8_reconstructed kernel
        "sq8_reconstruction_error",
        # round-10 promotions (justifications unchanged from the staged
        # sweep they graduated from, tests/test_round10_staged.py):
        # 1-row corpus-totals broadcast into the per-source plan
        "source_repeat_schedule",
        # 1-row vocab-size scalar broadcast inside score_documents —
        # the registered ngram_lm_scores whitelist justification
        # (identical kernel, merged-store model)
        "incremental_lm_scores",
        # the 1-row point-estimate frame x the 1-row CI frame — a
        # 1x1 join by construction
        "ab_uplift_ci",
        # round-11 promotions (justifications unchanged from the staged
        # sweep they graduated from, tests/test_round11_staged.py):
        # catalog-sized marginal grid (|langs| x |sources|) + 1-row
        # total / dims broadcasts
        "chisq_lang_source",
        # 9-row Benford reference table broadcast onto the priority
        # totals
        "benford_price_audit",
        # 16-row register table broadcast onto the node set
        "anf_reach_suppliers",
        # round-12 promotions (justification unchanged from the staged
        # sweep they graduated from, tests/test_round12_staged.py):
        # 16-row FM register table broadcast onto the id stream (the
        # anf_reach_suppliers whitelist justification)
        "incremental_distinct_users",
    }
    offenders_cart, offenders_bnlj = [], []
    for name in registry.queries():
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


def test_registry_wide_expand_is_intentional(executed_plan):
    """Expand replicates every input row once per grouping set / distinct
    aggregate / unpivot branch — a silent data-amplification operator.
    It is allowed only where the semantics REQUIRE replication: grouping
    analytics (rollup/cube/grouping sets), sliding windows (a row belongs
    to several windows), stack() unpivots, and the exact multi-distinct
    profile (whose 100 TB tier is the Expand-free HLL variant,
    profile_columns_approx). A new query that accidentally plans a
    multi-distinct Expand over a fact table fails here."""
    EXPAND_BY_DESIGN = {
        "rollup_orders",
        "cube_qty",
        "grouping_sets",
        "window_sliding",
        "sliding_reach_windows",
        "unpivot_part",
        "profile_orders",
        "filtered_aggregates",
    }
    offenders = []
    for name in registry.queries():
        if "Expand" in executed_plan(name) and name not in EXPAND_BY_DESIGN:
            offenders.append(name)
    assert not offenders, offenders


def test_registry_count_pinned():
    """Exactly 284 registered queries (277 + the 7 round-14 queries,
    the cap the committed round-10/12 ledger plan names).  A smaller count
    means a query module silently vanished (the failure mode the
    unconditional _load_all imports exist to prevent); a larger one
    means an unplanned registration jumped the rotation queue — both
    need a deliberate update HERE plus a rotation regeneration, never
    an accident."""
    assert len(registry.queries()) == 284
    assert len(registry.oracle_sql()) == 284
