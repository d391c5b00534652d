"""Partitioning-independence pin for the float-determinism contract.

The repo-wide claim behind every micro-rounded column is that results
are A VALUE OF THE DATA, not of the execution: summation order changes
with shuffle partitioning, so any query whose floats weren't
quantized-at-the-leaves or exactly-associative would flip its value
hash between a 2-partition and a 32-partition run. The oracle diff
can't see this (DuckDB always sums in its own order) — this module
pins it directly by executing the most summation-sensitive registered
queries under both extremes and requiring bit-identical canonical
rows.

At 100 TB this is the difference between "the nightly report moved
because the cluster resized" and determinism.
"""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entry_mod

# The float-bearing families: ordered folds (EWMA), log-space sums
# (LM scores, DSIR, CCNet terciles), closed-form regression/corr/PCA,
# centroid updates (k-means), duration-weighted means (TWAP), Gini,
# plus the A-Res samplers whose ln() priorities gate top-k membership.
SENSITIVE = [
    "ewma_user_value",
    "ngram_lm_scores",
    "ccnet_lm_buckets",
    "dsir_weights_en",
    "trigram_lm_score",
    "corr_matrix_lineitem",
    "pca_gram",
    "kmeans_embeddings",
    "regr_price_on_qty_by_brand",
    "gini_revenue_by_nation",
    "twap_user_value",
    "weighted_sample_docs",
    "quality_classifier",
    "classifier_auc",
    # round-9 promotions: NB log-likelihood term sums (quantized at the
    # leaf), the LSH-recall decile ratios, and the SQ8 per-dim error
    # sums
    "quality_nb_scores",
    "lsh_recall_vs_exact",
    "sq8_reconstruction_error",
    # round-11 promotions: chi-square cell contributions, Adamic-Adar
    # apex weights, the ANF estimate's register sums (quantized-leaf
    # double sums)
    "chisq_lang_source",
    "adamic_adar_suppliers",
    "anf_reach_suppliers",
    # round-14: the Zipf fit's slope/intercept are IEEE ratios of
    # integer moments whose leaves (quantized ln of rank/count) are
    # row-local (the wave's other six queries are integer end-to-end)
    "zipf_slope_tokens",
]

_QUERIES = entry_mod.queries()


def _canon(rows) -> list[tuple]:
    out = []
    for row in rows:
        vals = []
        for c in sorted(row.asDict()):
            v = row[c]
            if isinstance(v, float):
                assert not math.isnan(v)
                vals.append(("f", v.hex()))
            elif isinstance(v, list):
                vals.append(("a", str(v)))
            else:
                vals.append((type(v).__name__[:1], str(v)))
        out.append(tuple(vals))
    out.sort()
    return out


@pytest.mark.parametrize("name", SENSITIVE)
def test_result_identical_across_partitionings(
    name, spark, sf_dir, oracle_sf_dir
):
    # the supplier co-occurrence graph has no >=20-shared-order edges
    # at sf0.001, so the link-prediction output there is legitimately
    # empty — pin it at sf0.01 where the non-vacuous guard holds
    if name == "adamic_adar_suppliers":
        sf_dir = oracle_sf_dir
    conf = spark.conf
    orig = conf.get("spark.sql.shuffle.partitions")
    orig_aqe = conf.get("spark.sql.adaptive.enabled")
    # vary BOTH execution knobs that reorder partial aggregation: few
    # fat partitions with AQE's runtime coalescing vs many thin static
    # ones — two maximally different association orders
    try:
        conf.set("spark.sql.shuffle.partitions", "2")
        conf.set("spark.sql.adaptive.enabled", "true")
        a = _canon(_QUERIES[name](spark, sf_dir).collect())
        conf.set("spark.sql.shuffle.partitions", "32")
        conf.set("spark.sql.adaptive.enabled", "false")
        b = _canon(_QUERIES[name](spark, sf_dir).collect())
    finally:
        conf.set("spark.sql.shuffle.partitions", orig)
        conf.set("spark.sql.adaptive.enabled", orig_aqe)
    assert a == b, f"{name}: result depends on shuffle partitioning"
    assert a, f"{name}: empty result at sf0.001 — pin is vacuous"
