"""Property-based tests (hypothesis) for the mergeable-sketch store
algebra — the claims the round-11/12/13 incremental-store tier rests
on, here exercised over RANDOM data and RANDOM batch splits rather
than the wave test files' fixed two-way parity splits:

* FM register masks: OR-merge of per-batch masks == full-corpus masks,
  and duplicated rows change nothing (idempotence) — the "row-level
  batch splits are safe" claim of operators/sketches.py.
* CMS cells: per-batch cells ADD to the full-corpus cells, and the
  min-over-depth estimate never underestimates a key's true count (the
  one-sided CMS guarantee the heavy-hitter consumer relies on).
* Histogram store: the integer percentile rule (first bin where
  100*cum >= q*total) selects exactly the bin containing the
  ceil(q*n/100)-ranked element, for any value distribution and split.
* KMV bottom-k: the merged incremental store equals the full-corpus
  sketch — BK(A ∪ B) = BK(BK(A) ∪ BK(B)) with the distinct-at-merge
  rule, for any document-to-batch assignment.

Each example costs Spark jobs, so example counts are deliberately
small (the test_properties.py convention) — the value is randomized
structure (splits, skew, duplication), not volume."""

from __future__ import annotations

import hashlib
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 2)),
        min_size=1,
        max_size=50,
    )
)
@settings(**_SETTINGS)
def test_fm_masks_batch_split_and_duplication_invariant(spark, rows):
    from mapreducemovieanalysis_cloud_spark.operators.sketches import (
        fm_register_masks,
    )

    df = spark.createDataFrame(rows, ["uid", "b"]).withColumn(
        "g", F.col("uid") % 2
    )
    full = fm_register_masks(df, ["g"], "uid", registers=4)
    want = _rows(full, ["g", "r", "m"])

    parts = [
        fm_register_masks(
            df.where(F.col("b") == k), ["g"], "uid", registers=4
        )
        for k in range(3)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    merged = u.groupBy("g", "r").agg(F.expr("bit_or(m)").alias("m"))
    assert _rows(merged, ["g", "r", "m"]) == want

    doubled = fm_register_masks(
        df.unionByName(df), ["g"], "uid", registers=4
    )
    assert _rows(doubled, ["g", "r", "m"]) == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d", "e", "hot", "hot"]),
            st.integers(0, 2),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(**_SETTINGS)
def test_cms_cells_add_and_never_underestimate(spark, rows):
    from mapreducemovieanalysis_cloud_spark.operators import sketches

    depth, width = 3, 8
    df = spark.createDataFrame(rows, ["k", "b"])
    full = sketches._cms_cells(df, "k", depth, width)
    want = _rows(full, ["row_idx", "bucket", "cell_count"])

    parts = [
        sketches._cms_cells(df.where(F.col("b") == i), "k", depth, width)
        for i in range(3)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    merged = u.groupBy("row_idx", "bucket").agg(
        F.sum("cell_count").alias("cell_count")
    )
    assert _rows(merged, ["row_idx", "bucket", "cell_count"]) == want

    # One-sided error: min over a key's depth cells >= its true count.
    cells = {(r.row_idx, r.bucket): r.cell_count for r in full.collect()}
    true = {}
    for k, _ in rows:
        true[k] = true.get(k, 0) + 1
    for k, n in true.items():
        est = min(
            cells[
                (
                    i,
                    int(
                        hashlib.md5(f"{i}:{k}".encode()).hexdigest()[:4],
                        16,
                    )
                    % width,
                )
            ]
            for i in range(depth)
        )
        assert est >= n, (k, est, n)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["p1", "p2"]),
            st.integers(0, 2000),
            st.integers(0, 1),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_hist_percentile_bin_contains_rank_element(spark, rows):
    from mapreducemovieanalysis_cloud_spark.operators import sketches

    width = 100
    qs = (50, 90)
    df = spark.createDataFrame(rows, ["g", "cents", "b"])
    store = tempfile.mkdtemp(prefix="hist_prop_")
    try:
        for i in range(2):
            sketches.incremental_hist_append(
                df.where(F.col("b") == i), store, f"b{i}", "g", "cents",
                width,
            )
        got = {
            r.g: r for r in sketches.hist_percentiles(
                spark, store, "g", width, qs
            ).collect()
        }
    finally:
        shutil.rmtree(store, ignore_errors=True)

    by_g: dict[str, list[int]] = {}
    for g, cents, _ in rows:
        by_g.setdefault(g, []).append(cents)
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        assert got[g].n_rows == n
        for q in qs:
            rank = (q * n + 99) // 100  # first cum with 100*cum >= q*n
            want_lo = (vals[rank - 1] // width) * width
            assert got[g][f"p{q}_lo_cents"] == want_lo, (g, q, vals)


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.lists(
                st.sampled_from(list("abcdefgh")), min_size=3, max_size=8
            ),
            st.integers(0, 1),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_kmv_merged_store_equals_full_corpus_sketch(spark, docs):
    from mapreducemovieanalysis_cloud_spark.operators import corpus_overlap

    k = 8
    rows = [
        (i, src, " ".join(words), b)
        for i, (src, words, b) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text", "b"])
    full = corpus_overlap.bottomk_sketches(
        df, group_col="source", text_col="text", k=k
    )
    store = tempfile.mkdtemp(prefix="kmv_prop_")
    try:
        for i in range(2):
            corpus_overlap.incremental_kmv_append(
                df.where(F.col("b") == i), store, f"b{i}",
                group_col="source", text_col="text", k=k,
            )
        merged = corpus_overlap.incremental_kmv_sketches(spark, store, k=k)
        assert _rows(merged, ["grp", "h"]) == _rows(full, ["grp", "h"])
    finally:
        shutil.rmtree(store, ignore_errors=True)
