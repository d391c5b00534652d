"""Parity + contracts for the round-14 wave (queries/round14_staged.py):
the exact Spark-vs-DuckDB comparison the driver runs, the wave's
registration pin, plan hygiene, behavioral checks on planted corpora,
and independent python brute-force replays for the integer recurrences
and the shared-double Zipf formula."""

from __future__ import annotations

import datetime
import math
import random

import pytest
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark import registry
from tests.oracle import assert_matches_oracle

ROUND14 = (
    "components_stored_edges",
    "incremental_directed_edges",
    "pagerank_weighted_stored",
    "session_funnel_steps",
    "session_transition_matrix",
    "stored_hits_authority",
    "zipf_slope_tokens",
)


def _ts(s):
    return datetime.datetime.fromisoformat(s)


@pytest.mark.parametrize("name", ROUND14)
def test_staged_matches_oracle(spark, oracle_sf_dir, name):
    assert_matches_oracle(
        registry.queries()[name](spark, oracle_sf_dir),
        registry.oracle_sql()[name],
        oracle_sf_dir,
    )


def test_staged_are_registered():
    """ROUND14 is exactly the set of queries round14_staged registers, each
    with an oracle: a query added to the module without a parity entry
    above, or a name above that no longer registers, fails here."""
    mod = "mapreducemovieanalysis_cloud_spark.queries.round14_staged"
    live = {
        name for name, fn in registry.queries().items()
        if fn.__module__ == mod
    }
    assert live == set(ROUND14)
    assert live <= set(registry.oracle_sql())


def test_stored_hits_oracle_is_round13_verbatim():
    """The consumer-tested-store contract (the stored_graph_triangles
    precedent): stored_hits_authority must be checked against the
    round-13 HITS truth BYTE-FOR-BYTE — a drifted copy would let the
    store and the inline derivation diverge while both stay green."""
    live = registry.oracle_sql()
    assert live["stored_hits_authority"] == live["hits_trade_authority"]


def test_staged_plan_hygiene(executed_plan):
    """No CartesianProduct and no BroadcastNestedLoopJoin: no query in
    this wave needs a nested-loop join by design."""
    offenders_cart, offenders_bnlj = [], []
    for name in ROUND14:
        plan = executed_plan(name)
        if "CartesianProduct" in plan:
            offenders_cart.append(name)
        if "BroadcastNestedLoopJoin" in plan:
            offenders_bnlj.append(name)
    assert not offenders_cart, offenders_cart
    assert not offenders_bnlj, offenders_bnlj


# ---- directed edge-count store ------------------------------------------------


def test_directed_store_batch_split_invariance(spark, tmp_path):
    """ANY complete-group batch assignment leaves the merged edge list
    equal to a one-shot rebuild (counts add): random 3-way group splits
    over a random bipartite membership set, seeded replay."""
    from mapreducemovieanalysis_cloud_spark.operators import graph

    rng = random.Random(1411)
    rows = [
        (g, rng.randrange(5), 100 + rng.randrange(7))
        for g in range(40)
        for _ in range(rng.randrange(1, 5))
    ]
    df = spark.createDataFrame(rows, "g long, c long, s long")

    # one-shot truth in python: distinct (g, c, s) -> count per (c, s)
    truth: dict[tuple, int] = {}
    for g, c, s in {(g, c, s) for g, c, s in rows}:
        truth[(c, s)] = truth.get((c, s), 0) + 1

    assign = {g: rng.randrange(3) for g in range(40)}
    store = str(tmp_path / "dstore")
    for b in range(3):
        members = [g for g, a in assign.items() if a == b]
        graph.incremental_directed_append(
            df.where(F.col("g").isin(members)), store, f"b{b}",
            group_col="g", src_col="c", dst_col="s",
        )
    merged = {
        (r.src, r.dst): r.n_groups
        for r in graph.incremental_directed_edges(spark, store).collect()
    }
    assert merged == truth


def test_directed_append_retry_is_idempotent(spark, tmp_path):
    """A retried batch overwrites its own epoch, never doubles counts
    (the write_epoch protocol the FM/CMS/LM stores pin)."""
    from mapreducemovieanalysis_cloud_spark.operators import graph

    df = spark.createDataFrame(
        [(1, 10, 100), (1, 10, 101), (2, 11, 100)], "g long, c long, s long"
    )
    store = str(tmp_path / "dstore")
    graph.incremental_directed_append(df, store, "b0", "g", "c", "s")
    graph.incremental_directed_append(df, store, "b0", "g", "c", "s")
    merged = {
        (r.src, r.dst): r.n_groups
        for r in graph.incremental_directed_edges(spark, store).collect()
    }
    assert merged == {(10, 100): 1, (10, 101): 1, (11, 100): 1}


# ---- weighted PageRank ----------------------------------------------------------


def _pagerank_weighted_replay(edges, iters=2, damping_pct=85, scale=10**9):
    """Independent python replay of the quantized-integer weighted
    recurrence (all non-negative, // is the engines' floor div)."""
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    n = len(nodes)
    wsum: dict = {}
    for u, _, w in edges:
        wsum[u] = wsum.get(u, 0) + w
    rank = {v: scale // n for v in nodes}
    base = (100 - damping_pct) * scale
    for _ in range(iters):
        contrib: dict = {}
        for u, v, w in edges:
            contrib[v] = contrib.get(v, 0) + (rank[u] * w) // wsum[u]
        rank = {
            v: base // (100 * n)
            + (damping_pct * contrib.get(v, 0)) // 100
            for v in nodes
        }
    return rank


def test_pagerank_weighted_python_replay(spark):
    """Random weighted digraphs: the operator equals the brute replay
    exactly (integer arithmetic end to end)."""
    from mapreducemovieanalysis_cloud_spark.operators import graph

    rng = random.Random(1412)
    for trial in range(3):
        n_nodes = rng.randrange(4, 9)
        edges = list(
            {
                (rng.randrange(n_nodes), rng.randrange(n_nodes))
                for _ in range(rng.randrange(5, 15))
            }
        )
        edges = [(u, v, rng.randrange(1, 50)) for u, v in edges if u != v]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        got = {
            r.node: r.rank
            for r in graph.pagerank_weighted(df, "w", iters=2).collect()
        }
        assert got == _pagerank_weighted_replay(edges), f"trial {trial}"


def test_pagerank_weighted_follows_weight(spark):
    """Planted: one source splits its rank 9:1 between two sinks — the
    heavy edge's sink must outrank the light one (the thing the
    unweighted kernel cannot see: both sinks have in-degree 1)."""
    from mapreducemovieanalysis_cloud_spark.operators import graph

    df = spark.createDataFrame(
        [(0, 1, 90), (0, 2, 10)], "src long, dst long, w long"
    )
    got = {
        r.node: r.rank
        for r in graph.pagerank_weighted(df, "w", iters=2).collect()
    }
    assert got[1] > got[2]


def test_pagerank_weighted_overflow_domain_fails_fast(spark):
    """Planted int64-overflow domain (r11 verdict item 5): a weight
    column whose per-node sum exceeds ~9e9 would let rank*w wrap
    silently — the operator must raise instead (the wsum aggregate is
    already computed, so the guard is a cheap scalar check)."""
    import pytest

    from mapreducemovieanalysis_cloud_spark.operators import graph

    df = spark.createDataFrame(
        [(0, 1, 8_000_000_000), (0, 2, 5_000_000_000)],
        "src long, dst long, w long",
    )
    with pytest.raises(ValueError, match="int64 domain"):
        graph.pagerank_weighted(df, "w", iters=1)


def test_pagerank_weighted_negative_weight_fails_fast(spark):
    """Negative weights break the Spark-div/DuckDB-// floor-division
    agreement the oracle replay depends on — enforced, not assumed."""
    import pytest

    from mapreducemovieanalysis_cloud_spark.operators import graph

    df = spark.createDataFrame(
        [(0, 1, 5), (0, 2, -3)], "src long, dst long, w long"
    )
    with pytest.raises(ValueError, match="non-negative"):
        graph.pagerank_weighted(df, "w", iters=1)


# ---- components from a planted store --------------------------------------------


def test_components_from_planted_store(spark, tmp_path):
    """Two disjoint co-occurrence cliques in a planted store yield two
    components labeled by their minimum member."""
    from mapreducemovieanalysis_cloud_spark.operators import graph
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        star_components,
    )

    rows = [(1, m) for m in (10, 11, 12)] + [(2, m) for m in (20, 21)]
    df = spark.createDataFrame(rows, "g long, node long")
    store = str(tmp_path / "cstore")
    graph.incremental_cooccurrence_append(
        df, store, "b0", group_col="g", node_col="node"
    )
    edges = graph.incremental_cooccurrence_edges(spark, store).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    nodes = (
        edges.select(F.col("src").alias("suppkey"))
        .union(edges.select(F.col("dst").alias("suppkey")))
        .distinct()
    )
    got = {
        r.suppkey: r.component
        for r in star_components(nodes, edges, id_col="suppkey").collect()
    }
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


# ---- Zipf slope ------------------------------------------------------------------


def _zipf_replay(pairs):
    """Independent python replay of grouped_zipf_slope's quantized
    moment math over (rank, count) pairs: exact int moments, the final
    ratio in IEEE double (python ints convert round-to-nearest exactly
    like DECIMAL(38,0) -> double)."""
    xs = [round(math.log(r) * 1_000_000) for r, _ in pairs]
    ys = [round(math.log(c) * 1_000_000) for _, c in pairs]
    n = len(pairs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    var = n * sxx - sx * sx
    if n < 2 or var <= 0:
        return None
    slope = float(n * sxy - sx * sy) / float(var)
    return (
        n,
        round(slope * 1_000_000.0),
        round((sy - slope * sx) / n),
    )


def test_zipf_slope_python_replay(spark):
    """Random (rank, count) heads: the operator equals the brute replay
    exactly — quantization, moments, and both roundings."""
    from mapreducemovieanalysis_cloud_spark.operators.aggregates import (
        grouped_zipf_slope,
    )

    rng = random.Random(1413)
    rows, want = [], {}
    for g in range(5):
        pairs = [
            (r, rng.randrange(1, 10**6))
            for r in range(1, rng.randrange(3, 40))
        ]
        rows += [(f"g{g}", r, c) for r, c in pairs]
        want[f"g{g}"] = _zipf_replay(pairs)
    df = spark.createDataFrame(rows, "grp string, r long, c long")
    got = {
        r.grp: (r.n_head, r.slope_micro, r.intercept_micro)
        for r in grouped_zipf_slope(df, "grp", "r", "c").collect()
    }
    assert got == want


def test_zipf_slope_recovers_planted_exponent(spark):
    """A perfect c = 10^6 / r head must fit slope ~= -1 (micro units;
    the quantized-log rounding keeps it within +-1000 micro)."""
    from mapreducemovieanalysis_cloud_spark.operators.aggregates import (
        grouped_zipf_slope,
    )

    rows = [("z", r, 10**6 // r) for r in range(1, 101)]
    df = spark.createDataFrame(rows, "grp string, r long, c long")
    [row] = grouped_zipf_slope(df, "grp", "r", "c").collect()
    assert row.n_head == 100
    assert abs(row.slope_micro + 1_000_000) < 1000


def test_zipf_drops_degenerate_groups(spark):
    """A single-row head (undefined fit) vanishes instead of emitting a
    fabricated slope."""
    from mapreducemovieanalysis_cloud_spark.operators.aggregates import (
        grouped_zipf_slope,
    )

    df = spark.createDataFrame(
        [("solo", 1, 500), ("ok", 1, 500), ("ok", 2, 250)],
        "grp string, r long, c long",
    )
    got = {r.grp for r in grouped_zipf_slope(df, "grp", "r", "c").collect()}
    assert got == {"ok"}


# ---- session funnel / transitions -------------------------------------------------


def test_session_funnel_respects_session_boundary(spark):
    """The funnel only advances inside ONE session: a >30-min gap
    between click and purchase resets the chain even though the user
    order is correct."""
    from mapreducemovieanalysis_cloud_spark.operators import timeseries

    rows = [
        # user 1: full funnel inside one session
        (1, 1, _ts("2024-01-01 00:00:00"), "view"),
        (1, 2, _ts("2024-01-01 00:10:00"), "click"),
        (1, 3, _ts("2024-01-01 00:20:00"), "purchase"),
        # user 2: view, then a 40-min gap, then click -> the click's
        # session has no view, so it reaches stage 0 only
        (2, 4, _ts("2024-01-01 00:00:00"), "view"),
        (2, 5, _ts("2024-01-01 00:40:00"), "click"),
        # user 3: view+click in one session, purchase next session
        (3, 6, _ts("2024-01-01 00:00:00"), "view"),
        (3, 7, _ts("2024-01-01 00:10:00"), "click"),
        (3, 8, _ts("2024-01-01 02:00:00"), "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "event_type"])
    out = {
        r.stage: r.n_sessions
        for r in timeseries.session_funnel_counts(
            df, ["view", "click", "purchase"]
        ).collect()
    }
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_session_funnel_requires_strict_order(spark):
    """Within a session the stages must advance in strict time order —
    a purchase BEFORE the click does not count (the funnel_counts
    rule, now session-scoped)."""
    from mapreducemovieanalysis_cloud_spark.operators import timeseries

    rows = [
        (1, 1, _ts("2024-01-01 00:00:00"), "view"),
        (1, 2, _ts("2024-01-01 00:05:00"), "purchase"),
        (1, 3, _ts("2024-01-01 00:10:00"), "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "event_type"])
    out = {
        r.stage: r.n_sessions
        for r in timeseries.session_funnel_counts(
            df, ["view", "click", "purchase"]
        ).collect()
    }
    assert out == {"view": 1, "click": 1, "purchase": 0}


def test_session_transitions_break_at_boundary(spark):
    """Consecutive events across a session boundary are NOT a
    transition; permille normalizes per from_type."""
    from mapreducemovieanalysis_cloud_spark.operators import timeseries

    rows = [
        (1, 1, _ts("2024-01-01 00:00:00"), "view"),
        (1, 2, _ts("2024-01-01 00:10:00"), "click"),
        # 40-min gap: click -> view below must NOT count
        (1, 3, _ts("2024-01-01 00:50:00"), "view"),
        (1, 4, _ts("2024-01-01 00:55:00"), "view"),
        (2, 5, _ts("2024-01-01 00:00:00"), "view"),
        (2, 6, _ts("2024-01-01 00:01:00"), "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "event_type"])
    got = {
        (r.from_type, r.to_type): (r.n_trans, r.p_permille)
        for r in timeseries.session_transition_counts(df).collect()
    }
    assert got == {
        ("view", "click"): (2, 666),
        ("view", "view"): (1, 333),
    }
