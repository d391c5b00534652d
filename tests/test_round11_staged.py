"""Parity + contracts for the round-11 wave (queries/round11_staged.py):
the exact Spark-vs-DuckDB comparison the driver runs, the wave's
registration pin, plan hygiene, behavioral checks on planted corpora,
and independent python brute-force replays for every shared-double
formula."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark import registry
from mapreducemovieanalysis_cloud_spark.queries.round11_staged import (
    BENFORD_MICRO,
)
from tests.oracle import assert_matches_oracle

ROUND11 = (
    "adamic_adar_suppliers",
    "anf_reach_suppliers",
    "benford_price_audit",
    "chisq_lang_source",
    "cusum_changepoint_events",
    "incremental_graph_edges",
    "seasonal_hour_decompose",
)


@pytest.mark.parametrize("name", ROUND11)
def test_staged_matches_oracle(spark, oracle_sf_dir, name):
    assert_matches_oracle(
        registry.queries()[name](spark, oracle_sf_dir),
        registry.oracle_sql()[name],
        oracle_sf_dir,
    )


def test_staged_are_registered():
    """ROUND11 is exactly the set of queries round11_staged registers, each
    with an oracle: a query added to the module without a parity entry
    above, or a name above that no longer registers, fails here."""
    mod = "mapreducemovieanalysis_cloud_spark.queries.round11_staged"
    live = {
        name for name, fn in registry.queries().items()
        if fn.__module__ == mod
    }
    assert live == set(ROUND11)
    assert live <= set(registry.oracle_sql())


def test_staged_plan_hygiene(executed_plan):
    """No CartesianProduct ever; BroadcastNestedLoopJoin only for the
    deliberate bounded broadcasts listed here."""
    BNLJ_BY_DESIGN = {
        # catalog-sized marginal grid (|langs| x |sources|) + 1-row
        # total / dims broadcasts
        "chisq_lang_source",
        # 9-row Benford reference table broadcast onto the priority
        # totals
        "benford_price_audit",
        # 16-row register table broadcast onto the node set
        "anf_reach_suppliers",
    }
    offenders_cart, offenders_bnlj = [], []
    for name in ROUND11:
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


# ---- chi-square ---------------------------------------------------------------


def test_chisq_independent_mix_scores_zero(spark, tmp_path):
    """A contingency where every source has the SAME language mix is
    exactly independent: every cell's expected equals its observed, all
    contributions are zero, chi2 is zero.  A planted dependent mix must
    score strictly positive with the dependent cells carrying it."""
    from mapreducemovieanalysis_cloud_spark.queries.round11_staged import (
        chisq_lang_source,
    )

    rows = []
    did = 0
    # independent: each of 2 sources has 2 en + 1 de
    for src in ("s0", "s1"):
        for lang in ("en", "en", "de"):
            rows.append((did, "x", lang, src, 1))
            did += 1
    sf = str(tmp_path / "indep")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    got = chisq_lang_source(spark, sf).collect()
    assert len(got) == 4  # 2 langs x 2 sources
    assert all(r.contrib_micro == 0 for r in got)
    assert all(r.chi2_micro == 0 for r in got)
    assert all(r.dof == 1 for r in got)

    # dependent: s0 all-en, s1 all-de
    rows = [(i, "x", "en" if i < 3 else "de", "s0" if i < 3 else "s1", 1)
            for i in range(6)]
    sf2 = str(tmp_path / "dep")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{sf2}/documents.parquet")
    got2 = chisq_lang_source(spark, sf2).collect()
    # perfect association on a 2x2 with equal margins: chi2 = n = 6
    assert all(r.chi2_micro == 6_000_000 for r in got2)
    assert all(r.contrib_micro == 1_500_000 for r in got2)


def test_chisq_matches_bruteforce_python(spark, oracle_sf_dir):
    """Independent python replay of the chi-square formula on the real
    sf0.01 contingency — exact integer equality cell by cell, so a
    formula error shared between the query and its hand-written oracle
    cannot hide."""
    from collections import Counter

    from mapreducemovieanalysis_cloud_spark.queries.round11_staged import (
        chisq_lang_source,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, oracle_sf_dir, "documents").select(
        "lang", "source"
    ).collect()
    obs = Counter((r.lang, r.source) for r in docs)
    rt = Counter(r.lang for r in docs)
    ct = Counter(r.source for r in docs)
    n = len(docs)
    got = {
        (r.lang, r.source): r
        for r in chisq_lang_source(spark, oracle_sf_dir).collect()
    }
    assert len(got) == len(rt) * len(ct)
    chi2 = 0
    for (lang, src), r in got.items():
        e = rt[lang] * ct[src] / n
        o = obs.get((lang, src), 0)
        assert r.n_obs == o
        assert r.expected_micro == round(e * 1_000_000)
        contrib = round((o - e) ** 2 / e * 1_000_000)
        assert r.contrib_micro == contrib
        chi2 += contrib
    assert all(r.chi2_micro == chi2 for r in got.values())
    assert all(
        r.dof == (len(rt) - 1) * (len(ct) - 1) for r in got.values()
    )


# ---- Benford ------------------------------------------------------------------


def test_benford_constants_are_exact():
    """The baked micro constants must be round(log10(1+1/d)*1e6) and
    sum to exactly 1_000_000 (a distribution)."""
    assert [m for _, m in BENFORD_MICRO] == [
        round(math.log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)
    ]
    assert sum(m for _, m in BENFORD_MICRO) == 1_000_000


def test_benford_planted_digits(spark, tmp_path):
    """A priority whose prices all lead with digit 1 puts its entire
    share mass on digit 1: share_micro = 1e6 there, 0 elsewhere, and
    TVD = (1e6 - 301030) = the mass that must move off digit 1
    ((sum of |dev|) / 2 telescopes to exactly that)."""
    from mapreducemovieanalysis_cloud_spark.queries.round11_staged import (
        benford_price_audit,
    )

    import datetime

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (i, 1, "O", 1000.0 + i, ts, "1-URGENT") for i in range(10)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.parquet(f"{sf}/orders.parquet")
    got = {r.lead_digit: r for r in benford_price_audit(spark, sf).collect()}
    assert sorted(got) == list(range(1, 10))
    assert got[1].share_micro == 1_000_000
    assert got[1].n_digit == 10 and got[1].n_orders == 10
    assert all(got[d].share_micro == 0 for d in range(2, 10))
    want_tvd = 1_000_000 - 301_030
    assert all(r.tvd_half_micro == want_tvd for r in got.values())


# ---- CUSUM --------------------------------------------------------------------


def _write_events(spark, sf, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{sf}/events.parquet")


def test_cusum_locates_planted_level_shift(spark, tmp_path):
    """A series that runs at 1 event/hour for 24 hours then 3/hour for
    24 hours has its |CUSUM| extremum exactly at the last pre-shift
    hour — the textbook single-changepoint signature."""
    import datetime

    from mapreducemovieanalysis_cloud_spark.queries.round11_staged import (
        cusum_changepoint_events,
    )

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for h in range(48):
        per = 1 if h < 24 else 3
        for k in range(per):
            rows.append(
                (eid, base + datetime.timedelta(hours=h, minutes=k),
                 0, "view", 1.0, "{}")
            )
            eid += 1
    sf = str(tmp_path)
    _write_events(spark, sf, rows)
    [r] = cusum_changepoint_events(spark, sf).collect()
    base_hour = int(base.timestamp()) // 3600
    assert r.n_hours == 48
    assert r.mean_cnt_micro == 2_000_000
    # hours 0..23 each contribute dev = -1e6; the minimum of S (and the
    # max of |S|) is at the last pre-shift hour
    assert r.cp_hour_idx == base_hour + 23
    assert r.cusum_at_cp_micro == -24_000_000
    assert r.max_abs_cusum_micro == 24_000_000


def test_cusum_flat_series_is_quiet(spark, tmp_path):
    """A perfectly flat series has S = 0 everywhere; the tie-break
    picks the first hour and the magnitude is zero."""
    import datetime

    from mapreducemovieanalysis_cloud_spark.queries.round11_staged import (
        cusum_changepoint_events,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (h, base + datetime.timedelta(hours=h), 0, "view", 1.0, "{}")
        for h in range(24)
    ]
    sf = str(tmp_path)
    _write_events(spark, sf, rows)
    [r] = cusum_changepoint_events(spark, sf).collect()
    assert r.max_abs_cusum_micro == 0
    assert r.cp_hour_idx == int(base.timestamp()) // 3600


# ---- seasonal decomposition ----------------------------------------------------


def test_seasonal_constant_series_decomposes_to_zero(spark, tmp_path):
    """A constant series is all trend: trend = c, seasonal = 0,
    residual = 0, and only interior hours (full 25-hour windows) are
    emitted."""
    import datetime

    from mapreducemovieanalysis_cloud_spark.queries.round11_staged import (
        seasonal_hour_decompose,
    )

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    n_hours = 72
    for h in range(n_hours):
        for k in range(2):
            rows.append(
                (eid, base + datetime.timedelta(hours=h, minutes=k),
                 0, "view", 1.0, "{}")
            )
            eid += 1
    sf = str(tmp_path)
    _write_events(spark, sf, rows)
    got = seasonal_hour_decompose(spark, sf).collect()
    assert len(got) == n_hours - 24  # 12 trimmed each side
    assert all(r.n_events == 2 for r in got)
    assert all(r.trend_micro == 2_000_000 for r in got)
    assert all(r.seasonal_micro == 0 for r in got)
    assert all(r.residual_micro == 0 for r in got)


def test_seasonal_matches_bruteforce_python(spark, tmp_path):
    """Independent python replay (trunc-division integer arithmetic, the
    documented semantics) on a planted daily-cycle series — exact
    equality on every component row."""
    import datetime

    from mapreducemovieanalysis_cloud_spark.queries.round11_staged import (
        seasonal_hour_decompose,
    )

    base = datetime.datetime(2024, 1, 1)
    pattern = [1, 3, 2, 5, 4, 2, 1, 6] * 3  # 24-periodic
    rows, eid = [], 0
    n_hours = 96
    counts = [pattern[h % 24] + (h // 30) for h in range(n_hours)]
    for h, c in enumerate(counts):
        for k in range(c):
            rows.append(
                (eid, base + datetime.timedelta(hours=h, minutes=k),
                 0, "view", 1.0, "{}")
            )
            eid += 1
    sf = str(tmp_path)
    _write_events(spark, sf, rows)
    got = {
        r.hour_idx: r for r in seasonal_hour_decompose(spark, sf).collect()
    }

    def tdiv(a, b):  # trunc toward zero, Spark DIV == DuckDB //
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    base_hour = int(base.timestamp()) // 3600
    trend, det = {}, {}
    for h in range(12, n_hours - 12):
        s25 = sum(counts[h - 12 : h + 13])
        trend[h] = tdiv(s25 * 1_000_000, 25)
        det[h] = counts[h] * 1_000_000 - trend[h]
    seas = {}
    for hod in range(24):
        xs = [det[h] for h in det if (base_hour + h) % 24 == hod]
        seas[hod] = tdiv(sum(xs), len(xs))
    assert len(got) == len(det)
    for h, r in ((h, got[base_hour + h]) for h in det):
        assert r.n_events == counts[h]
        assert r.trend_micro == trend[h]
        assert r.seasonal_micro == seas[(base_hour + h) % 24]
        assert r.residual_micro == det[h] - seas[(base_hour + h) % 24]


# ---- Adamic-Adar ---------------------------------------------------------------


def test_adamic_adar_planted_graph(spark):
    """Hand-computed scores on a tiny graph: path 1-2-3-4 plus edges
    1-5, 2-5.  Non-edge (2,4) shares neighbor 3 (deg 2); (1,3) and
    (3,5) share neighbor 2 (deg 3); existing edges never appear."""
    from mapreducemovieanalysis_cloud_spark.operators.graph import (
        adamic_adar_scores,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 5), (2, 5)], "u long, v long"
    )
    got = {(r.u, r.v): r for r in adamic_adar_scores(edges).collect()}
    w2 = round(1_000_000 / math.log(2))
    w3 = round(1_000_000 / math.log(3))
    assert got[(2, 4)].score_micro == w2
    assert got[(1, 3)].score_micro == w3
    assert got[(3, 5)].score_micro == w3
    assert set(got) == {(2, 4), (1, 3), (3, 5)}
    assert all(r.n_common == 1 for r in got.values())


def test_adamic_adar_deg_cap_excludes_hub(spark):
    """A star hub above the cap contributes NO wedges: with deg_cap=3,
    a degree-4 hub's pairs vanish while a small apex's survive."""
    from mapreducemovieanalysis_cloud_spark.operators.graph import (
        adamic_adar_scores,
    )

    # hub 0 connected to 1..4 (deg 4); plus apex 5 connected to 1,2
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (1, 5), (2, 5)],
        "u long, v long",
    )
    got = {(r.u, r.v): r
           for r in adamic_adar_scores(edges, deg_cap=3).collect()}
    # only apex 5 (deg 2) and apexes 1,2 (deg 2 each) are eligible;
    # hub 0 (deg 4) is excluded, so (3,4), (1,3) etc. get nothing
    assert (3, 4) not in got
    assert (1, 2) in got  # common neighbor 5 (deg 2, eligible)
    w2 = round(1_000_000 / math.log(2))
    assert got[(1, 2)].score_micro == w2


# ---- ANF ----------------------------------------------------------------------


def _anf_python(edge_list, hops, registers=16, bit_cap=20):
    """Exact python replay of the FM sketch construction."""
    nodes = sorted({n for e in edge_list for n in e})
    adj = {n: set() for n in nodes}
    for u, v in edge_list:
        adj[u].add(v)
        adj[v].add(u)

    def seed(n, r):
        h = int(
            hashlib.md5(f"anf:{r}:{n}".encode()).hexdigest()[:8], 16
        )
        if h == 0:
            return 1 << bit_cap
        tz = (h & -h).bit_length() - 1
        return 1 << min(tz, bit_cap)

    sk = {n: [seed(n, r) for r in range(registers)] for n in nodes}
    out = {}
    for hop in range(1, hops + 1):
        new = {}
        for n in nodes:
            masks = list(sk[n])
            for nb in adj[n]:
                for r in range(registers):
                    masks[r] |= sk[nb][r]
            new[n] = masks
        sk = new
        for n in nodes:
            b_sum = 0
            for m in sk[n]:
                b = 0
                while m & (1 << b):
                    b += 1
                b_sum += b
            est = round(2 ** (b_sum / registers) / 0.77351 * 1000)
            out[(n, hop)] = (b_sum, est)
    return out


def test_anf_matches_bruteforce_python(spark):
    """Exact replay of the md5 seeding, per-hop OR propagation, and
    lowest-unset-bit estimate on a two-component planted graph — bit
    sums and milli estimates must agree exactly, and the two components
    must never contaminate each other (checked by replaying one
    component alone)."""
    from mapreducemovieanalysis_cloud_spark.operators.graph import (
        anf_reach,
    )

    comp_a = [(1, 2), (2, 3), (3, 4)]  # path
    comp_b = [(10, 11), (11, 12), (10, 12)]  # triangle
    edges = spark.createDataFrame(comp_a + comp_b, "u long, v long")
    got = {
        (r.node, r.hop): (r.b_sum, r.est_reach_milli)
        for r in anf_reach(edges, hops=3).collect()
    }
    want = _anf_python(comp_a + comp_b, hops=3)
    assert got == want
    # isolation: component A's sketches equal A-alone's sketches
    want_a = _anf_python(comp_a, hops=3)
    for key, val in want_a.items():
        assert got[key] == val


def test_anf_saturates_on_complete_graph(spark):
    """On K4 every node sees the whole graph at hop 1: all four nodes
    share the identical OR-of-all-seeds sketch, and hop 2/3 add
    nothing."""
    from mapreducemovieanalysis_cloud_spark.operators.graph import (
        anf_reach,
    )

    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    edges = spark.createDataFrame(k4, "u long, v long")
    rows = anf_reach(edges, hops=3).collect()
    by_hop = {}
    for r in rows:
        by_hop.setdefault(r.hop, set()).add(
            (r.b_sum, r.est_reach_milli)
        )
    assert all(len(v) == 1 for v in by_hop.values())  # identical per hop
    assert by_hop[1] == by_hop[2] == by_hop[3]


# ---- incremental co-occurrence graph store ---------------------------------


def test_incremental_graph_batch_split_invariance(spark, tmp_path):
    """The store's core claim: appending complete-group batches in any
    split yields EXACTLY the full-rebuild edge list — one batch, two
    batches, and the direct cooccurrence_edges derivation must agree
    row for row (counts add)."""
    from mapreducemovieanalysis_cloud_spark.operators.graph import (
        cooccurrence_edges,
        incremental_cooccurrence_append,
        incremental_cooccurrence_edges,
    )

    rows = [
        (g, s)
        for g in range(20)
        for s in ([1, 2, 3] if g % 3 == 0 else [2, 3, 4])
    ]
    items = spark.createDataFrame(rows, "g long, s long")

    def build(store, splits):
        for i, pred in enumerate(splits):
            incremental_cooccurrence_append(
                items.where(pred), store, f"b{i}",
                group_col="g", node_col="s",
            )
        return sorted(
            (r.u, r.v, r.shared)
            for r in incremental_cooccurrence_edges(
                spark, store, min_shared=3
            ).collect()
        )

    one = build(str(tmp_path / "one"), [F.lit(True)])
    two = build(
        str(tmp_path / "two"),
        [F.col("g") % 2 == 0, F.col("g") % 2 == 1],
    )
    want = sorted(
        (r.u, r.v, r.shared)
        for r in cooccurrence_edges(
            items, group_col="g", node_col="s", min_shared=3
        )
        .join(
            incremental_cooccurrence_edges(
                spark, str(tmp_path / "one"), min_shared=3
            ).select("u", "v", "shared"),
            ["u", "v"],
        )
        .select("u", "v", "shared")
        .collect()
    )
    assert one == two
    assert one == want
    assert one  # non-vacuous


def test_incremental_graph_retry_idempotence(spark, tmp_path):
    """A retried batch append overwrites its own epoch instead of
    doubling its pair counts (the write_epoch exactly-once contract)."""
    from mapreducemovieanalysis_cloud_spark.operators.graph import (
        incremental_cooccurrence_append,
        incremental_cooccurrence_edges,
    )

    items = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11)], "g long, s long"
    )
    store = str(tmp_path / "store")
    incremental_cooccurrence_append(
        items, store, "b0", group_col="g", node_col="s"
    )
    once = incremental_cooccurrence_edges(spark, store).collect()
    # the retry: same batch id, same data
    incremental_cooccurrence_append(
        items, store, "b0", group_col="g", node_col="s"
    )
    twice = incremental_cooccurrence_edges(spark, store).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))
    assert sorted(map(tuple, once)) == [(10, 11, 2)]
