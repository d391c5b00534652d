"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Headline queries are measured as the MEDIAN of ``$SPARK_GRAFT_BENCH_REPS``
(default 5) warm repetitions, with the inter-quartile range reported
alongside (``headline_iqr`` / per-query ``spread``): the r02->r03 rounds
showed the single-shot headline swinging 5.44s -> 7.49s with unchanged
code — pure machine-load variance — so a single measurement cannot
distinguish a real regression under ~40% from noise.  The north-star family
representatives (HEADLINE_FAMILY) get the same median-of-reps treatment and
are reported separately so the historical headline total stays comparable.
The top-N most expensive remaining queries (seeded from the previous round's
bench_result.json) get median-of-3: round 4's official artifact recorded
dedup_jaccard at 8.0 s on a single shot where the true warm median is ~2 s.
All other queries keep one warm shot each (they are coverage, not the
regression gate, and 213 x 5 repetitions would blow the driver's budget).

The stdout line keeps only the headline per-query timings so it stays short
enough to survive any output-capture truncation (BENCH_r01 recorded
``parsed: null`` because the full 74-query line was cut mid-stream); the
complete per-query breakdown is written to ``bench_result.out.json`` next to
this file.  SEED vs OUTPUT are split (r06 verdict item 3): the heavy-query
median-of-3 seed is read from the COMMITTED ``bench_result.json``, while
every run writes its result to the gitignored ``bench_result.out.json`` —
so a driver bench run no longer dirties the working tree.  The round-open
checklist adopts the previous round's adopted measurement by copying
``bench_result.out.json`` (or the driver's BENCH artifact) over
``bench_result.json`` and committing it explicitly.

Round 12 additions: ``machine_load_start`` / ``machine_load_end``
(1/5/15-min loadavg + CPU count — noise-vs-regression adjudication is
data in the artifact, not ledger prose), per-consumer isolation in the
store-consumer instrument (one failing consumer reports under
``store_consumer_errors`` while the rest keep their readings), and the
``epoch_compaction`` leg (build N epochs, time the merged read, fold
via sources/writers.compact_epochs, time again).

Round 13 additions (r12 verdict items 3/4 — the load instrument now
GATES instead of merely annotating, after two consecutive rounds
shipped load-contaminated canonical artifacts):

* ``load_gate`` — before any measurement, if 1-min loadavg exceeds
  ``LOAD_GATE_THRESHOLD`` the bench sleeps-and-retries up to
  ``LOAD_GATE_MAX_WAIT_S`` seconds; the artifact records
  ``{threshold, waited_s, final_loadavg_1m}``.  If the machine is
  STILL loaded after the bounded wait, ``load_contaminated: true`` is
  stamped so no human has to adjudicate the headline from prose.
* ``readings`` — every run appends its own summary (headline value,
  IQR, start loadavg, sf, adopted flag) to a rolling array carried in
  ``bench_result.out.json``; ``tools/adopt_bench.py`` copies the
  output over the committed seed and flips ``adopted`` on the final
  entry, so the "adopt the lowest-IQR sweep of the day" protocol is
  auditable from data, never from ledger prose.

Timing mirrors the reference's driver-side wall clock
(``MovieRank.java:204-210``) but materializes through Spark's noop sink so the
full plan executes without driver-side collection.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreducemovieanalysis_cloud_spark import registry
from mapreducemovieanalysis_cloud_spark.session import get_session

# Headline set: the reference-parity pipelines plus TPC-H representatives.
# Kept FIXED so "value" stays comparable across rounds (r02 baseline 5.44 s).
HEADLINE = [
    "movie_rank",
    "movie_rank_desc",
    "movie_rating",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q18_large_volume",
    "tpch_q7_nation_volume",
    "tpch_q10_returned_items",
    "tpch_q4_order_priority",
]

# North-star family representatives (r04 verdict item 5): the dedup /
# search / semantic families the project exists for get the same
# median-of-reps regression gate, reported under "family_value" /
# "family_queries" so the historical headline total stays comparable.
HEADLINE_FAMILY = [
    "dedup_minhash_lsh",
    "search_bm25_stored_index",
    "semantic_dedup",
]

# How many of the most expensive remaining queries (seeded from the PREVIOUS
# round's bench_result.json) get median-of-3 instead of a single warm shot.
# r04 demonstrated why one shot misleads: the driver artifact recorded
# dedup_jaccard at 8.0 s where its true warm median is ~2 s (r04 verdict
# item 2) — a false 4x signal in the official artifact.
N_HEAVY_MEDIAN3 = 10

# Stored-index consumer instrument (r09 verdict item 4): the incremental
# stores' wall advantage (stored_graph_triangles serves the sf0.1 triangle
# count in ~1.05 s / 7 stages vs ~1.8 s / 18.1 MB shuffle with the edge
# derivation inlined) is tracked round-over-round under
# "store_consumer_queries" instead of being claimed once in SCALE.md.
# Resolved from the registry; a name missing from it is reported under
# "store_consumer_unresolved".  Median-of-3, warm store (the warm-up shot
# builds it); NOT summed into "value"/"all_queries_total_sec" so the
# historical totals stay comparable.
STORE_CONSUMER = [
    "incremental_graph_edges",
    "stored_graph_triangles",
    # the DIRECTED-store consumer: its warm-read advantage over the
    # 41 MB inline derivation (SCALE.md round-11 probes)
    "stored_hits_authority",
]


def _resolve_store_consumers(qs: dict) -> tuple[dict, list[str]]:
    """Resolve each STORE_CONSUMER name from the registry dict ``qs``;
    names missing from it are returned as warnings so a silently-vanished
    reading is visible in the artifact instead of just absent."""
    out = {name: qs[name] for name in STORE_CONSUMER if name in qs}
    missing = [name for name in STORE_CONSUMER if name not in qs]
    return out, missing


# Epoch-compaction instrument (r11 verdict item 4): how many synthetic
# single-day epochs the leg builds before folding.  Small enough to keep
# the leg a few seconds; large enough that the O(epochs) listing +
# per-dir footer-open cost is visible in the before/after read split.
N_COMPACTION_EPOCHS = 24


# Load gate (r12 verdict item 3).  Threshold rationale: the recorded
# contamination signatures were loadavg 4.69 (r12, 7.02 s headline) and
# the r11 dedup_jaccard 6.30 s outlier, while every idle adopted seed
# was taken at loadavg < 0.5; 1.5 on a 32-CPU box is comfortably above
# background daemons yet far below any concurrent Spark run.  The wait
# is BOUNDED so the unattended driver bench always completes: ~3 min
# covers a just-killed prior JVM's loadavg decay (1-min EMA) without
# eating the round's budget.
LOAD_GATE_THRESHOLD = 1.5
LOAD_GATE_MAX_WAIT_S = 180.0
LOAD_GATE_POLL_S = 15.0

# Rolling cap on the readings array: a day's sweeps are 2-6 entries,
# so 20 keeps several rounds of history without growing unboundedly.
MAX_READINGS = 20


_OS_LOADAVG = object()  # sentinel: resolve os.getloadavg at call time


def _load_gate(
    threshold: float = None,
    max_wait_s: float = None,
    poll_s: float = None,
    sleep=time.sleep,
    getload=_OS_LOADAVG,
) -> tuple[dict, bool]:
    """Sleep-and-retry until 1-min loadavg drops under ``threshold`` or
    the bounded wait expires.  Returns ``(gate_record, contaminated)``:
    the record goes into the artifact verbatim; ``contaminated`` is
    True when the machine never went quiet (the headline reps then run
    anyway — the driver's artifact slot must be filled — but the flag
    makes the reading self-disqualifying for seed adoption).  On
    platforms without loadavg the gate is a no-op recording null."""
    threshold = LOAD_GATE_THRESHOLD if threshold is None else threshold
    max_wait_s = LOAD_GATE_MAX_WAIT_S if max_wait_s is None else max_wait_s
    poll_s = LOAD_GATE_POLL_S if poll_s is None else poll_s
    if getload is _OS_LOADAVG:
        getload = getattr(os, "getloadavg", None)
    record = {"threshold": threshold, "waited_s": 0.0}
    if getload is None:
        record["final_loadavg_1m"] = None
        return record, False
    waited = 0.0
    try:
        load1 = getload()[0]
        while load1 > threshold and waited < max_wait_s:
            step = min(poll_s, max_wait_s - waited)
            sleep(step)
            waited += step
            load1 = getload()[0]
    except OSError:
        record["final_loadavg_1m"] = None
        return record, False
    record["waited_s"] = round(waited, 1)
    record["final_loadavg_1m"] = round(load1, 2)
    return record, load1 > threshold


def _read_json(path: str) -> dict:
    """Tolerant read of a prior artifact: a missing, torn, or foreign
    file is an empty history, never a crash of the unattended bench."""
    try:
        with open(path) as fh:
            out = json.load(fh)
        return out if isinstance(out, dict) else {}
    except (OSError, ValueError):
        return {}


def _append_reading(prev_full: dict, reading: dict) -> list[dict]:
    """The rolling readings array (r12 verdict item 4): carry forward
    the previous output's array (tolerating a missing/foreign file) and
    append this run's summary, capped at MAX_READINGS."""
    prior = prev_full.get("readings", [])
    if not isinstance(prior, list):
        prior = []
    return (prior + [reading])[-MAX_READINGS:]


def _machine_load() -> dict:
    """1/5/15-min loadavg + CPU count, recorded at bench start and end:
    turns the recurring noise-vs-regression adjudication (r10
    char_entropy, r11 lsh_recall / dedup_jaccard) from ledger prose
    into data in the artifact (r11 verdict item 2)."""
    out: dict = {"cpu_count": os.cpu_count()}
    try:
        l1, l5, l15 = os.getloadavg()
        out.update(
            loadavg_1m=round(l1, 2),
            loadavg_5m=round(l5, 2),
            loadavg_15m=round(l15, 2),
        )
    except OSError:
        pass
    return out


# Machine-speed canary (round 13, closing the load gate's remaining
# blind spot).  Motivating reading, 2026-08-16: isolated median-of-5
# probes on IDENTICAL code at 1-min loadavg 0.08 read the whole shingle
# family uniformly ~2x its recorded band (containment_pairs 4.13 s vs
# the r12 1.72, dedup_jaccard 3.21 vs 1.63, jaccard_threshold_sweep
# 3.13 vs 1.69) — host-level slowdown (shared-host neighbors, CPU
# frequency) that loadavg CANNOT see, because the contention is outside
# this kernel's runqueue.  A fixed single-thread SHA-256 workload timed
# before the JVM starts turns "was today's machine the same speed as
# yesterday's?" into a field: family-uniform drift that tracks the
# canary rate is the machine; drift that doesn't is the code.
CANARY_MB = 256


def _speed_canary(n_mb: int = None) -> dict:
    """Two legs, both SHA-256 over a fixed buffer (deterministic work,
    allocation-light, JVM-independent, <1 s total at the default size):

    - ``mb_per_s`` — ``n_mb`` MiB on ONE thread: core speed.
    - ``agg_mb_per_s`` — ``n_mb``/4 MiB on EACH of cpu_count threads
      (hashlib releases the GIL for >2 KiB updates, so this is real
      parallelism), median of 3: deliverable parallel capacity.  This
      is the leg that sees a noisy neighbor — the 2026-08-16 reading
      had the single-thread rate dead stable (1430/1428 MB/s) while
      Spark's 32-thread stages ran 2x slow, i.e. a lone thread still
      got a full core but the box could not deliver 32.

    The artifact stamps the dict top-level; the rolling ``readings``
    array carries both rates per entry."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    n_mb = CANARY_MB if n_mb is None else n_mb
    buf = b"\xa5" * (1 << 20)

    def _hash_mb(count: int) -> None:
        h = hashlib.sha256()
        for _ in range(count):
            h.update(buf)

    start = time.monotonic()
    _hash_mb(n_mb)
    single_s = time.monotonic() - start

    n_threads = os.cpu_count() or 1
    per_thread = max(1, n_mb // 4)
    agg_samples = []
    for _ in range(3):
        start = time.monotonic()
        with ThreadPoolExecutor(n_threads) as ex:
            list(ex.map(_hash_mb, [per_thread] * n_threads))
        agg_samples.append(time.monotonic() - start)
    agg_s = statistics.median(agg_samples)
    return {
        "workload": "sha256, %d MiB x1 thread + %d MiB x%d threads"
        % (n_mb, per_thread, n_threads),
        "sec": round(single_s, 4),
        "mb_per_s": round(n_mb / single_s, 1) if single_s > 0 else None,
        "agg_sec": round(agg_s, 4),
        "agg_mb_per_s": round(per_thread * n_threads / agg_s, 1)
        if agg_s > 0
        else None,
    }


def _reading_summary(
    headline_total: float,
    iqr: float,
    load_start: dict,
    sf,
    contaminated: bool,
    canary: dict,
    canary_degraded: bool = False,
) -> dict:
    """One entry of the rolling ``readings`` array (r12 verdict item 4 +
    the round-13 canary): everything needed to compare this sweep with
    any other sweep without opening its full artifact."""
    return {
        "value": headline_total,
        "iqr": iqr,
        "loadavg_1m": load_start.get("loadavg_1m"),
        "canary_mb_per_s": canary.get("mb_per_s"),
        "canary_agg_mb_per_s": canary.get("agg_mb_per_s"),
        "canary_degraded": bool(canary_degraded),
        "sf": sf,
        "contaminated": bool(contaminated),
        "adopted": False,  # flipped by tools/adopt_bench.py at adoption
    }


# Canary gate (round 13, same shape as the load gate): the first live
# canary reading caught the headline at 8.80 s with the aggregate rate
# at 35% of its hour-earlier value AND loadavg 0.57 — a sweep the load
# gate waved through.  Before measuring, compare the aggregate rate to
# the BEST prior reading in the rolling history (self-calibrating per
# machine — no absolute MB/s constant survives a hardware change) and
# sleep-and-retry, bounded, until the host recovers; if it never does,
# stamp ``canary_degraded`` so the reading self-disqualifies from seed
# adoption (tools/adopt_bench.py refuses it without --force) while the
# driver's artifact slot still gets filled.
CANARY_GATE_RATIO = 0.6


def _best_prior_agg(readings) -> float:
    """Highest aggregate canary rate in the rolling history — max is
    robust to degraded/contaminated entries (low values never win), so
    no filtering is needed."""
    best = 0.0
    for r in readings or []:
        if not isinstance(r, dict):  # null / string junk in a hand-
            continue  # edited artifact must not crash the bench
        try:
            rate = float(r.get("canary_agg_mb_per_s") or 0.0)
        except (TypeError, ValueError):
            continue
        best = max(best, rate)
    return best


def _canary_history(out_full: dict, seed_full: dict) -> list:
    """Everything the gate may compare against: the rolling sweep
    readings of both artifacts PLUS any ``canary_observations`` —
    standalone ``_speed_canary()`` measurements recorded (with
    provenance) outside a sweep, e.g. the 13,494.6 MB/s healthy-host
    reading taken during the round-13 probes before the host degraded.
    Observations exist so the history is not blinded when every actual
    sweep of a day ran on a sick host; they carry the same
    ``canary_agg_mb_per_s`` key the readings do."""
    hist: list = []
    for full in (out_full, seed_full):
        for key in ("readings", "canary_observations"):
            val = full.get(key)
            if isinstance(val, list):
                hist.extend(val)
    return hist


def _canary_gate(
    prior_readings,
    ratio: float = None,
    max_wait_s: float = None,
    poll_s: float = None,
    sleep=time.sleep,
    run_canary=None,
) -> tuple[dict, dict, bool]:
    """Returns ``(gate_record, final_canary, degraded)``.  With no prior
    canary history (first run on a machine, foreign seed) the gate is a
    no-op recording why — it can only tighten once history exists."""
    ratio = CANARY_GATE_RATIO if ratio is None else ratio
    max_wait_s = LOAD_GATE_MAX_WAIT_S if max_wait_s is None else max_wait_s
    poll_s = LOAD_GATE_POLL_S if poll_s is None else poll_s
    if run_canary is None:
        run_canary = _speed_canary
    best = _best_prior_agg(prior_readings)
    record = {
        "ratio": ratio,
        "best_prior_agg_mb_per_s": best or None,
        "waited_s": 0.0,
    }
    canary = run_canary()
    agg = canary.get("agg_mb_per_s")
    if not best or not agg:
        record["final_agg_mb_per_s"] = agg
        return record, canary, False
    floor = best * ratio
    waited = 0.0
    while agg < floor and waited < max_wait_s:
        step = min(poll_s, max_wait_s - waited)
        sleep(step)
        waited += step
        canary = run_canary()
        agg = canary.get("agg_mb_per_s") or 0.0
    record["waited_s"] = round(waited, 1)
    record["final_agg_mb_per_s"] = agg
    return record, canary, agg < floor


def _epoch_compaction_instrument(spark) -> dict:
    """Round-over-round reading for the epoch-store compaction tier
    (r11 verdict item 4): build N single-day epochs, time the merged
    read (median-of-3, warm), fold with the store's own merge algebra
    (sources/writers.compact_epochs), time the read again.  A synthetic
    counts store in a temp dir — the leg measures the LAYOUT cost
    (O(epochs) listing + per-dir footer opens vs one folded dir), not a
    query, so no oracle applies.  Not summed into any total."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.sources.writers import (
        compact_epochs,
        read_epochs,
        write_epoch,
    )

    root = tempfile.mkdtemp(prefix="bench_epochs_")
    try:
        base = spark.range(2000).select(
            (F.col("id") % 500).alias("k"), F.lit(1).alias("cnt")
        )
        for b in range(N_COMPACTION_EPOCHS):
            write_epoch(base, root, f"d{b:03d}")

        def merge(df):
            return df.groupBy("k").agg(F.sum("cnt").alias("cnt"))

        def read_merged() -> float:
            t = time.monotonic()
            merge(read_epochs(spark, root)).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.monotonic() - t

        read_merged()  # warm
        before = statistics.median(sorted(read_merged() for _ in range(3)))
        t = time.monotonic()
        folded = compact_epochs(spark, root, merge)
        fold_sec = time.monotonic() - t
        after = statistics.median(sorted(read_merged() for _ in range(3)))
        return {
            "epochs": N_COMPACTION_EPOCHS,
            "folded": folded,
            "merged_read_before_sec": round(before, 4),
            "compact_sec": round(fold_sec, 4),
            "merged_read_after_sec": round(after, 4),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _time_store_consumers(spark, sf_dir: str, consumers: dict) -> tuple[
    dict, dict
]:
    """Median-of-3 warm timing per store consumer, with PER-CONSUMER
    isolation (r11 advisor item 2): one consumer failing to build or
    time must not drop the readings for every consumer after it — each
    degrades independently and all healthy readings survive."""
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in consumers.items():
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()  # warm + store build
            samples = sorted(_run(df) for _ in range(3))
            timings[name] = round(statistics.median(samples), 4)
        except Exception as exc:
            errors[name] = repr(exc)[:200]
    return timings, errors


def _heavy_from_previous(headline: set[str], seed_full: dict) -> list[str]:
    """Top-N most expensive non-headline queries per the committed seed
    (already loaded by main — no second read of the same file)."""
    prev = seed_full.get("queries")
    if not isinstance(prev, dict):
        return []
    ranked = sorted(
        (n for n in prev if n not in headline),
        key=lambda n: -prev[n],
    )
    return ranked[:N_HEAVY_MEDIAN3]


def _run(df) -> float:
    start = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - start


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    here = os.path.dirname(os.path.abspath(__file__))
    prev_full = _read_json(os.path.join(here, "bench_result.out.json"))
    seed_full = _read_json(os.path.join(here, "bench_result.json"))
    # Ordering matters: load gate, then the load sample (BEFORE the
    # canary — its all-core burst would otherwise inflate the recorded
    # loadavg on an idle box), then the canary gate, which runs before
    # the JVM exists so it reads the bare machine, not competition with
    # executor threads.  Prior history = rolling output + committed
    # seed, so the gate works on a fresh checkout (seed only) and
    # across a day's sweeps (out.json).
    gate_record, contaminated = _load_gate()
    load_start = _machine_load()
    canary_gate_record, canary, canary_degraded = _canary_gate(
        _canary_history(prev_full, seed_full)
    )
    # load that arrived DURING a canary wait (up to the bounded 180 s)
    # would otherwise escape the contamination stamp: re-run the load
    # gate after a non-zero wait — its own sleep-and-retry lets any
    # canary-burst loadavg transient decay, while genuine new load
    # persists past the bound and stamps the reading
    if canary_gate_record.get("waited_s", 0) and not contaminated:
        post_record, post_contaminated = _load_gate()
        gate_record["post_canary_wait"] = post_record
        contaminated = contaminated or post_contaminated
    spark = get_session(app_name="engine-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    gated = [n for n in HEADLINE + HEADLINE_FAMILY if n in qs]
    heavy = set(_heavy_from_previous(set(gated), seed_full)) & set(qs)
    names = gated + [n for n in sorted(qs) if n not in gated]
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}  # IQR across reps (median-of-reps only)
    for name in names:
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm (JIT + IO cache)
        n_reps = reps if name in gated else (3 if name in heavy else 1)
        samples = sorted(_run(df) for _ in range(n_reps))
        timings[name] = round(statistics.median(samples), 4)
        if n_reps >= 3:
            q1, _, q3 = statistics.quantiles(samples, n=4)
            spread[name] = round(q3 - q1, 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # "value" sums the FIXED headline set so it stays comparable across
    # rounds as the registry grows; the all-query total is reported
    # separately (a growing registry would otherwise read as a regression).
    headline_total = round(
        sum(timings[n] for n in HEADLINE if n in timings), 4
    )
    result = {
        "metric": "headline-query wall clock (median of %d), noop sink, "
        "local mode" % reps,
        "value": headline_total,
        "unit": "sec",
        "queries": {n: timings[n] for n in HEADLINE if n in timings},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "all_queries_total_sec": round(sum(timings.values()), 4),
        "n_queries": len(timings),
        "reps": reps,
        "headline_iqr": round(
            sum(spread.get(n, 0.0) for n in HEADLINE), 4
        ),
        "family_value": round(
            sum(timings[n] for n in HEADLINE_FAMILY if n in timings), 4
        ),
        "family_queries": {
            n: timings[n] for n in HEADLINE_FAMILY if n in timings
        },
        "heavy_median3": {n: timings[n] for n in sorted(heavy)},
        "machine_load_start": load_start,
        "machine_speed_canary": canary,
        "load_gate": gate_record,
        "canary_gate": canary_gate_record,
    }
    if contaminated:
        result["load_contaminated"] = True
    if canary_degraded:
        result["canary_degraded"] = True
    consumers, missing = _resolve_store_consumers(qs)
    if missing:
        result["store_consumer_unresolved"] = missing
    store_timings, store_errors = _time_store_consumers(
        spark, sf_dir, consumers
    )
    if store_errors:
        result["store_consumer_errors"] = store_errors
    result["store_consumer_queries"] = store_timings
    try:
        result["epoch_compaction"] = _epoch_compaction_instrument(spark)
    except Exception as exc:  # never crash the unattended bench
        result["epoch_compaction_error"] = repr(exc)[:200]
    # end-of-run load LAST so it reflects the whole measurement window
    result["machine_load_end"] = _machine_load()
    reading = _reading_summary(
        headline_total,
        result["headline_iqr"],
        load_start,
        result["sf"],
        contaminated,
        canary,
        canary_degraded,
    )
    # re-read the rolling output AT WRITE TIME: the start-of-run
    # snapshot fed the gate history, but a concurrent bench invocation
    # may have appended its reading since — merging against the fresh
    # file keeps the lost-update window at milliseconds, not the whole
    # sweep
    prev_full = _read_json(os.path.join(here, "bench_result.out.json"))
    result["readings"] = _append_reading(prev_full, reading)
    # carry canary_observations forward (deduped) from BOTH prior
    # artifacts: adoption copies the output over the seed, so an
    # observation living only in the seed would otherwise be lost at
    # the next adoption
    obs: list = []
    for full_prior in (prev_full, seed_full):
        val = full_prior.get("canary_observations")
        if isinstance(val, list):
            for o in val:
                if o not in obs:
                    obs.append(o)
    if obs:
        result["canary_observations"] = obs
    full = dict(result, queries=timings, spread=spread)
    # NOT bench_result.json: that file is the committed median-of-3 seed,
    # and writing the live result there dirtied the tree on every driver
    # run (r06 verdict item 3) — adoption into the seed is an explicit
    # round-open commit, never a side effect of running the bench.
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_result.out.json"
    )
    with open(out_path, "w") as fh:
        json.dump(full, fh, indent=1)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
