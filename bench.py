"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric", "value", "unit", "queries", "sf", "all_queries_total_sec",
     "n_queries", "reps", "headline_iqr", "family_value", "family_queries",
     "heavy_median3", "machine_load_start", "machine_load_end"}

Timing mirrors the reference's driver-side wall clock
(``MovieRank.java:204-210``) but materializes through Spark's noop sink so
the full plan executes without driver-side collection.  Every query is
built, run once to warm (JIT + IO cache), then timed:

* HEADLINE and HEADLINE_FAMILY queries: median of REPS runs, with the
  inter-quartile range in ``headline_iqr`` / per-query ``spread``.  A
  single shot of the headline swung 5.44 s -> 7.49 s on unchanged code,
  so one measurement cannot separate a regression under ~40% from noise.
  ``value`` sums the fixed HEADLINE set so it stays comparable as the
  registry grows; the family is reported separately for the same reason.
* every other query: one warm shot.  Five reps of ~270 coverage queries
  would not fit the run's budget.
* the N_HEAVY_MEDIAN3 slowest of those one-shot queries in this run are
  rebuilt and timed twice more; ``heavy_median3`` is the median of three.
  A single shot of a heavy query once read 4x its warm median.

The stdout line keeps only the headline per-query timings so it stays
short enough to survive output-capture truncation; the complete per-query
breakdown, with ``spread``, goes to the gitignored ``bench_result.out.json``
next to this file.  ``machine_load_start``/``_end`` (loadavg + CPU count)
are recorded so a noisy reading can be told from a regression by data.
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
# Kept FIXED so "value" stays comparable across changes (first baseline
# 5.44 s at sf0.1).
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

# North-star family representatives: the dedup / search / semantic
# families the project exists for, timed like the headline.
HEADLINE_FAMILY = [
    "dedup_minhash_lsh",
    "search_bm25_stored_index",
    "semantic_dedup",
]

REPS = 5
N_HEAVY_MEDIAN3 = 10


def _machine_load() -> dict:
    """1/5/15-min loadavg + CPU count; the loadavg keys are omitted on
    platforms without ``os.getloadavg``."""
    out: dict = {"cpu_count": os.cpu_count()}
    try:
        l1, l5, l15 = os.getloadavg()
        out.update(
            loadavg_1m=round(l1, 2),
            loadavg_5m=round(l5, 2),
            loadavg_15m=round(l15, 2),
        )
    except (AttributeError, OSError):
        pass
    return out


def _run(df) -> float:
    """Wall seconds for one noop-sink execution of ``df``."""
    start = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - start


def _median_iqr(samples) -> tuple[float, float]:
    """Median and inter-quartile range of ``samples``; the IQR is 0.0
    for fewer than three samples."""
    med = statistics.median(samples)
    if len(samples) < 3:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(samples, n=4)
    return med, q3 - q1


def _heaviest(first_shot: dict, gated) -> list[str]:
    """The N_HEAVY_MEDIAN3 slowest queries of ``first_shot`` (name ->
    seconds) outside ``gated``, slowest first."""
    ranked = sorted(
        (n for n in first_shot if n not in gated), key=lambda n: -first_shot[n]
    )
    return ranked[:N_HEAVY_MEDIAN3]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_start = _machine_load()
    spark = get_session(app_name="engine-bench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        qs = registry.queries()
        gated = [n for n in HEADLINE + HEADLINE_FAMILY if n in qs]
        names = gated + [n for n in sorted(qs) if n not in gated]
        samples: dict[str, list[float]] = {}
        for name in names:
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()  # warm
            n_reps = REPS if name in gated else 1
            samples[name] = [_run(df) for _ in range(n_reps)]
        first_shot = {n: s[0] for n, s in samples.items()}
        heavy = _heaviest(first_shot, set(gated))
        for name in heavy:
            df = qs[name](spark, sf_dir)
            samples[name] += [_run(df) for _ in range(2)]
    finally:
        spark.stop()
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}  # IQR, for queries timed 3+ times
    for name, s in samples.items():
        med, iqr = _median_iqr(s)
        timings[name] = round(med, 4)
        if len(s) >= 3:
            spread[name] = round(iqr, 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline-query wall clock (median of %d), noop sink, "
        "local mode" % REPS,
        "value": round(sum(timings[n] for n in HEADLINE if n in timings), 4),
        "unit": "sec",
        "queries": {n: timings[n] for n in HEADLINE if n in timings},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "all_queries_total_sec": round(sum(timings.values()), 4),
        "n_queries": len(timings),
        "reps": REPS,
        "headline_iqr": round(sum(spread.get(n, 0.0) for n in HEADLINE), 4),
        "family_value": round(
            sum(timings[n] for n in HEADLINE_FAMILY if n in timings), 4
        ),
        "family_queries": {
            n: timings[n] for n in HEADLINE_FAMILY if n in timings
        },
        "heavy_median3": {n: timings[n] for n in sorted(heavy)},
        "machine_load_start": load_start,
        "machine_load_end": _machine_load(),
    }
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_result.out.json"
    )
    with open(out_path, "w") as fh:
        json.dump(dict(result, queries=timings, spread=spread), fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
