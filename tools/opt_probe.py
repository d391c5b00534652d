"""Round-13 optimization probe: isolated per-query timing + plan capture.

    python tools/opt_probe.py [--reps N] [--sf DIR] [--plans TAG] q1 q2 ...

For each named registered query: one warm run, then median of
``--reps`` (default 5) noop-sink runs — the bench's exact methodology
(guide §1.4) in an isolated process so one query's JIT/GC does not bleed
into another's reading.  With ``--plans TAG`` the pre-execution
``explain("formatted")`` is written to ``plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<TAG>.txt`` (default r14)
(the optimization round's before/after evidence files).

Prints one JSON line per query: {"name", "median", "iqr", "samples"} and
a final line with the machine-speed canary so a sick-host reading is
visible next to the numbers it contaminates (SCALE.md round-13
machine-speed watch).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _speed_canary  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_tag = None
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif args[i] == "--plans":
            plans_tag = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    canary_before = _speed_canary()

    from mapreducemovieanalysis_cloud_spark.session import get_session

    spark = get_session(app_name="opt-probe")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    qs = e.queries()

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"),
    )
    for name in names:
        fn = qs[name]
        df = fn(spark, sf_dir)
        if plans_tag:
            os.makedirs(plans_dir, exist_ok=True)
            with open(
                os.path.join(plans_dir, f"{name}_{plans_tag}.txt"), "w"
            ) as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        spark.sparkContext.setJobDescription(f"opt-probe: {name}")
        df.write.format("noop").mode("overwrite").save()  # warm
        samples = []
        for _ in range(reps):
            t = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.monotonic() - t)
        samples.sort()
        med = statistics.median(samples)
        iqr = 0.0
        if reps >= 3:
            q1, _, q3 = statistics.quantiles(samples, n=4)
            iqr = q3 - q1
        print(json.dumps({
            "name": name,
            "median": round(med, 4),
            "iqr": round(iqr, 4),
            "samples": [round(s, 4) for s in samples],
        }), flush=True)
    canary_after = _speed_canary()
    print(json.dumps({
        "canary_agg_before": canary_before.get("agg_mb_per_s"),
        "canary_agg_after": canary_after.get("agg_mb_per_s"),
        "sf_dir": sf_dir,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
