"""Interleaved A/B probe: time one query under two env settings in ONE JVM.

    python tools/ab_probe.py --env SPARK_GRAFT_FANOUT --a 1 --b 0 \
        [--reps N] [--sf DIR] q1 q2 ...

Host-speed drift (the round-13 machine-speed watch) makes adjacent
whole-process probes incomparable: the canary can halve between two runs
minutes apart.  This probe builds BOTH plan variants in the same session
(the env var is read at plan-construction time) and alternates single
noop-sink executions A,B,A,B,... so every pair of samples shares the same
host conditions within seconds.  Reports per-variant medians and the
pairwise delta, which is robust to any drift slower than one rep.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env_name, a_val, b_val = "SPARK_GRAFT_FANOUT", "1", "0"
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif args[i] == "--env":
            env_name = args[i + 1]; i += 2
        elif args[i] == "--a":
            a_val = args[i + 1]; i += 2
        elif args[i] == "--b":
            b_val = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    from mapreducemovieanalysis_cloud_spark.session import get_session

    spark = get_session(app_name="ab-probe")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    qs = e.queries()

    def run(df) -> float:
        t = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t

    for name in names:
        fn = qs[name]
        os.environ[env_name] = a_val
        df_a = fn(spark, sf_dir)
        os.environ[env_name] = b_val
        df_b = fn(spark, sf_dir)
        os.environ.pop(env_name, None)
        spark.sparkContext.setJobDescription(f"ab-probe warm: {name}")
        run(df_a); run(df_b)  # warm both
        sa, sb = [], []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"ab {name} A rep{r}")
            sa.append(run(df_a))
            spark.sparkContext.setJobDescription(f"ab {name} B rep{r}")
            sb.append(run(df_b))
        med_a, med_b = statistics.median(sa), statistics.median(sb)
        deltas = sorted(x - y for x, y in zip(sa, sb))
        print(json.dumps({
            "name": name,
            f"{env_name}={a_val}": round(med_a, 4),
            f"{env_name}={b_val}": round(med_b, 4),
            "median_pair_delta_a_minus_b": round(statistics.median(deltas), 4),
            "a_samples": [round(s, 4) for s in sa],
            "b_samples": [round(s, 4) for s in sb],
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
