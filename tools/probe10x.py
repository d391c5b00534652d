"""Empirical 10x scaling probe (SCALE.md protocol): for each named query,
measure warm wall clock and shuffle-write bytes at sf0.01 and sf0.1.

    python tools/probe10x.py q1 q2 ...

Warm = one untimed run first; the timed run's shuffle bytes are the sum of
shuffle-write across stages submitted during that run (stage API via the
local UI REST endpoint).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e

SFS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def _stages(port: int) -> list[dict]:
    base = f"http://localhost:{port}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    app_id = apps[0]["id"]
    return json.load(
        urllib.request.urlopen(
            f"{base}/{app_id}/stages?status=complete", timeout=10
        )
    )


def main() -> None:
    from pyspark.sql import SparkSession

    names = sys.argv[1:]
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[1])
    qs = e.queries()
    for name in names:
        for sf in SFS:
            fn = qs[name]
            fn(spark, sf).write.format("noop").mode("overwrite").save()  # warm
            before = {s["stageId"] for s in _stages(port)}
            t0 = time.monotonic()
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            wall = time.monotonic() - t0
            time.sleep(0.5)
            new = [
                s
                for s in _stages(port)
                if s["stageId"] not in before
            ]
            sw = sum(s.get("shuffleWriteBytes", 0) for s in new)
            print(
                f"{name} @ {os.path.basename(sf)}: "
                f"{wall:.2f} s / {sw / 1e6:.3f} MB shuffle-write "
                f"({len(new)} stages)"
            )
    spark.stop()


if __name__ == "__main__":
    main()
