"""Pins bench.py's store-consumer instrument resolution (r09 verdict
item 4): every store consumer resolves from the registry, and a name
missing from it is reported as a warning, never a crash — so the
round-over-round reading never silently vanishes."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench


def test_registry_resolution_wins_after_promotion():
    sentinel = object()
    qs = {name: sentinel for name in bench.STORE_CONSUMER}
    got, missing = bench._resolve_store_consumers(qs)
    assert all(got[name] is sentinel for name in bench.STORE_CONSUMER)
    assert missing == []


def test_machine_load_recorded():
    # r11 verdict item 2: the artifact must carry 1/5/15-min loadavg +
    # CPU count so noise-vs-regression adjudication is data, not prose.
    # The loadavg keys are asserted only where the platform provides
    # them — _machine_load deliberately omits them when os.getloadavg
    # is absent or raises (r12 advisor item 3: the test must not encode
    # a stricter contract than the helper).
    load = bench._machine_load()
    assert load["cpu_count"] == os.cpu_count() and load["cpu_count"] > 0
    try:
        os.getloadavg()
        have_loadavg = True
    except (AttributeError, OSError):
        have_loadavg = False
    if have_loadavg:
        for key in ("loadavg_1m", "loadavg_5m", "loadavg_15m"):
            assert key in load and load[key] >= 0.0


def test_speed_canary_records_rate():
    # Round-13 blind-spot close: loadavg reads 0.08 while the host runs
    # the whole shingle family at ~2x its band (SCALE.md, 2026-08-16) —
    # contention outside this kernel's runqueue.  The canary times a
    # FIXED single-thread SHA-256 workload so cross-day machine speed
    # is a field in the artifact, not a prose adjudication.
    c = bench._speed_canary(n_mb=8)
    assert c["workload"].startswith("sha256, 8 MiB x1 thread + ")
    assert c["sec"] > 0 and c["mb_per_s"] > 0
    # the parallel leg (the one that sees a noisy neighbor: single-
    # thread was dead stable while 32-thread stages ran 2x slow) must
    # record a positive aggregate rate on every platform with threads
    assert c["agg_sec"] > 0 and c["agg_mb_per_s"] > 0
    # the default size is always positive
    assert bench.CANARY_MB > 0


def test_reading_summary_carries_canary_rate():
    # Every entry of the rolling readings array must carry the canary
    # rate alongside loadavg — the two fields together decide whether a
    # drifted sweep is machine or code.
    r = bench._reading_summary(
        5.0, 0.5, {"loadavg_1m": 0.1}, 0.1, False,
        {"mb_per_s": 1234.5, "agg_mb_per_s": 9876.5, "sec": 0.2},
    )
    assert r["canary_mb_per_s"] == 1234.5
    assert r["canary_agg_mb_per_s"] == 9876.5
    assert r["canary_degraded"] is False
    assert bench._reading_summary(
        5.0, 0.5, {}, 0.1, False, {}, canary_degraded=True
    )["canary_degraded"] is True
    assert r["loadavg_1m"] == 0.1
    assert r["value"] == 5.0 and r["iqr"] == 0.5 and r["sf"] == 0.1
    assert r["contaminated"] is False and r["adopted"] is False
    # platform-tolerant: a canary without a rate records None, never raises
    assert (
        bench._reading_summary(5.0, 0.5, {}, 0.1, True, {})[
            "canary_mb_per_s"
        ]
        is None
    )


def test_load_gate_quiet_machine_passes_immediately():
    # r12 verdict item 3: under the threshold, no sleeping at all.
    slept = []
    record, contaminated = bench._load_gate(
        threshold=1.5, max_wait_s=60, poll_s=5,
        sleep=slept.append, getload=lambda: (0.4, 0.3, 0.2),
    )
    assert not contaminated
    assert slept == []
    assert record == {
        "threshold": 1.5, "waited_s": 0.0, "final_loadavg_1m": 0.4,
    }


def test_load_gate_waits_then_clears():
    # Loaded at first, quiet after two polls: the gate must retry and
    # record the wait + the loadavg the measurements actually ran under.
    loads = iter([(4.7,), (3.0,), (0.5,)])
    slept = []
    record, contaminated = bench._load_gate(
        threshold=1.5, max_wait_s=60, poll_s=10,
        sleep=slept.append, getload=lambda: next(loads),
    )
    assert not contaminated
    assert slept == [10, 10]
    assert record["waited_s"] == 20.0
    assert record["final_loadavg_1m"] == 0.5


def test_load_gate_bounded_wait_stamps_contaminated():
    # Machine never goes quiet: the gate must give up at max_wait_s and
    # flag the run self-disqualifying for seed adoption — the exact r12
    # failure (headline artifact taken at loadavg 4.69) becomes a data
    # field instead of a prose adjudication.
    slept = []
    record, contaminated = bench._load_gate(
        threshold=1.5, max_wait_s=30, poll_s=20,
        sleep=slept.append, getload=lambda: (4.69, 4.0, 3.0),
    )
    assert contaminated
    assert slept == [20, 10]  # second poll truncated to the bound
    assert record["waited_s"] == 30.0
    assert record["final_loadavg_1m"] == 4.69


def test_load_gate_no_loadavg_platform_is_noop():
    record, contaminated = bench._load_gate(
        threshold=1.5, max_wait_s=30, poll_s=5,
        sleep=lambda s: None, getload=None,
    )
    assert not contaminated
    assert record["final_loadavg_1m"] is None


_CANARY_OK = {"mb_per_s": 1300.0, "agg_mb_per_s": 12000.0}
_CANARY_LOW = {"mb_per_s": 1300.0, "agg_mb_per_s": 4800.0}


def test_canary_gate_no_history_is_noop():
    # First run on a machine (or a foreign seed): nothing to compare
    # against, so the gate records why and never sleeps.
    slept = []
    record, canary, degraded = bench._canary_gate(
        [], sleep=slept.append, run_canary=lambda: dict(_CANARY_LOW),
    )
    assert not degraded and slept == []
    assert record["best_prior_agg_mb_per_s"] is None
    assert record["final_agg_mb_per_s"] == 4800.0
    assert canary["agg_mb_per_s"] == 4800.0


def test_canary_gate_healthy_passes_immediately():
    prior = [{"canary_agg_mb_per_s": 13494.6}]
    slept = []
    record, canary, degraded = bench._canary_gate(
        prior, sleep=slept.append, run_canary=lambda: dict(_CANARY_OK),
    )
    assert not degraded and slept == []
    assert record["best_prior_agg_mb_per_s"] == 13494.6
    assert record["waited_s"] == 0.0


def test_canary_gate_waits_then_recovers():
    # The motivating failure: agg at ~35% of the history best with
    # loadavg 0.57.  The gate must sleep-and-retry until the host
    # recovers, then proceed undegraded.
    prior = [{"canary_agg_mb_per_s": 13494.6}]
    seq = [dict(_CANARY_LOW), dict(_CANARY_LOW), dict(_CANARY_OK)]
    slept = []
    record, canary, degraded = bench._canary_gate(
        prior, max_wait_s=60, poll_s=15,
        sleep=slept.append, run_canary=lambda: seq.pop(0),
    )
    assert not degraded
    assert slept == [15, 15]
    assert record["waited_s"] == 30.0
    assert record["final_agg_mb_per_s"] == 12000.0


def test_canary_gate_bounded_wait_stamps_degraded():
    prior = [{"canary_agg_mb_per_s": 13494.6}]
    slept = []
    record, canary, degraded = bench._canary_gate(
        prior, max_wait_s=30, poll_s=20,
        sleep=slept.append, run_canary=lambda: dict(_CANARY_LOW),
    )
    assert degraded
    assert slept == [20, 10]  # second poll truncated to the bound
    assert record["waited_s"] == 30.0
    assert record["final_agg_mb_per_s"] == 4800.0


def test_best_prior_agg_tolerates_junk_entries():
    # max over whatever parses: pre-canary entries (no field), nulls,
    # and non-numeric junk must not crash the unattended bench.
    assert bench._best_prior_agg(None) == 0.0
    assert (
        bench._best_prior_agg(
            [
                {"value": 5.04},
                {"canary_agg_mb_per_s": None},
                {"canary_agg_mb_per_s": "junk"},
                {"canary_agg_mb_per_s": 9000.0},
                {"canary_agg_mb_per_s": 13494.6, "contaminated": True},
                None,  # non-dict entries (hand-edited artifact) must
                "junk",  # not crash the unattended bench at startup
            ]
        )
        == 13494.6
    )


def test_adopt_bench_merges_seed_only_observations(tmp_path):
    # An observation committed to the seed AFTER the day's sweep wrote
    # out.json must survive adoption — otherwise the overwrite
    # collapses the canary gate's history back to sick-host readings.
    from tools.adopt_bench import adopt

    out = tmp_path / "out.json"
    seed = tmp_path / "seed.json"
    shared = {"canary_agg_mb_per_s": 12000.0, "source": "both"}
    seed_only = {"canary_agg_mb_per_s": 13494.6, "source": "seed-only"}
    out.write_text(json.dumps({
        "value": 5.5,
        "readings": [{"value": 5.5, "contaminated": False,
                      "adopted": False}],
        "canary_observations": [shared],
    }))
    seed.write_text(json.dumps({
        "value": 5.94,
        "canary_observations": [shared, seed_only],
    }))
    full = adopt(str(out), str(seed))
    assert shared in full["canary_observations"]
    assert seed_only in full["canary_observations"]
    assert len(full["canary_observations"]) == 2  # deduped
    on_disk = json.loads(seed.read_text())
    assert seed_only in on_disk["canary_observations"]


def test_heavy_from_previous_uses_loaded_seed():
    # The helper takes the already-loaded seed dict (no second read of
    # bench_result.json per run) and ranks non-headline queries.
    seed_full = {"queries": {"a": 3.0, "b": 1.0, "hl": 9.0, "c": 2.0}}
    got = bench._heavy_from_previous({"hl"}, seed_full)
    assert got[:3] == ["a", "c", "b"]
    assert bench._heavy_from_previous({"hl"}, {}) == []
    assert bench._heavy_from_previous({"hl"}, {"queries": "junk"}) == []


def test_canary_history_merges_readings_and_observations():
    # The gate must see standalone canary observations (recorded with
    # provenance outside a sweep) alongside sweep readings from BOTH
    # artifacts — otherwise a day whose every sweep ran on a sick host
    # blinds the gate to what healthy looks like.
    out_full = {"readings": [{"canary_agg_mb_per_s": 4785.7}]}
    seed_full = {
        "readings": [{"value": 5.94}],  # pre-canary entry, no rate
        "canary_observations": [
            {"canary_agg_mb_per_s": 13494.6, "source": "standalone"}
        ],
    }
    hist = bench._canary_history(out_full, seed_full)
    assert bench._best_prior_agg(hist) == 13494.6
    # tolerant of absent/foreign fields
    assert bench._canary_history({}, {"canary_observations": "junk"}) == []


def test_read_json_tolerates_missing_and_torn(tmp_path):
    assert bench._read_json(str(tmp_path / "absent.json")) == {}
    torn = tmp_path / "torn.json"
    torn.write_text('{"value": 5.0, "readings": [')
    assert bench._read_json(str(torn)) == {}
    foreign = tmp_path / "foreign.json"
    foreign.write_text("[1, 2, 3]")
    assert bench._read_json(str(foreign)) == {}


def test_readings_array_appends_and_caps():
    # r12 verdict item 4: the day's sweeps accumulate in the artifact.
    prev = {"readings": [{"value": 5.44, "adopted": True}]}
    got = bench._append_reading(prev, {"value": 5.04, "adopted": False})
    assert [r["value"] for r in got] == [5.44, 5.04]
    # tolerate a missing/foreign previous file
    assert bench._append_reading({}, {"value": 1.0}) == [{"value": 1.0}]
    assert bench._append_reading({"readings": "junk"}, {"value": 1.0}) == [
        {"value": 1.0}
    ]
    # rolling cap
    many = {"readings": [{"value": float(i)} for i in range(25)]}
    capped = bench._append_reading(many, {"value": 99.0})
    assert len(capped) == bench.MAX_READINGS
    assert capped[-1]["value"] == 99.0


def test_adopt_bench_flips_flag_and_refuses_contaminated(tmp_path):
    # tools/adopt_bench.py is the executable form of the round-open
    # "adopt the day's best sweep" protocol: exactly one adopted row,
    # contaminated readings refused without --force.
    import pytest

    from tools.adopt_bench import adopt

    out = tmp_path / "out.json"
    seed = tmp_path / "seed.json"
    readings = [
        {"value": 7.02, "iqr": 1.81, "contaminated": True, "adopted": False},
        {"value": 5.04, "iqr": 0.60, "contaminated": False, "adopted": False},
    ]
    out.write_text(json.dumps({"value": 5.04, "readings": readings}))
    full = adopt(str(out), str(seed))
    flags = [r["adopted"] for r in full["readings"]]
    assert flags == [False, True]
    assert json.loads(seed.read_text())["readings"][1]["adopted"] is True

    # latest reading contaminated -> refused without force
    readings[1]["contaminated"] = True
    out.write_text(json.dumps({"value": 5.04, "readings": readings}))
    with pytest.raises(SystemExit):
        adopt(str(out), str(seed))
    forced = adopt(str(out), str(seed), force=True)
    assert forced["readings"][-1]["force_adopted"] is True

    # canary-degraded latest -> refused the same way (the round-13
    # canary gate: the host delivering a fraction of its parallel
    # capacity is contamination, whatever loadavg says)
    readings[1]["contaminated"] = False
    readings[1]["canary_degraded"] = True
    out.write_text(json.dumps({"value": 5.04, "readings": readings}))
    with pytest.raises(SystemExit):
        adopt(str(out), str(seed))
    forced = adopt(str(out), str(seed), force=True)
    assert forced["readings"][-1]["force_adopted"] is True


def test_store_consumer_per_name_isolation(spark, sf_dir):
    # r11 advisor item 2: a consumer that raises mid-loop must degrade
    # to an error entry while every OTHER consumer's reading survives.
    def boom(spark, sf_dir):
        raise RuntimeError("store build failed")

    def ok(spark, sf_dir):
        return spark.range(5)

    timings, errors = bench._time_store_consumers(
        spark, sf_dir, {"first_ok": ok, "broken": boom, "last_ok": ok}
    )
    assert sorted(timings) == ["first_ok", "last_ok"]
    assert list(errors) == ["broken"]
    assert "store build failed" in errors["broken"]


def test_epoch_compaction_instrument(spark):
    # r11 verdict item 4: the compaction tier gets a round-over-round
    # reading — build epochs, read merged, fold, read again.
    # N is pinned to the LITERAL 24 (r12 verdict item 7): the trend
    # line across BENCH_r12+ artifacts only means something if the
    # synthetic-epoch recipe stays fixed — changing N must be a
    # deliberate edit HERE, acknowledging the trend reset.
    assert bench.N_COMPACTION_EPOCHS == 24
    reading = bench._epoch_compaction_instrument(spark)
    assert reading["epochs"] == bench.N_COMPACTION_EPOCHS
    assert reading["folded"] == bench.N_COMPACTION_EPOCHS
    for key in (
        "merged_read_before_sec", "compact_sec", "merged_read_after_sec",
    ):
        assert reading[key] > 0.0


def test_missing_name_is_reported_not_fatal():
    # A STORE_CONSUMER name absent from the registry dict (renamed or
    # removed) must degrade to an absent reading PLUS a warning entry,
    # never crash the bench (the driver runs it unattended).
    absent = bench.STORE_CONSUMER[-1]
    qs = {name: object() for name in bench.STORE_CONSUMER if name != absent}
    got, missing = bench._resolve_store_consumers(qs)
    assert absent not in got
    assert sorted(got) == sorted(qs)
    assert missing == [absent]
