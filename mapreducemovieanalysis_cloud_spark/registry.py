"""Query registry: every operator exposed as (spark, sf_dir) -> DataFrame plus
its DuckDB oracle SQL.

This is the engine's public query surface and the driver's correctness gate
(__spark_entry__.py contract): each entry runs on the driver-provided parquet
tables (TESTDATA.md) and must hash-match its oracle at sf=0.01. Column names
are aliased identically on both sides; float aggregates are rounded on both
sides so fp summation order can't flip the hash; timestamps are formatted to
strings on both sides.

Keys are grouped by SURVEY.md §2 operator family.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query and (optionally) its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness run covers a bounded prefix of the registry
# (~50 entries), so registration order is a coverage decision, not a style
# one.  Policy (round 5, per the round-4 verdict items 1 and 3): the order
# is DERIVED MECHANICALLY from the recorded CORRECTNESS_r*.json driver
# artifacts by tools/rotation.py — never-driver-checked queries first, then
# entries whose source table was physically regenerated after their last
# green row, then latest-green round ascending (oldest coverage first),
# alphabetical tiebreak.  The generated list lives in _priority.py;
# tests/test_rotation.py pins that the live registry order matches the
# recomputed policy, so a stale or hand-edited list fails CI.  A newly
# registered query enters as never-checked and takes the head of the
# window; the remaining slots keep paying down the oldest green rows.
from mapreducemovieanalysis_cloud_spark._priority import PRIORITY as _PRIORITY


def _ordered(d: dict) -> dict:
    ordered = {n: d[n] for n in _PRIORITY if n in d}
    ordered.update((n, v) for n, v in d.items() if n not in ordered)
    return ordered


def queries() -> dict[str, QueryFn]:
    _load_all()
    return _ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_all()
    return _ordered(_ORACLES)


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent).

    Imports are UNCONDITIONAL: the original try/except-ImportError let
    modules land incrementally in round 1, but once the full registry
    exists a swallowed import error would silently SHRINK it — the
    driver's bounded correctness window would quietly fall back to
    whatever still imported, reading as "green" while entire families
    went unchecked.  A broken query module must fail the very first
    registry call, loudly, in every consumer (driver, bench, pytest).
    """
    global _LOADED
    if _LOADED:
        return
    import mapreducemovieanalysis_cloud_spark.queries.curation_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.functions_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.graph_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.pipeline_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.reference_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.relational  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.relational2  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round3_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4b_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4c_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4d_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4e_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4f_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4g_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4h_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4i_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4j_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4k_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4l_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round4m_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round7_staged  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round8_staged  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round9_staged  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round10_staged  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round11_staged  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round12_staged  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round13_staged  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.round14_staged  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.scale_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.streaming_queries  # noqa: F401
    import mapreducemovieanalysis_cloud_spark.queries.tpch_queries  # noqa: F401

    _LOADED = True
