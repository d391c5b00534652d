"""Registry-wide empty-input sweep (r07 verdict item 8).

Two empty-input bugs were found by review rather than test: the r05
``train_sample`` raise and the r07 ``profile_columns`` NULL row count
(``coalesce(SUM(__k), 0)``). Both belong to one class — a query that
works on populated tables but throws or emits poisoned values when an
ingest batch is empty. This module closes the class: every registered
query's builder runs against a scale-factor directory holding the REAL
testdata schemas with ZERO rows, and must build + collect without
raising. Output contents are NOT asserted (a global aggregate
legitimately returns one zero row, a histogram zero rows); the contract
under test is "an empty corpus is a value, not an error".

Exclusions are explicit and documented inline — a query is excluded
only when its CONTRACT requires rows (never to hide a crash).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

# name -> reason. Keep EMPTY unless a query's documented contract
# requires input rows; "it crashes" is a bug to fix, not an exclusion.
EXCLUDED: dict[str, str] = {}

_QUERIES = entry_mod.queries()


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory) -> str:
    """A sf-dir twin: every testdata table present, schema identical to
    /root/testdata, zero rows."""
    root = tmp_path_factory.mktemp("empty_sf")
    src = "/root/testdata/sf0.001"
    for t in TABLES:
        schema = spark.read.parquet(f"{src}/{t}.parquet").schema
        spark.createDataFrame([], schema).write.parquet(
            f"{root}/{t}.parquet"
        )
    return str(root)


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_survives_empty_corpus(name, spark, empty_sf_dir):
    if name in EXCLUDED:
        pytest.skip(f"contract requires rows: {EXCLUDED[name]}")
    rows = _QUERIES[name](spark, empty_sf_dir).collect()
    assert isinstance(rows, list)
