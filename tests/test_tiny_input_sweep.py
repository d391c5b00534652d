"""Registry-wide SINGLE-ROW-corpus sweep — the empty sweep's boundary
twin (tests/test_empty_input_sweep.py covers n = 0; this covers
n = 1).  One-row tables exercise a different failure class: window
frames with no peers, sequences/ranges of length one, percentiles and
histograms over a single value, self-joins that produce zero pairs,
split/sample logic where every allocation rounds to 0 or 1.  Every
registered builder must build + collect without raising; output
contents are not asserted (many queries legitimately return zero rows
when no pair/group exists).

Exclusions are explicit and documented inline — a query is excluded
only when its CONTRACT requires more rows (never to hide a crash).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

# name -> reason. Keep EMPTY unless a query's documented contract
# requires a larger corpus; "it crashes" is a bug to fix.
EXCLUDED: dict[str, str] = {}

_QUERIES = entry_mod.queries()


@pytest.fixture(scope="module")
def tiny_sf_dir(spark, tmp_path_factory) -> str:
    """A sf-dir twin holding exactly ONE row per table (the first row
    of sf0.001 under a deterministic order), schemas identical."""
    root = tmp_path_factory.mktemp("tiny_sf")
    src = "/root/testdata/sf0.001"
    for t in TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        one = df.orderBy(df.columns[0]).limit(1)
        one.write.parquet(f"{root}/{t}.parquet")
    return str(root)


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_survives_single_row_corpus(name, spark, tiny_sf_dir):
    if name in EXCLUDED:
        pytest.skip(f"contract requires rows: {EXCLUDED[name]}")
    rows = _QUERIES[name](spark, tiny_sf_dir).collect()
    assert isinstance(rows, list)
