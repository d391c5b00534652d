"""Benchmark inputs: the workload definitions, seeded input generators and the
DuckDB-oracle expected hashes the results are checked against.

Nothing here touches Spark; ``run.py`` prepares every input before the
measured process starts, so generation and oracle time never land in a
timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Query lists per workload, in the order of the check pass.
WORKLOADS = {
    "relational": [
        "movie_rank",
        "movie_rank_desc",
        "movie_rating",
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q4_order_priority",
        "tpch_q5_local_supplier",
        "tpch_q7_nation_volume",
        "tpch_q10_returned_items",
        "tpch_q18_large_volume",
        # Two candidate-generation queries that run Spark jobs while they
        # build: k-means rounds and a localCheckpoint (operators.clustering,
        # operators.skew, the Arrow UDF of functions.vector), and the stored
        # inverted index (operators.invindex, operators.storecache).
        "semantic_dedup",
        "search_bm25_stored_index",
    ],
    "movielens_cli": ["rank", "rating"],
}
# Nominal seconds of one warm pass on 4 cores. A run makes
# round(--seconds / PASS_SECONDS) timed passes (at least one): a count fixed
# by the arguments, not by the clock, so a slow moment cannot cut a run's
# passes short and leave its samples less warmed up than another run's.
PASS_SECONDS = {"relational": 12.0, "movielens_cli": 4.0}

# ``sf`` sizes the TPC-H-shaped tables the way the repository's test tables
# do (TESTDATA.md: lineitem = 6 M x sf); sf0.1 is bench.py's headline scale.
TABLE_SF = {"full": 0.1, "tiny": 0.001}
MOVIELENS_SIZES = {
    "full": dict(n_movies=50_000, n_ratings=2_000_000),
    "tiny": dict(n_movies=300, n_ratings=5_000),
}
# Seed of the parquet tables. They are fixed so their oracle hashes are
# computed once per checkout; --seed orders the queries instead.
TABLE_SEED = 42
# Generated MovieLens inputs kept on disk at once (about 55 MB per seed).
MOVIELENS_CACHE_SEEDS = 4

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# FIXTURES.md golden queries for the two reference pipelines.
GOLDEN_SQL = {
    "rank": """
        SELECT COUNT(*) num_reviews, m.title FROM ratings r
        JOIN movies m USING (movieId) GROUP BY m.movieId, m.title
        ORDER BY num_reviews""",
    "rating": """
        SELECT m.title, AVG(r.rating) avg_rating, COUNT(*) num_ratings
        FROM ratings r JOIN movies m USING (movieId)
        GROUP BY m.movieId, m.title
        HAVING COUNT(*) > 10 AND AVG(r.rating) > 4 ORDER BY avg_rating""",
}
# Column names of the pipelines' tab-separated output (cli.py docstring).
OUTPUT_COLUMNS = {
    "rank": ["num_reviews", "title"],
    "rating": ["title", "avg_rating", "num_ratings"],
}


def _oracle_module(root: str):
    """The repository's own canonicalisation (tests/oracle.py)."""
    tests = os.path.join(root, "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    import oracle

    return oracle


def result_hash(root: str, frame) -> str:
    """Order-insensitive hash of a pandas result: sorted column names plus
    the rows as tests/oracle.py canonicalises them."""
    rows = _oracle_module(root)._canon(frame)
    text = repr((sorted(frame.columns), rows))
    return hashlib.sha256(text.encode()).hexdigest()


def _publish(tmp: str, final: str) -> None:
    if os.path.exists(final):
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, final)


def _fingerprint(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


# ---- TPC-H-shaped tables (plus the events, documents and embeddings stubs) --

def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, n) * np.timedelta64(1, "D")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _tables(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(
                rng,
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }
    )
    adjectives = "large hot blue old cold small red green dark light shiny rusty bright".split()
    nouns = "ring bolt plate anvil widget gear spring".split()
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(
                rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _pick(
                rng,
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_ord,
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
        }
    )
    # events is read by no benchmarked query; it exists because the oracle
    # connection (tests/oracle.py) binds every table. documents and
    # embeddings feed the two candidate-generation queries, sized as the
    # repository's sf0.1 test tables are (5 000 documents, 2 000 vectors).
    n_ev = max(int(100_000 * sf), 100)
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ) * np.timedelta64(1, "us")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": ts,
            "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev), i64),
            "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], n_ev),
            "value": _cents(rng, 0.0, 200.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_doc, n_vec = max(int(50_000 * sf), 100), max(int(20_000 * sf), 100)
    texts = [" ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(8, 100, n_doc)]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": _pick(rng, ["en", "zh", "de", "fr", "es"], n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return t


def table_dir(cache: str, scale: str) -> str:
    """Directory of ``{table}.parquet`` files for the relational workload;
    built on first use and reused by every later run in the checkout."""
    final = os.path.join(cache, "data", f"tables-{scale}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp)
    rng = np.random.default_rng(TABLE_SEED)
    for name, table in _tables(rng, TABLE_SF[scale]).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    _publish(tmp, final)
    return final


# ---- MovieLens-shaped CSVs --------------------------------------------------

_TITLE_WORDS = (
    "Lost Harbor Night Silent River Last Summer Red Garden Broken City Winter "
    "Empire Golden Shadow Secret Island Dark Star Little Heart Wild Road Iron "
    "Moon Glass House Paper Kingdom"
).split()
_GENRES = "Action Adventure Comedy Drama Horror Romance Sci-Fi Thriller".split()


def _movies(rng, n_movies: int) -> tuple[np.ndarray, list[str], list[str]]:
    ids = np.sort(rng.choice(np.arange(1, int(n_movies * 1.25) + 1), n_movies, replace=False))
    w = _TITLE_WORDS
    first, second = rng.integers(0, len(w), (2, n_movies)).tolist()
    years = rng.integers(1920, 2024, n_movies).tolist()
    kinds = rng.random(n_movies).tolist()
    titles = [
        # quoted comma, MovieLens style "Name, The (year)"
        f"{w[a]} {w[b]}, The ({y})" if k < 0.1
        else f"{w[a]}, {w[b]} and Others ({y})" if k < 0.15
        else f"{w[a]} {w[b]} ({y})"
        for a, b, y, k in zip(first, second, years, kinds)
    ]
    # 1 to 3 distinct genres: the first k of a random permutation per movie.
    shuffled = np.argsort(rng.random((n_movies, len(_GENRES))), axis=1).tolist()
    counts = rng.integers(1, 4, n_movies).tolist()
    genres = ["|".join(_GENRES[g] for g in row[:k]) for row, k in zip(shuffled, counts)]
    return ids, titles, genres


def movielens_csvs(cache: str, seed: int, scale: str) -> tuple[str, str]:
    """Write (or reuse) ``movies.csv`` and ``ratings.csv`` for ``seed``.

    Popularity is Zipf-like over a seeded permutation of the movies, ratings
    are 0.5-step values around a per-movie quality, some titles carry
    quoted commas, and about 1% of rated ids are missing from movies.csv
    (the reference's unmatched-join edge case, FIXTURES.md)."""
    root = os.path.join(cache, "movielens")
    final = os.path.join(root, f"{scale}-seed{seed}")
    paths = (os.path.join(final, "movies.csv"), os.path.join(final, "ratings.csv"))
    if os.path.isdir(final):
        os.utime(final)
        return paths
    size = MOVIELENS_SIZES[scale]
    n_movies, n_ratings = size["n_movies"], size["n_ratings"]
    rng = np.random.default_rng([seed, 7])
    ids, titles, genres = _movies(rng, n_movies)
    absent = np.setdiff1d(np.arange(1, ids[-1] + 1), ids)
    n_absent = min(len(absent), max(n_movies // 100, 1))
    pool = np.concatenate([ids, rng.choice(absent, n_absent, replace=False)])
    rng.shuffle(pool)
    weights = 1.0 / (np.arange(len(pool)) + 10.0) ** 1.1
    picks = rng.choice(len(pool), n_ratings, p=weights / weights.sum())
    quality = rng.normal(3.4, 0.5, len(pool))
    raw = quality[picks] + rng.normal(0.0, 0.9, n_ratings)
    rating = np.clip(np.round(raw * 2.0) / 2.0, 0.5, 5.0)
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp)
    opts = pacsv.WriteOptions(quoting_style="needed")
    pacsv.write_csv(
        pa.table(
            {"movieId": pa.array(ids, pa.int32()), "title": titles, "genres": genres}
        ),
        os.path.join(tmp, "movies.csv"),
        opts,
    )
    pacsv.write_csv(
        pa.table(
            {
                "userId": pa.array(rng.integers(1, 200_001, n_ratings), pa.int32()),
                "movieId": pa.array(pool[picks], pa.int32()),
                "rating": rating,
                "timestamp": rng.integers(789_652_009, 1_700_000_000, n_ratings),
            }
        ),
        os.path.join(tmp, "ratings.csv"),
        opts,
    )
    _publish(tmp, final)
    kept = sorted(
        (os.path.join(root, d) for d in os.listdir(root) if ".tmp" not in d),
        key=os.path.getmtime,
    )
    for old in kept[:-MOVIELENS_CACHE_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return paths


# ---- expected results -------------------------------------------------------


def expected_hashes(root: str, cache: str, workload: str, inputs) -> dict[str, str]:
    """DuckDB-oracle hash per query over ``inputs`` (a table directory, or
    the (movies, ratings) CSV pair), cached by input fingerprint: an oracle
    is run once per distinct input, however many runs use it."""
    if workload == "movielens_cli":
        files = list(inputs)
        sqls = GOLDEN_SQL
    else:
        files = [os.path.join(inputs, f"{t}.parquet") for t in TABLES]
        from mapreducemovieanalysis_cloud_spark import registry

        oracles = registry.oracle_sql()
        sqls = {q: oracles[q] for q in WORKLOADS[workload]}
    data = _fingerprint(files)
    keys = {
        q: hashlib.sha256(f"{data}\0{q}\0{sql}".encode()).hexdigest()
        for q, sql in sqls.items()
    }
    store = os.path.join(cache, "expected.json")
    known = {}
    if os.path.exists(store):
        with open(store) as f:
            known = json.load(f)
    missing = [q for q in sqls if keys[q] not in known]
    if missing:
        con = _connect(root, workload, inputs)
        for q in missing:
            known[keys[q]] = result_hash(root, con.sql(sqls[q]).df())
        con.close()
        tmp = f"{store}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(known, f, indent=0, sort_keys=True)
        os.replace(tmp, store)
    return {q: known[keys[q]] for q in sqls}


def _connect(root: str, workload: str, inputs):
    if workload != "movielens_cli":
        return _oracle_module(root).duckdb_connection(inputs)
    import duckdb

    con = duckdb.connect()
    movies, ratings = inputs
    con.sql(
        "CREATE VIEW movies AS SELECT * FROM read_csv("
        f"'{movies}', header=true, quote='\"', "
        "columns={'movieId': 'INTEGER', 'title': 'VARCHAR', 'genres': 'VARCHAR'})"
    )
    con.sql(
        "CREATE VIEW ratings AS SELECT * FROM read_csv("
        f"'{ratings}', header=true, columns={{'userId': 'INTEGER', "
        "'movieId': 'INTEGER', 'rating': 'DOUBLE', 'timestamp': 'BIGINT'})"
    )
    return con


def read_pipeline_output(path: str, pipeline: str):
    """The tab-separated ``<out>/final`` part files as one pandas frame."""
    import pandas as pd

    parts = sorted(
        os.path.join(path, p)
        for p in os.listdir(path)
        if p.startswith("part-") and os.path.getsize(os.path.join(path, p))
    )
    cols = OUTPUT_COLUMNS[pipeline]
    frames = [
        pd.read_csv(p, sep="\t", header=None, names=cols, keep_default_na=False)
        for p in parts
    ]
    if not frames:
        return pd.DataFrame({c: [] for c in cols})
    return pd.concat(frames, ignore_index=True)


def input_bytes(inputs) -> int:
    if isinstance(inputs, str):
        return sum(
            os.path.getsize(os.path.join(inputs, f"{t}.parquet")) for t in TABLES
        )
    return sum(os.path.getsize(p) for p in inputs)

