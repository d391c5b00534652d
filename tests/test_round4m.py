"""Round-4m tests: the stored inverted-index retrieval family — oracle
diffs for both probe modes, index-vs-scan equivalence, and the static
bucket-pruning pin."""

from __future__ import annotations


import pytest

from mapreducemovieanalysis_cloud_spark import registry
from mapreducemovieanalysis_cloud_spark.operators import invindex, ranking
from mapreducemovieanalysis_cloud_spark.queries.round4m_queries import (
    _IDX_TERMS,
    ensure_inverted_index,
)
from tests.oracle import assert_matches_oracle


def query_term_buckets(spark, terms, n_buckets=invindex.N_BUCKETS):
    """The expected bucket ids of ``terms``, computed by a Spark job over a
    |Q|-row frame — independent of the probe, which folds the same hash
    over literals into its plan."""
    tdf = spark.createDataFrame([(t,) for t in terms], ["term"])
    return sorted(
        r.b
        for r in tdf.select(
            invindex._bucket("term", n_buckets).alias("b")
        ).distinct().collect()
    )


ROUND4M = (
    "search_bm25_stored_index",
    "search_conjunctive_stored_index",
    "search_phrase_stored_index",
    "sql_group_by_all",
    "multimodal_blockhash",
    "ann_sq8",
    "skew_report_lineitem",
    "snapshot_diff_orders",
    "join_asof_tolerance",
    "join_point_in_time",
    "brand_affinity_cf",
    "rfm_segments",
)


@pytest.mark.parametrize("name", ROUND4M)
def test_matches_oracle_small(spark, sf_dir, name):
    assert_matches_oracle(
        registry.queries()[name](spark, sf_dir),
        registry.oracle_sql()[name],
        sf_dir,
    )


@pytest.mark.parametrize("name", ROUND4M)
def test_matches_oracle_sf001(spark, oracle_sf_dir, name):
    assert_matches_oracle(
        registry.queries()[name](spark, oracle_sf_dir),
        registry.oracle_sql()[name],
        oracle_sf_dir,
    )


def test_index_probe_equals_scan_time_bm25(spark, sf_dir):
    """The stored-index probe and the from-scratch scorer must agree row
    for row (same score tree over the same numbers — layout only)."""
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    path = ensure_inverted_index(spark, sf_dir)
    via_index = invindex.bm25_query_index(
        spark, path, _IDX_TERMS, topk=50
    ).collect()
    direct = ranking.bm25_scores(
        load_table(spark, sf_dir, "documents"), _IDX_TERMS, topk=50
    ).collect()
    assert via_index == direct


def test_probe_prunes_to_query_buckets(spark, sf_dir):
    """Static partition pruning pin: the pruned postings scan carries a
    PartitionFilters entry restricting the read to the ≤ |Q| bucket
    directories the query terms hash to — never the other ~60 (the
    stored-IVF pruning test's analog; same plan-text pin as
    test_partitioned_write_prunes_on_read)."""
    from mapreducemovieanalysis_cloud_spark import plans

    path = ensure_inverted_index(spark, sf_dir)
    want = set(query_term_buckets(spark, _IDX_TERMS))
    assert 1 <= len(want) <= len(_IDX_TERMS)
    text = plans.explain_formatted(
        invindex.read_postings(spark, path, _IDX_TERMS)
    )
    pf = [ln for ln in text.splitlines() if "PartitionFilters" in ln]
    assert pf, text
    # the IN-list in the partition filter is exactly the query buckets
    assert "bucket" in pf[0] and " IN " in pf[0], pf[0]
    import re

    in_list = re.search(r" IN \(([0-9,]+)\)", pf[0])
    assert in_list, pf[0]
    assert {int(x) for x in in_list.group(1).split(",")} == want, pf[0]


def _build_jobs(spark, build) -> int:
    """Spark jobs ``build()`` runs, counted by job group once the status
    listener has seen a later marker job (events arrive in order)."""
    import time

    sc = spark.sparkContext
    tag = f"probe-build-{time.monotonic_ns()}"
    sc.setJobGroup(f"{tag}:build", "probe build")
    try:
        build()
        sc.setJobGroup(f"{tag}:marker", "marker")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(f"{tag}:marker"):
        assert time.time() < deadline, "status listener never caught up"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(f"{tag}:build"))


def test_warm_probe_build_runs_at_most_one_spark_job(spark, sf_dir):
    """Building the registered BM25 probe on a warm index runs at most the
    one meta read: the sub-table schemas come from that one row, and the
    query-term buckets fold into the plan instead of a lookup job."""
    q = registry.queries()["search_bm25_stored_index"]
    q(spark, sf_dir)  # warm: the index exists after this
    assert _build_jobs(spark, lambda: q(spark, sf_dir)) <= 1


def test_v2_layout_meta_probes_like_v3(spark, sf_dir):
    """A v2 layout — meta holding only ``n_buckets``, no pinned sub-table
    schemas — reads its missing schema columns as NULL and falls back to
    inference: probes, an append into it, and the appended probe all match
    a v3 full build."""
    import shutil
    import tempfile as _tf

    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _tf.TemporaryDirectory() as base:
        full, v2 = f"{base}/full", f"{base}/v2"
        invindex.build_inverted_index(docs, full)
        invindex.build_inverted_index(docs.where("doc_id % 2 = 0"), v2)
        shutil.rmtree(f"{v2}/meta")
        spark.createDataFrame(
            [(invindex.N_BUCKETS,)], "n_buckets int"
        ).write.parquet(f"{v2}/meta")
        meta = invindex.read_layout_meta(spark, v2)
        assert meta.n_buckets == invindex.N_BUCKETS
        assert meta.postings_schema is None and meta.doclen_schema is None
        invindex.append_to_inverted_index(
            docs.where("doc_id % 2 = 1"), spark, v2, batch_id="b1"
        )
        for kwargs in ({}, {"require_all": True}):
            assert (
                invindex.bm25_query_index(
                    spark, v2, _IDX_TERMS, topk=50, **kwargs
                ).collect()
                == invindex.bm25_query_index(
                    spark, full, _IDX_TERMS, topk=50, **kwargs
                ).collect()
            )
        v2p, fullp = (
            invindex.phrase_query_index(spark, d, ["hash", "join"]).collect()
            for d in (v2, full)
        )
        assert sorted(map(tuple, v2p)) == sorted(map(tuple, fullp))


def test_conjunctive_mode_is_a_subset_requiring_all_terms(spark, sf_dir):
    path = ensure_inverted_index(spark, sf_dir)
    ranked = invindex.bm25_query_index(spark, path, _IDX_TERMS, topk=1000)
    allhit = invindex.bm25_query_index(
        spark, path, _IDX_TERMS, topk=1000, require_all=True
    ).collect()
    assert allhit, "sf testdata has docs containing all three terms"
    assert all(r.n_terms_hit == len(_IDX_TERMS) for r in allhit)
    ranked_ids = {r.doc_id for r in ranked.collect()}
    assert {r.doc_id for r in allhit} <= ranked_ids


def test_phrase_probe_counts_adjacent_occurrences(spark):
    """Hand-built fixture: occurrences are counted per ANCHOR position,
    duplicates inside one doc count separately, reversed order does not
    match, and a doc containing both terms non-adjacently is excluded."""
    import tempfile as _tf

    docs = spark.createDataFrame(
        [
            (1, "hash join hash join"),  # two occurrences
            (2, "join hash"),  # reversed — no match
            (3, "hash scan join"),  # both terms, not adjacent
            (4, "a hash join b"),  # one occurrence mid-doc
        ],
        "doc_id long, text string",
    )
    with _tf.TemporaryDirectory() as d:
        invindex.build_inverted_index(docs, d)
        got = {
            (r.doc_id, r.n_occurrences)
            for r in invindex.phrase_query_index(
                spark, d, ["hash", "join"]
            ).collect()
        }
    assert got == {(1, 2), (4, 1)}


def test_phrase_probe_absent_term_is_empty(spark):
    import tempfile as _tf

    docs = spark.createDataFrame(
        [(1, "hash join")], "doc_id long, text string"
    )
    with _tf.TemporaryDirectory() as d:
        invindex.build_inverted_index(docs, d)
        out = invindex.phrase_query_index(spark, d, ["hash", "zzzmissing"])
        assert out.count() == 0
        assert out.columns == ["doc_id", "n_occurrences"]


def test_incremental_append_equals_full_rebuild(spark, sf_dir):
    """Index half the corpus, append the other half: every probe mode
    must return exactly what a from-scratch build over the full corpus
    returns (postings/doclen append as new files; stats update from the
    stored row + batch delta, never from a corpus rescan)."""
    import tempfile as _tf

    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    half_a = docs.where("doc_id % 2 = 0")
    half_b = docs.where("doc_id % 2 = 1")
    with _tf.TemporaryDirectory() as da, _tf.TemporaryDirectory() as db:
        invindex.build_inverted_index(docs, da)
        invindex.build_inverted_index(half_a, db)
        invindex.append_to_inverted_index(half_b, spark, db)
        full_stats = invindex.read_index_stats(spark, da).collect()
        incr_stats = invindex.read_index_stats(spark, db).collect()
        assert full_stats == incr_stats
        for kwargs in ({}, {"require_all": True}):
            full = invindex.bm25_query_index(
                spark, da, _IDX_TERMS, topk=50, **kwargs
            ).collect()
            incr = invindex.bm25_query_index(
                spark, db, _IDX_TERMS, topk=50, **kwargs
            ).collect()
            assert full == incr
        fp = invindex.phrase_query_index(spark, da, ["hash", "join"])
        ip = invindex.phrase_query_index(spark, db, ["hash", "join"])
        assert sorted(map(tuple, fp.collect())) == sorted(
            map(tuple, ip.collect())
        )


def test_compaction_preserves_results_and_merges_files(spark, sf_dir):
    """After appends, compaction rewrites each bucket back to one file;
    every probe mode must be unchanged."""
    import glob
    import tempfile as _tf

    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _tf.TemporaryDirectory() as d:
        invindex.build_inverted_index(docs.where("doc_id % 3 = 0"), d)
        invindex.append_to_inverted_index(
            docs.where("doc_id % 3 = 1"), spark, d
        )
        invindex.append_to_inverted_index(
            docs.where("doc_id % 3 = 2"), spark, d
        )
        before = invindex.bm25_query_index(
            spark, d, _IDX_TERMS, topk=50
        ).collect()

        def files_per_bucket():
            per = {}
            for f in glob.glob(
                f"{d}/postings/bucket=*/*.parquet"
            ) + glob.glob(f"{d}/batches/*/postings/bucket=*/*.parquet"):
                b = f.split("bucket=")[1].split("/")[0]
                per[b] = per.get(b, 0) + 1
            return per

        assert max(files_per_bucket().values()) > 1  # appends fragmented
        invindex.compact_inverted_index(spark, d)
        assert max(files_per_bucket().values()) == 1
        after = invindex.bm25_query_index(
            spark, d, _IDX_TERMS, topk=50
        ).collect()
        assert before == after
        phrase = invindex.phrase_query_index(
            spark, d, ["hash", "join"]
        ).count()
        assert phrase > 0


def test_append_idempotent_and_atomic(spark, sf_dir):
    """The append contract (r04 advice): a retried batch id no-ops; an
    uncommitted (marker-less) batch subtree is invisible to every probe
    and is discarded+rewritten by the retry."""
    import os
    import shutil
    import tempfile as _tf

    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _tf.TemporaryDirectory() as d:
        invindex.build_inverted_index(docs.where("doc_id % 2 = 0"), d)
        batch = docs.where("doc_id % 2 = 1")
        invindex.append_to_inverted_index(batch, spark, d, batch_id="b1")
        once = invindex.bm25_query_index(
            spark, d, _IDX_TERMS, topk=50
        ).collect()
        stats_once = invindex.read_index_stats(spark, d).collect()
        # retry with the same id: must not double-ingest
        invindex.append_to_inverted_index(batch, spark, d, batch_id="b1")
        assert (
            invindex.bm25_query_index(spark, d, _IDX_TERMS, topk=50).collect()
            == once
        )
        assert invindex.read_index_stats(spark, d).collect() == stats_once
        # simulate a crashed append: complete subtree, marker removed
        invindex.append_to_inverted_index(batch, spark, d, batch_id="b2")
        os.remove(os.path.join(d, "batches", "b2", "_COMMITTED"))
        assert (
            invindex.bm25_query_index(spark, d, _IDX_TERMS, topk=50).collect()
            == once
        )  # uncommitted batch invisible
        assert invindex._committed_batches(d) == [
            os.path.join(d, "batches", "b1")
        ]
        shutil.rmtree(os.path.join(d, "batches", "b2"))


def test_compaction_rerun_converges(spark, sf_dir):
    """A compaction crash between directory swaps leaves folded data in
    the base AND the batch still on disk; rerunning must converge (the
    fold dedups on the doc/term key) — probes identical to a clean
    single compaction."""
    import tempfile as _tf

    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _tf.TemporaryDirectory() as d:
        invindex.build_inverted_index(docs.where("doc_id % 2 = 0"), d)
        invindex.append_to_inverted_index(
            docs.where("doc_id % 2 = 1"), spark, d, batch_id="b1"
        )
        want = invindex.bm25_query_index(
            spark, d, _IDX_TERMS, topk=50
        ).collect()
        # crash simulation: postings/doclen/stats already folded but the
        # batch deletion never ran -> batch content present TWICE
        import shutil

        batch_dir = f"{d}/batches/b1"
        saved = f"{d}/__saved_b1"
        shutil.copytree(batch_dir, saved)
        invindex.compact_inverted_index(spark, d)  # clean fold
        shutil.copytree(saved, batch_dir)  # resurrect: double-count state
        invindex.compact_inverted_index(spark, d)  # rerun must converge
        got = invindex.bm25_query_index(
            spark, d, _IDX_TERMS, topk=50
        ).collect()
        assert got == want
        assert (
            invindex.read_index_stats(spark, d).collect()[0].n_docs_total
            == docs.count()
        )


def test_swap_crash_between_renames_auto_recovers(spark, sf_dir):
    """A _swap_dir crash after parking the live dir as __old but before
    moving the staged dir in leaves no live postings; the next reader
    restores the parked copy automatically."""
    import os
    import shutil
    import tempfile as _tf

    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _tf.TemporaryDirectory() as d:
        invindex.build_inverted_index(docs, d)
        want = invindex.bm25_query_index(
            spark, d, _IDX_TERMS, topk=50
        ).collect()
        shutil.move(os.path.join(d, "postings"), os.path.join(d, "postings__old"))
        got = invindex.bm25_query_index(spark, d, _IDX_TERMS, topk=50).collect()
        assert got == want
        # probes are READ-ONLY over crash states (r06): the parked copy
        # was read in place, not healed — explicit repair cleans it up
        assert not os.path.isdir(os.path.join(d, "postings"))
        assert os.path.isdir(os.path.join(d, "postings__old"))
        invindex.repair_index(d)
        assert os.path.isdir(os.path.join(d, "postings"))
        assert not os.path.isdir(os.path.join(d, "postings__old"))
        assert (
            invindex.bm25_query_index(spark, d, _IDX_TERMS, topk=50).collect()
            == want
        )


def _media(spark, rows):
    """rows: (media_id, payload_text) — byte payloads via the adapter."""
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        rows, "media_id long, text string"
    ).select(
        "media_id",
        F.lit("image/fake").alias("media_type"),
        F.encode("text", "UTF-8").alias("data"),
    )


def test_phash_pairs_finds_perceptual_near_dups(spark):
    """Fixture with genuinely near payloads: a one-sample brightness blip
    flips at most a few block bits (hamming <= 3 -> paired), while an
    unrelated payload is far (not paired); identical payloads are
    hamming 0. Pinned against the brute-force hamming on the same
    hashes."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import multimodal

    base = "abcdefgh" * 32  # 256 samples, 4 per block
    blip = base[:100] + "z" + base[101:]  # one loud sample, same length
    other = "".join(chr(ord("a") + (i * 7) % 26) for i in range(256))
    media = _media(
        spark, [(1, base), (2, base), (3, blip), (4, other)]
    )
    pairs = {
        (r.media_a, r.media_b, r.hamming)
        for r in multimodal.phash_pairs(media, max_hamming=3).collect()
    }
    # brute force over the same signatures
    sigs = {
        r.media_id: (r.b0 << 48) | (r.b1 << 32) | (r.b2 << 16) | r.b3
        for r in multimodal.blockhash64(media).collect()
    }
    ids = sorted(sigs)
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert pairs == brute
    assert (1, 2, 0) in pairs  # identical payloads
    assert any(p[:2] == (1, 3) for p in pairs)  # the blip is near
    assert not any(4 in p[:2] for p in pairs)  # unrelated is far


def test_streaming_index_ingest_foreach_batch(spark, sf_dir, tmp_path):
    """Streaming index maintenance: each micro-batch of new docs appends
    into the stored inverted index via foreachBatch (build once on the
    first batch, append after), and the final probe equals a from-scratch
    build over everything ingested.  maxFilesPerTrigger=1 forces multiple
    micro-batches so the append path actually executes across batches —
    the same ingest lifecycle as the incremental exact-dedup store."""
    import os

    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    docs.where("doc_id % 2 = 0").coalesce(1).write.parquet(src + "/b1")
    docs.where("doc_id % 2 = 1").coalesce(1).write.parquet(src + "/b2")

    idx = str(tmp_path / "idx")
    schema = spark.read.parquet(src + "/b1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )

    def sink(batch_df, batch_id):
        if os.path.exists(os.path.join(idx, "postings", "_SUCCESS")):
            # epoch id as the batch id: a foreachBatch retry of the same
            # epoch no-ops instead of double-ingesting (exactly-once)
            invindex.append_to_inverted_index(
                batch_df, spark, idx, batch_id=str(batch_id)
            )
        else:
            invindex.build_inverted_index(batch_df, idx)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    full = str(tmp_path / "full")
    invindex.build_inverted_index(docs, full)
    got = invindex.bm25_query_index(spark, idx, _IDX_TERMS, topk=50).collect()
    want = invindex.bm25_query_index(
        spark, full, _IDX_TERMS, topk=50
    ).collect()
    assert got == want and got


def test_asof_tolerance_nulls_stale_matches_keeps_rows(spark):
    """Fixture: a click 30 min before matches; one 2 h before is nulled;
    a purchase with no prior click stays with NULL — row counts equal the
    left side in all cases (merge_asof tolerance semantics)."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators import joins

    left = spark.createDataFrame(
        [
            (1, 100, "2024-01-01 10:00:00"),
            (2, 100, "2024-01-01 13:00:00"),
            (3, 200, "2024-01-01 09:00:00"),
        ],
        "event_id long, user_id long, ts_s string",
    ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
    right = spark.createDataFrame(
        [
            (100, "2024-01-01 09:30:00", 91),  # 30 min before purchase 1
            (100, "2024-01-01 11:00:00", 92),  # 2 h before purchase 2
        ],
        "user_id long, ts_s string, click_event_id long",
    ).select(
        "user_id", F.to_timestamp("ts_s").alias("ts"), "click_event_id"
    )
    out = {
        r.event_id: r.click_event_id_right
        for r in joins.asof_join(
            left,
            right,
            key="user_id",
            left_ts="ts",
            right_ts="ts",
            within=lambda lt, rt: F.unix_micros(lt) - F.unix_micros(rt)
            <= 3600 * 1_000_000,
        ).collect()
    }
    assert out == {1: 91, 2: None, 3: None}


def test_sq8_reconstruction_error_is_step_bounded(spark, sf_dir):
    """Per-dim |x - recon| <= quantization step ceil((mx - mn) / 255):
    the defining guarantee of scalar quantization (and what makes SQ8
    distances approximate the true ones uniformly)."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.vector import quantize
    from mapreducemovieanalysis_cloud_spark.operators import similarity
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rec = similarity.sq8_reconstructed(emb)
    joined = rec.join(
        emb.select("vec_id", quantize("embedding").alias("__q")), "vec_id"
    )
    st = (
        emb.select(F.posexplode(quantize("embedding")).alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(F.max(F.ceil((F.col("mx") - F.col("mn")) / 255)).alias("step"))
        .collect()[0]
    )
    worst = joined.select(
        F.expr(
            "aggregate(zip_with(__q, recon, (a, b) -> abs(a - b)),"
            " 0L, (acc, x) -> greatest(acc, x))"
        ).alias("err")
    ).agg(F.max("err")).collect()[0][0]
    assert worst <= st.step, (worst, st.step)


def test_index_df_matches_brute_count(spark, sf_dir):
    """df from the pruned postings equals the number of docs whose token
    set contains the term (the definition the oracle uses)."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.functions.text import tokens
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    path = ensure_inverted_index(spark, sf_dir)
    post = invindex.read_postings(spark, path, _IDX_TERMS)
    got = {
        (r.term, r.df)
        for r in post.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    want = set()
    for t in _IDX_TERMS:
        n = (
            docs.select(tokens("text").alias("tt"))
            .where(F.array_contains("tt", t))
            .count()
        )
        if n:
            want.add((t, n))
    assert got == want


def test_layout_bucket_count_travels_with_the_index(spark):
    """An index built with a non-default bucket count probes correctly:
    the probe reads n_buckets from <path>/meta, never from the module
    constant — build-time and probe-time cannot disagree."""
    import tempfile as _tf

    docs = spark.createDataFrame(
        [(1, "hash scan merge"), (2, "hash join scan"), (3, "merge only")],
        "doc_id long, text string",
    )
    with _tf.TemporaryDirectory() as d:
        invindex.build_inverted_index(docs, d, n_buckets=7)
        assert invindex.layout_buckets(spark, d) == 7
        got = {
            r.doc_id
            for r in invindex.bm25_query_index(
                spark, d, ["hash", "scan"], topk=10
            ).collect()
        }
        assert got == {1, 2}
        # append + compact keep honoring the stored count
        invindex.append_to_inverted_index(
            spark.createDataFrame(
                [(4, "hash scan hash")], "doc_id long, text string"
            ),
            spark,
            d,
        )
        invindex.compact_inverted_index(spark, d)
        got2 = {
            r.doc_id
            for r in invindex.bm25_query_index(
                spark, d, ["hash", "scan"], topk=10
            ).collect()
        }
        assert got2 == {1, 2, 4}


def test_fold_crash_states_probe_self_heals(spark, sf_dir):
    """Every crash point of the fold protocol (stage -> batches aside ->
    per-sub swaps -> deletes) must leave PROBES correct without running
    compact: the old protocol's window where folded postings coexisted
    with live batch dirs made every probe silently double-count batch
    tf; now the batch root is aside before any swap and readers roll the
    fold forward (or discard a partial stage) — since r06 by READ-ONLY
    resolution (_resolve_sub): the probe reads the surviving copy in
    place and mutates nothing (two probes can race safely, and a probe
    can no longer hijack a live compact's fold); on-disk cleanup is
    repair_index/compact's job, under the maintenance lock."""
    import os
    import shutil
    import tempfile as _tf

    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(d):
        invindex.build_inverted_index(docs.where("doc_id % 2 = 0"), d)
        invindex.append_to_inverted_index(
            docs.where("doc_id % 2 = 1"), spark, d, batch_id="b1"
        )

    def probe(d):
        return invindex.bm25_query_index(
            spark, d, _IDX_TERMS, topk=50
        ).collect()

    with _tf.TemporaryDirectory() as base:
        ref = f"{base}/ref"
        build(ref)
        want = probe(ref)

        def staged_copy(tag):
            """A fresh index with the fold staged but nothing moved."""
            d = f"{base}/{tag}"
            shutil.copytree(ref, d)
            # reproduce compact's staging deterministically: fold into
            # __compact without touching the live layout
            nb = invindex.layout_buckets(spark, d)
            # unions constructed before the staging writes, mirroring
            # compact's own ordering (resolution is read-only now, but
            # the stage must not be visible to the frames being folded)
            post = invindex._union_with_batches(spark, d, "postings")
            dl = invindex._union_with_batches(
                spark, d, "doclen"
            ).dropDuplicates(["doc_id"])
            (
                post.dropDuplicates(["doc_id", "term"])
                .repartition(nb, "bucket")
                .sortWithinPartitions("bucket", "term")
                .write.mode("overwrite").partitionBy("bucket")
                .parquet(f"{d}/__compact/postings")
            )
            dl.coalesce(1).write.mode("overwrite").parquet(
                f"{d}/__compact/doclen"
            )
            spark.read.parquet(f"{d}/__compact/doclen").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs_total"),
                F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias(
                    "sum_dl"
                ),
            ).write.mode("overwrite").parquet(f"{d}/__compact/stats")
            return d

        # crash A: staged only — probe IGNORES the stage (read-only),
        # pre-fold view; explicit repair then discards it
        d = staged_copy("crash_a")
        assert probe(d) == want
        assert os.path.isdir(f"{d}/__compact")  # untouched by the probe
        invindex.repair_index(d)
        assert not os.path.isdir(f"{d}/__compact")
        assert os.path.isdir(f"{d}/batches/b1")
        assert probe(d) == want

        # crash B: batches aside, no swap yet — probe rolls forward
        d = staged_copy("crash_b")
        shutil.move(f"{d}/batches", f"{d}/batches__folded")
        assert probe(d) == want
        assert not os.path.isdir(f"{d}/batches")  # folded in, not restored

        # crash C (the old double-count window): postings swapped, batch
        # content still on disk in the aside dir — probe must NOT count
        # it twice
        d = staged_copy("crash_c")
        shutil.move(f"{d}/batches", f"{d}/batches__folded")
        shutil.move(f"{d}/postings", f"{d}/postings__old")
        shutil.move(f"{d}/__compact/postings", f"{d}/postings")
        shutil.rmtree(f"{d}/postings__old")
        assert probe(d) == want
        assert (
            invindex.read_index_stats(spark, d).collect()[0].n_docs_total
            == docs.count()
        )

        # crash D: everything swapped, aside copies not yet deleted
        d = staged_copy("crash_d")
        shutil.move(f"{d}/batches", f"{d}/batches__folded")
        for sub in ("postings", "doclen", "stats"):
            shutil.move(f"{d}/{sub}", f"{d}/{sub}__old")
            shutil.move(f"{d}/__compact/{sub}", f"{d}/{sub}")
            shutil.rmtree(f"{d}/{sub}__old")
        shutil.rmtree(f"{d}/__compact")
        assert probe(d) == want
        assert os.path.isdir(f"{d}/batches__folded")  # probe is read-only
        invindex.repair_index(d)
        assert not os.path.isdir(f"{d}/batches__folded")
        assert probe(d) == want
