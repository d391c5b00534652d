"""Oracle-diffed tests for the north-star pipeline queries (text analysis,
dedup, similarity search, multimodal plumbing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark import registry
from tests.oracle import assert_matches_oracle

PIPELINE = (
    "dedup_exact",
    "text_stats",
    "lang_id",
    "quality_score",
    "fingerprint_docs",
    "fingerprint_winnow",
    "dedup_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "ann_bruteforce",
    "ann_lsh",
    "ann_ivf",
    "kmeans_embeddings",
    "dedup_clusters",
    "dedup_embedding_cosine",
    "multimodal_decode",
    "multimodal_frames",
    "multimodal_features",
)


@pytest.mark.parametrize("name", PIPELINE)
def test_matches_oracle_small(spark, sf_dir, name):
    q = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    assert_matches_oracle(q(spark, sf_dir), sql, sf_dir)


@pytest.mark.parametrize("name", PIPELINE)
def test_matches_oracle_sf001(spark, oracle_sf_dir, name):
    q = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    assert_matches_oracle(q(spark, oracle_sf_dir), sql, oracle_sf_dir)


def test_minhash_lsh_recall_vs_exact(spark, oracle_sf_dir):
    """LSH near-dup recall against the exact-Jaccard ground truth: every
    exact pair at >= 0.7 must be found by the banded index (16 hashes /
    4 bands → band-match prob at j=0.7 is 1-(1-0.7^4)^4 ≈ 0.67 per band
    set; at 0.9 it is ~0.998 — we check the high-sim tier only)."""
    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_dedup,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    docs = load_table(spark, oracle_sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, threshold=0.9).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_dedup(docs, threshold=0.9).collect()
    }
    missed = exact - lsh
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_ann_ivf_recall_vs_bruteforce(spark, oracle_sf_dir):
    """IVF (8 cells, nprobe=2) must recover a reasonable fraction of the
    exact top-10 per query — and every returned neighbor's cosine must
    equal the exact cosine (the approximation is WHICH candidates are
    scored, never the score itself)."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        ann_ivf_topk,
        brute_force_topk,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=10).collect()
    approx = ann_ivf_topk(emb, queries, k=10, n_centroids=8, nprobe=2).collect()
    exact_pairs = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    approx_pairs = {(r.query_id, r.neighbor_id): r.cosine for r in approx}
    hits = set(exact_pairs) & set(approx_pairs)
    recall = len(hits) / len(exact_pairs)
    assert recall >= 0.3, f"IVF recall too low: {recall}"
    for pair in hits:
        assert exact_pairs[pair] == approx_pairs[pair], pair


def test_ppjoin_prefix_exact_at_awkward_threshold(spark):
    """threshold=0.55 over 100-shingle docs: 0.55*100 rounds UP in float
    (55.00000000000001 → ceil 56), which would shorten the PPJoin prefix by
    one and silently drop qualifying pairs. The filtered result must equal
    the brute-force all-pairs join at every threshold."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        jaccard_pairs,
        shingle_sets,
    )

    # Two docs sharing exactly 71 of their 100 3-shingles: 102 tokens each,
    # first 73 tokens common → jaccard = 71/129 ≈ 0.5504 — right at the
    # boundary the broken ceil would lose.
    common = [f"w{i}" for i in range(73)]
    a_txt = " ".join(common + [f"a{i}" for i in range(29)])
    b_txt = " ".join(common + [f"b{i}" for i in range(29)])
    docs = spark.createDataFrame(
        [(0, a_txt), (1, b_txt)], ["doc_id", "text"]
    )
    sizes = {
        r.doc_id: r.n
        for r in shingle_sets(docs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sizes == {0: 100, 1: 100}
    # jaccard = 71/129 ≈ 0.550388
    for thr in (0.55, 0.5503):
        got = jaccard_pairs(docs, threshold=thr).collect()
        assert [(r.doc_a, r.doc_b, r.n_common) for r in got] == [(0, 1, 71)], (
            f"threshold={thr}: prefix filter dropped the qualifying pair"
        )
    assert jaccard_pairs(docs, threshold=0.5504).collect() == []


def test_decode_media_codec_injection(spark):
    """The decoder swap-in contract: a custom codec replaces the stub with no
    change to schema, Arrow plumbing, or row alignment."""
    from mapreducemovieanalysis_cloud_spark.operators.multimodal import (
        DECODED_SCHEMA,
        decode_media,
    )

    media = spark.createDataFrame(
        [
            (1, "image/png", bytearray(b"\x89PNG\x0d\x0a"), "s3://x/1"),
            (2, "audio/wav", bytearray(b"RIFF\x00\x01\x02\x03"), "s3://x/2"),
        ],
        "media_id LONG, media_type STRING, data BINARY, source STRING",
    )

    def fake_codec(media_type: str, data: bytes) -> dict:
        return {
            "n_bytes": len(data),
            "first_byte": data[0],
            "width": 640 if media_type.startswith("image") else 0,
            "height": 480 if media_type.startswith("image") else 0,
        }

    out = decode_media(media, decoder=fake_codec)
    assert out.schema == DECODED_SCHEMA
    rows = {r.media_id: r for r in out.collect()}
    assert rows[1].first_byte == 0x89 and rows[1].width == 640
    assert rows[2].first_byte == ord("R") and rows[2].width == 0


def test_default_decoder_dispatch(monkeypatch):
    """r04 verdict item 7: the codec probe is dynamic and dispatching —
    with codecs present, real media types route to the real decoder
    (no code edit needed); */fake types and codec-less environments
    keep the deterministic oracle-checked stub."""
    from mapreducemovieanalysis_cloud_spark.operators import multimodal as mm

    payload = b"\x89PNG1234"
    stub = mm._decode_stub("image/png", payload)

    # codec-less environment: real types fall back to the stub
    monkeypatch.setattr(mm, "REAL_CODECS_AVAILABLE", False)
    assert mm.default_decoder("image/png", payload) == stub

    # codecs present: real image types dispatch to the real decoder...
    monkeypatch.setattr(mm, "REAL_CODECS_AVAILABLE", True)
    monkeypatch.setattr(
        mm,
        "_decode_real_image",
        lambda mt, d: {
            "n_bytes": len(d),
            "first_byte": d[0],
            "width": 111,
            "height": 222,
        },
    )
    real = mm.default_decoder("image/png", payload)
    assert (real["width"], real["height"]) == (111, 222)
    # ...but the synthetic */fake type stays on the stub even then
    assert mm.default_decoder("image/fake", payload) == mm._decode_stub(
        "image/fake", payload
    )
    # the probe reflects this environment's actual importability
    try:
        import PIL.Image  # noqa: F401

        expected = True
    except ImportError:
        expected = False
    assert mm._probe_real_codecs() is expected


def test_dispatch_decision_is_frozen_by_value(monkeypatch):
    """r05 advisor: the real-vs-stub decision must be resolved once (on
    the driver) and shipped by value, not re-answered per interpreter —
    a closure built under one probe answer keeps that answer even when
    the module flag (an executor's local probe) says otherwise, so a
    mixed cluster can't decode the same row two different ways."""
    from mapreducemovieanalysis_cloud_spark.operators import multimodal as mm

    payload = b"\x89PNG1234"
    monkeypatch.setattr(
        mm,
        "_decode_real_image",
        lambda mt, d: {
            "n_bytes": len(d), "first_byte": d[0],
            "width": 111, "height": 222,
        },
    )
    frozen_real = mm.make_dispatch_decoder(True)
    frozen_stub = mm.make_dispatch_decoder(False)
    # flip the module flag (what a differently-provisioned executor's
    # import probe would report): the frozen closures must not care
    for flag in (False, True):
        monkeypatch.setattr(mm, "REAL_CODECS_AVAILABLE", flag)
        assert frozen_real("image/png", payload)["width"] == 111
        assert frozen_stub("image/png", payload) == mm._decode_stub(
            "image/png", payload
        )


def test_incremental_dedup_rejects_flat_append_on_epoch_store(
    spark, tmp_path
):
    """r05 advisor: batch_id=None on a store previously written in epoch
    mode would flat-append part files beside the batch= directories,
    breaking partition discovery for every later read — the call must
    fail with the migration ValueError (mirror of dq's flat-sink guard)
    instead of honoring the docstring contract on trust."""
    import pytest

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    store = str(tmp_path / "fp_store")
    b = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
    incremental_exact_dedup(b, store, batch_id=1)  # epoch layout
    with pytest.raises(ValueError, match="epoch"):
        incremental_exact_dedup(
            spark.createDataFrame(
                [(2, "beta")], "doc_id long, text string"
            ),
            store,
        )
    # and the epoch path keeps working
    novel, _ = incremental_exact_dedup(
        spark.createDataFrame([(2, "beta")], "doc_id long, text string"),
        store,
        batch_id=2,
    )
    assert [r.doc_id for r in novel.collect()] == [2]


def test_real_pil_decode_when_available(spark):
    """Exercises the REAL codec branch (_decode_real_image) end-to-end
    whenever PIL is importable: a genuine in-memory PNG flows through
    decode_media with the real dispatch and must yield its true pixel
    dimensions.  This container ships no PIL and no offline wheel cache
    (verified r06; installs are out of scope per the environment
    contract), so here the test documents itself as skipped — on any
    PIL-provisioned deployment it runs and pins the real path."""
    import pytest

    from mapreducemovieanalysis_cloud_spark.operators import multimodal as mm

    if not mm.REAL_CODECS_AVAILABLE:
        pytest.skip(
            "PIL not importable in this environment (no wheel cache); "
            "real-codec branch exercised only where PIL exists — "
            "see SCALE.md 'real codecs' note"
        )
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (17, 9)).save(buf, format="PNG")
    png = buf.getvalue()
    direct = mm._decode_real_image("image/png", png)
    assert (direct["width"], direct["height"]) == (17, 9)
    media = spark.createDataFrame(
        [(1, "image/png", bytearray(png), "t")], mm.MEDIA_SCHEMA
    )
    row = mm.decode_media(
        media, decoder=mm.make_dispatch_decoder(True)
    ).collect()[0]
    assert (row.width, row.height) == (17, 9)
    assert row.n_bytes == len(png)


def test_decode_media_realistic_binary_codec_end_to_end(spark):
    """A REALISTIC binary decoder through the codec contract: payloads are
    structurally valid BMP files (binary header + non-UTF-8 pixel bytes),
    the injected codec struct-unpacks the header exactly like a real
    imaging library's thin wrapper would, and the parsed dimensions must
    round-trip through Arrow batching, schema, and row alignment — plus
    the same non-UTF-8 payloads driven through frame_sample, end-to-end.
    Proves the plumbing carries arbitrary binary (not just text-as-bytes)
    without modification."""
    import struct

    from mapreducemovieanalysis_cloud_spark.operators.multimodal import (
        DECODED_SCHEMA,
        decode_media,
        frame_sample,
    )

    def make_bmp(width: int, height: int, seed: int) -> bytearray:
        # BITMAPFILEHEADER (14 B) + BITMAPINFOHEADER (40 B) + raw pixels.
        # Pixel bytes deliberately land in 0x80-0xFF: invalid as UTF-8.
        n_pix = width * height * 3
        header = struct.pack(
            "<2sIHHI", b"BM", 54 + n_pix, 0, 0, 54
        ) + struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, 24, 0, n_pix, 0, 0, 0, 0
        )
        pixels = bytes((0x80 + (seed * 31 + i) % 0x7F) for i in range(n_pix))
        return bytearray(header + pixels)

    media = spark.createDataFrame(
        [
            (1, "image/bmp", make_bmp(17, 5, 3), "s3://x/a.bmp"),
            (2, "image/bmp", make_bmp(4, 9, 8), "s3://x/b.bmp"),
        ],
        "media_id LONG, media_type STRING, data BINARY, source STRING",
    )

    def bmp_codec(media_type: str, data: bytes) -> dict:
        magic, _size = struct.unpack_from("<2sI", data, 0)
        if magic != b"BM":
            raise ValueError("not a BMP payload")
        width, height = struct.unpack_from("<ii", data, 18)
        return {
            "n_bytes": len(data),
            "first_byte": data[0],
            "width": width,
            "height": height,
        }

    out = decode_media(media, decoder=bmp_codec)
    assert out.schema == DECODED_SCHEMA
    rows = {r.media_id: r for r in out.collect()}
    assert (rows[1].width, rows[1].height) == (17, 5)
    assert (rows[2].width, rows[2].height) == (4, 9)
    assert rows[1].n_bytes == 54 + 17 * 5 * 3
    assert rows[1].first_byte == ord("B")
    # same binary payloads through the frame sampler: offsets step by the
    # block size and cover ceil(n_bytes/64) frames, payload untouched
    frames = frame_sample(media, every_n_bytes=64)
    per_id = {
        r.media_id: r.n
        for r in frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_id[1] == max(rows[1].n_bytes // 64, 1)
    assert per_id[2] == max(rows[2].n_bytes // 64, 1)


def test_extract_features_survives_non_utf8_payload(spark):
    """Binary payloads are opaque media — a non-UTF-8 byte stream must not
    kill the stage (decode uses errors='replace'; U+FFFD per bad byte)."""
    from mapreducemovieanalysis_cloud_spark.operators.multimodal import (
        extract_features,
    )

    media = spark.createDataFrame(
        [(7, "image/fake", bytearray(b"\xff\xfe ok"), "s")],
        "media_id LONG, media_type STRING, data BINARY, source STRING",
    )
    [row] = extract_features(media, dim=2).collect()
    assert row.media_id == 7
    # \xff\xfe -> two U+FFFD (65533), then " ok" = 32, 111, 107
    assert row.features == [65533 + 32 + 107, 65533 + 111]


def test_components_converge_on_long_chain(spark):
    """A diameter-6 path graph must collapse to ONE component — the failure
    mode of a fixed 4-round propagation budget (nodes >4 hops from the min
    id kept stale labels)."""
    from mapreducemovieanalysis_cloud_spark.operators.clustering import (
        label_propagation_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(7)], ["doc_id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["src", "dst"]
    )
    got = {
        r.doc_id: r.component
        for r in label_propagation_components(nodes, chain).collect()
    }
    assert got == {i: 0 for i in range(7)}


def test_curate_corpus_matches_oracle(spark, oracle_sf_dir):
    from mapreducemovieanalysis_cloud_spark import registry
    from tests.oracle import assert_matches_oracle

    q = registry.queries()["curate_corpus"]
    sql = registry.oracle_sql()["curate_corpus"]
    assert_matches_oracle(q(spark, oracle_sf_dir), sql, oracle_sf_dir)


def test_curate_corpus_single_scan_no_text_shuffle(spark, oracle_sf_dir):
    """The curation pass must read documents ONCE and never shuffle the
    text column — only (fp, id, small ints) move."""
    from mapreducemovieanalysis_cloud_spark import plans, registry

    df = registry.queries()["curate_corpus"](spark, oracle_sf_dir)
    plan = plans.executed_plan(df)
    assert plan.count("FileScan parquet") == 1, plan
    for part in plan.split("Exchange")[1:]:
        head = part[:400]
        assert "text#" not in head, head


def test_ivf_stored_index_matches_inline_operator(spark, oracle_sf_dir, tmp_path):
    """Probing the materialized IVF index must return exactly what the
    inline ann_ivf_topk computes, and the probe scan must partition-prune
    to the probed cells."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        ann_ivf_topk,
        ivf_probe_index,
        ivf_write_index,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    corpus = load_table(spark, oracle_sf_dir, "embeddings")
    queries = (
        corpus.where(F.col("vec_id") % 97 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .limit(5)
    )
    inline = ann_ivf_topk(corpus, queries, k=5, n_centroids=8, nprobe=2)
    path = str(tmp_path / "ivf")
    ivf_write_index(corpus, path, n_centroids=8)
    probed = ivf_probe_index(spark, path, queries, k=5, nprobe=2)
    got = sorted(map(tuple, probed.collect()))
    want = sorted(map(tuple, inline.collect()))
    assert got == want
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan.replace("\n", " "), plan


def test_ivf_append_equals_full_build(spark, oracle_sf_dir, tmp_path):
    """Incremental index maintenance: build on a prefix, append the rest
    as committed delta batches — probing must equal a single full build
    (fixed centroids make assignment per-vector), an uncommitted batch
    must be invisible, and a retried append must not duplicate."""
    import os

    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        ivf_append_batch,
        ivf_probe_index,
        ivf_write_index,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    corpus = load_table(spark, oracle_sf_dir, "embeddings")
    queries = (
        corpus.where(F.col("vec_id") % 97 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .limit(5)
    )
    full_path = str(tmp_path / "ivf_full")
    ivf_write_index(corpus, full_path, n_centroids=8)
    want = sorted(
        map(tuple, ivf_probe_index(spark, full_path, queries, k=5,
                                   nprobe=2).collect())
    )

    # prefix covers the centroid ids, so both indexes share centroids
    inc_path = str(tmp_path / "ivf_inc")
    ivf_write_index(
        corpus.where(F.col("vec_id") < 200), inc_path, n_centroids=8
    )
    batch1 = corpus.where(
        (F.col("vec_id") >= 200) & (F.col("vec_id") % 2 == 0)
    )
    batch2 = corpus.where(
        (F.col("vec_id") >= 200) & (F.col("vec_id") % 2 == 1)
    )
    ivf_append_batch(spark, inc_path, batch1, "b1")
    # retried batch: same id rewrites its own directory, no duplicates
    ivf_append_batch(spark, inc_path, batch1, "b1")
    ivf_append_batch(spark, inc_path, batch2, "b2")
    got = sorted(
        map(tuple, ivf_probe_index(spark, inc_path, queries, k=5,
                                   nprobe=2).collect())
    )
    assert got == want

    # a crashed (uncommitted) append must be invisible to probes
    os.remove(os.path.join(inc_path, "cells_delta", "batch=b2",
                           "_COMMITTED"))
    partial = sorted(
        map(tuple, ivf_probe_index(spark, inc_path, queries, k=5,
                                   nprobe=2).collect())
    )
    base_plus_b1 = str(tmp_path / "ivf_b1")
    ivf_write_index(
        corpus.where(
            (F.col("vec_id") < 200)
            | ((F.col("vec_id") >= 200) & (F.col("vec_id") % 2 == 0))
        ),
        base_plus_b1,
        n_centroids=8,
    )
    want_b1 = sorted(
        map(tuple, ivf_probe_index(spark, base_plus_b1, queries, k=5,
                                   nprobe=2).collect())
    )
    assert partial == want_b1
    # the retry heals: re-append writes the marker back
    ivf_append_batch(spark, inc_path, batch2, "b2")
    healed = sorted(
        map(tuple, ivf_probe_index(spark, inc_path, queries, k=5,
                                   nprobe=2).collect())
    )
    assert healed == want


def test_ivf_empty_append_is_harmless(spark, oracle_sf_dir, tmp_path):
    """An EMPTY committed batch (a quiet ingest window) must not break
    probes: delta reads are schema-pinned to the base store, so a
    part-file-less batch directory reads as zero rows."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        ivf_append_batch,
        ivf_probe_index,
        ivf_write_index,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    corpus = load_table(spark, oracle_sf_dir, "embeddings")
    queries = (
        corpus.where(F.col("vec_id") % 97 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .limit(3)
    )
    path = str(tmp_path / "ivf")
    ivf_write_index(corpus, path, n_centroids=8)
    want = sorted(
        map(tuple, ivf_probe_index(spark, path, queries, k=5,
                                   nprobe=2).collect())
    )
    ivf_append_batch(
        spark, path, corpus.where(F.lit(False)), "empty_day"
    )
    got = sorted(
        map(tuple, ivf_probe_index(spark, path, queries, k=5,
                                   nprobe=2).collect())
    )
    assert got == want


def test_ivf_append_to_missing_index_fails_loudly(spark, tmp_path):
    """Appending to a path with no centroids (half-built or absent
    layout) must raise, not silently assign against nothing."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    from mapreducemovieanalysis_cloud_spark.operators.similarity import (
        ivf_append_batch,
    )

    batch = spark.createDataFrame(
        [(1, [1.0] * 8)], ["vec_id", "embedding"]
    )
    with pytest.raises(AnalysisException):
        ivf_append_batch(
            spark, str(tmp_path / "nope"), batch, "b1"
        )


def test_decontaminate_flags_planted_overlap(spark):
    """A batch doc sharing a long run with the reference must be flagged;
    a disjoint doc must survive with zero shared fingerprints."""
    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        decontaminate,
    )

    bench_text = " ".join(f"bench{i}" for i in range(60))
    clean_text = " ".join(f"clean{i}" for i in range(60))
    batch = spark.createDataFrame(
        [(1, bench_text + " tail0 tail1"), (2, clean_text)],
        ["doc_id", "text"],
    )
    reference = spark.createDataFrame(
        [(100, bench_text), (101, "unrelated words here entirely")],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r
        for r in decontaminate(
            batch, reference, n=3, window=4, min_shared=5
        ).collect()
    }
    assert rows[1].contaminated and rows[1].n_shared >= 5
    assert not rows[2].contaminated and rows[2].n_shared == 0


def test_decontaminate_scores_null_id_doc_by_real_overlap(spark):
    """A batch doc with a NULL id is scored by its real overlap — the same
    n_fps/n_shared as the identical doc under a real id, so it can be
    flagged — not reported with n_shared forced to 0 (the behaviour of
    the former doc-id-join scoring)."""
    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        decontaminate,
    )

    bench_text = " ".join(f"bench{i}" for i in range(60))
    clean_text = " ".join(f"clean{i}" for i in range(60))
    reference = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string"
    )

    def score(doc_id):
        batch = spark.createDataFrame(
            [(doc_id, bench_text + " tail0 tail1"), (2, clean_text)],
            "doc_id long, text string",
        )
        return {
            r.doc_id: (r.n_fps, r.n_shared, r.contaminated)
            for r in decontaminate(
                batch, reference, n=3, window=4, min_shared=5
            ).collect()
        }

    null_scored, id_scored = score(None), score(1)
    assert null_scored[None] == id_scored[1]
    n_fps, n_shared, contaminated = null_scored[None]
    assert contaminated and 5 <= n_shared < n_fps
    assert null_scored[2] == id_scored[2]
    assert null_scored[2][1:] == (0, False)


def test_observed_metrics_single_scan(spark, oracle_sf_dir):
    """df.observe() collects pipeline health metrics (input rows, gated
    rows, null texts) as a side product of the ONE scan the query already
    does — the production alternative to a second count() pass over 100 TB."""
    from pyspark.sql import Observation

    from mapreducemovieanalysis_cloud_spark.functions import text as T
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    docs = load_table(spark, oracle_sf_dir, "documents")
    obs = Observation("curation_gates")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_in"),
        F.sum(
            F.when(T.quality_score("text") >= 0.75, 1).otherwise(0)
        ).alias("n_quality_pass"),
        F.sum(F.col("text").isNull().cast("int")).alias("n_null_text"),
    )
    kept = observed.where(T.quality_score("text") >= 0.75).count()
    metrics = obs.get
    assert metrics["n_in"] == docs.count()
    assert metrics["n_quality_pass"] == kept
    assert metrics["n_null_text"] == 0


def test_incremental_exact_dedup_across_batches(spark, oracle_sf_dir, tmp_path):
    """Batch 2 must drop every doc whose text already arrived in batch 1
    without rescanning batch 1's corpus — only the fingerprint store."""
    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        incremental_exact_dedup,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    store = str(tmp_path / "fp_store")
    docs = load_table(spark, oracle_sf_dir, "documents")
    b1 = docs.where(F.col("doc_id") < 250)
    # batch 2: genuinely new docs + re-sends of batch-1 texts under new ids
    resent = b1.limit(50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    b2 = docs.where(F.col("doc_id") >= 250).select("doc_id", "text").union(
        resent
    )

    s1, store_df1 = incremental_exact_dedup(b1, store)
    s2, store_df2 = incremental_exact_dedup(b2, store)

    # no resent text survives batch 2
    b1_fps = {r.fp for r in s1.collect()}
    s2_fps = {r.fp for r in s2.collect()}
    assert not (b1_fps & s2_fps)
    # the store now equals one fp per distinct text across both batches
    distinct_texts = (
        b1.select("text").union(b2.select("text")).distinct().count()
    )
    assert store_df2.select("fp").distinct().count() == distinct_texts
    # idempotency: re-ingesting batch 2 adds nothing
    s3, store_df3 = incremental_exact_dedup(b2, store)
    assert s3.count() == 0
    assert store_df3.count() == store_df2.count()


def test_incremental_exact_dedup_batch_id_exactly_once(spark, tmp_path):
    """batch_id mode: a retried batch — including after a crashed partial
    attempt left files in its own epoch directory — neither duplicates
    survivors/store rows nor drops its documents as already-seen."""
    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    store = str(tmp_path / "fp_store")
    surv = str(tmp_path / "survivors")

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    b1 = mk([(1, "alpha"), (2, "beta"), (3, "alpha")])
    incremental_exact_dedup(b1, store, survivors_path=surv, batch_id=1)

    # simulate a crashed prior attempt of batch 2: partial store epoch dir
    # already contains batch 2's own fingerprints
    b2 = mk([(10, "gamma"), (11, "beta")])
    incremental_exact_dedup(b2, store, survivors_path=surv, batch_id=2)
    # retry batch 2 twice more (foreachBatch re-run)
    for _ in range(2):
        incremental_exact_dedup(b2, store, survivors_path=surv, batch_id=2)

    out = spark.read.parquet(surv)
    # survivors: batch1 {alpha(min id 1), beta(2)}; batch2 {gamma} only
    # (beta already seen; retries overwrote, never appended)
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 10]
    store_rows = spark.read.parquet(store)
    assert store_rows.count() == 3  # alpha, beta, gamma — exactly once
    assert store_rows.select("fp").distinct().count() == 3


def test_incremental_dedup_numeric_string_batch_id_roundtrips(
    spark, tmp_path
):
    """A zero-padded numeric string id ("007") must round-trip through
    the hive partition layout: partition TYPE INFERENCE would read
    batch=007 back as integer 7, the exclusion filter would match
    nothing, and a crashed attempt's own fingerprints would mark the
    batch already-seen — silently dropping it forever. read_epochs
    pins ``batch`` to string (explicit schema — no session-global conf
    flip) so the retry is exactly-once."""
    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    store = str(tmp_path / "fp_store")
    surv = str(tmp_path / "survivors")
    b = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    # crashed attempt: the batch's own epoch dir already holds its fps
    incremental_exact_dedup(b, store, survivors_path=surv, batch_id="007")
    # retry must re-emit BOTH survivors (not treat them as already-seen)
    novel, _ = incremental_exact_dedup(
        b, store, survivors_path=surv, batch_id="007"
    )
    assert sorted(r.doc_id for r in novel.collect()) == [1, 2]
    assert spark.read.parquet(store).count() == 2


def test_read_epochs_schema_pin_skips_footerless_epoch(spark, tmp_path):
    """An epoch directory holding no readable parquet footer (manually
    cleaned, or an object-store partial with only _SUCCESS) must not
    poison the schema pin: read_epochs falls back to the next epoch for
    footer inference instead of raising AnalysisException — which dedup
    callers would interpret as "no store yet", the silent-empty-store
    inversion (r06 advisor)."""
    import os

    from mapreducemovieanalysis_cloud_spark.sources.writers import (
        read_epochs,
        write_epoch,
    )

    root = str(tmp_path / "store")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write_epoch(df, root, batch_id=1)
    write_epoch(df.where("id = 2"), root, batch_id=2)
    # gut the lexicographically FIRST epoch dir down to _SUCCESS only
    e1 = os.path.join(root, "batch=1")
    for f in os.listdir(e1):
        if f != "_SUCCESS":
            os.remove(os.path.join(e1, f))
    out = read_epochs(spark, root)
    assert [f.name for f in out.schema.fields] == ["id", "v", "batch"]
    assert [(r.id, r.batch) for r in out.collect()] == [(2, "2")]


def test_read_epochs_all_footerless_raises_distinct_error(spark, tmp_path):
    """When NO epoch yields a readable footer the store is corrupt, not
    absent: read_epochs must raise its own loud ValueError, never the
    missing-path AnalysisException the "no store yet" handlers catch."""
    import os

    from mapreducemovieanalysis_cloud_spark.sources.writers import (
        read_epochs,
        write_epoch,
    )

    root = str(tmp_path / "store")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    write_epoch(df, root, batch_id=1)
    e1 = os.path.join(root, "batch=1")
    for f in os.listdir(e1):
        if f != "_SUCCESS":
            os.remove(os.path.join(e1, f))
    with pytest.raises(ValueError, match="readable"):
        read_epochs(spark, root)


def test_read_epochs_non_footer_analysis_error_propagates(spark, tmp_path):
    """The schema-pin fallback advances ONLY on UNABLE_TO_INFER_SCHEMA
    (the documented footer-inference failure); any other
    AnalysisException — e.g. PATH_NOT_FOUND from an epoch dir deleted
    between listing and load — must propagate, not silently shift the
    schema pin to a later epoch or reclassify a healthy store as
    corrupt (r08 advisor: the r07 comment documented this contract but
    the except clause still caught every AnalysisException)."""
    import os

    from pyspark.errors import AnalysisException

    from mapreducemovieanalysis_cloud_spark.sources.writers import (
        read_epochs,
        write_epoch,
    )

    root = str(tmp_path / "store")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write_epoch(df, root, batch_id=1)
    write_epoch(df.where("id = 2"), root, batch_id=2)
    poison = os.path.join(root, "batch=1")

    class _PathGone(AnalysisException):
        # JVM-raised error classes aren't in the Python error registry,
        # so build the instance directly and answer getCondition like a
        # captured PATH_NOT_FOUND would
        def __init__(self):
            Exception.__init__(self, "[PATH_NOT_FOUND] fake: epoch dir deleted")

        def getCondition(self):
            return "PATH_NOT_FOUND"

        def getErrorClass(self):
            return "PATH_NOT_FOUND"

        def __str__(self):
            return "[PATH_NOT_FOUND] fake: epoch dir deleted"

    class _RacedReader:
        def __init__(self, real_spark):
            self._spark = real_spark
            self._fmt = "parquet"

        def format(self, fmt):
            self._fmt = fmt
            return self

        def load(self, path):
            if path == poison:
                raise _PathGone()
            return self._spark.read.format(self._fmt).load(path)

        def schema(self, s):
            return self._spark.read.format(self._fmt).schema(s)

    class _RacedSpark:
        """Delegates everything to the real session except .read, whose
        per-epoch load races away the first epoch dir."""

        def __init__(self, real_spark):
            self._spark = real_spark

        @property
        def read(self):
            return _RacedReader(self._spark)

        def __getattr__(self, name):
            return getattr(self._spark, name)

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_epochs(_RacedSpark(spark), root)
    # sanity: the same store reads fine without the race — the raise
    # above came from propagation, not from a broken store
    assert read_epochs(spark, root).count() == 3
