"""Behavioral tests for the round-7 wave-3 queries (queries/
round7_staged.py): each one checked against a hand-computable or
brute-force result, independent of the DuckDB oracle parity that
tests/test_round7_staged.py already runs — the oracle proves the two
engines agree; these prove the agreed answer is the RIGHT one."""

from __future__ import annotations

import math


def _rules_matrix(spark, rows):
    """Run the gopher rule battery on an in-memory corpus and return
    {(source, rule): (n_docs, n_fail)}."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.queries import round7_staged

    # the staged query loads from parquet; drive its internals by
    # monkey-free re-composition: same expressions via a temp view is
    # overkill — just re-run the function body on a DataFrame by
    # writing the corpus to a temp parquet dir
    import tempfile

    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    with tempfile.TemporaryDirectory() as d:
        df.select(
            "doc_id",
            "text",
            F.lit("en").alias("lang"),
            "source",
            F.length("text").cast("long").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = round7_staged.gopher_rules_report(spark, d).collect()
    return {(r.source, r.rule): (r.n_docs, r.n_fail) for r in out}


def test_gopher_rules_each_rule_fires_exactly_when_designed(spark):
    long_ok = "the cat and dog ran to the old red barn near a big tree"
    rows = [
        # s1: passes everything (12 words, sane lengths, stopwords)
        (1, long_ok, "s1"),
        # s2: word_count fail (3 words) + stopwords fail (none of the 8)
        (2, "cats dogs run", "s2"),
        # s3: mean word length fail (all 1-char words, mean < 3);
        # 12 words so word_count passes; 'a' IS a stopword but only 1
        (3, "a b c d e f g h i j k l", "s3"),
        # s4: alpha_ratio fail (mostly digits) + stopwords fail
        (4, "111 222 333 444 555 666 777 888 999 000 abc def", "s4"),
        # s5: max_word_len fail (a 25-char token) inside an otherwise
        # healthy sentence
        (5, long_ok + " " + "x" * 25, "s5"),
    ]
    m = _rules_matrix(spark, rows)
    assert m[("s1", "word_count")] == (1, 0)
    assert m[("s1", "mean_word_len")] == (1, 0)
    assert m[("s1", "alpha_ratio")] == (1, 0)
    assert m[("s1", "stopwords")] == (1, 0)
    assert m[("s1", "max_word_len")] == (1, 0)
    assert m[("s2", "word_count")] == (1, 1)
    assert m[("s2", "stopwords")] == (1, 1)
    assert m[("s3", "mean_word_len")] == (1, 1)
    assert m[("s3", "word_count")] == (1, 0)
    assert m[("s4", "alpha_ratio")] == (1, 1)
    assert m[("s4", "stopwords")] == (1, 1)
    assert m[("s5", "max_word_len")] == (1, 1)
    assert m[("s5", "word_count")] == (1, 0)


def test_band_stats_candidate_pairs_bound_the_production_candidates(
    spark, oracle_sf_dir
):
    """Sum over bands of C(bucket, 2) counts every (pair, band) hit, so
    it must be >= the DISTINCT pair count lsh_candidate_pairs emits —
    and > 0 exactly when candidates exist.  Ties the measurement
    surface to the production generator on real data."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from mapreducemovieanalysis_cloud_spark.queries.round7_staged import (
        lsh_band_collision_stats,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    stats = lsh_band_collision_stats(spark, oracle_sf_dir).collect()
    assert {r.band_idx for r in stats} == {0, 1, 2, 3}
    total_band_pairs = sum(r.candidate_pairs for r in stats)

    docs = load_table(spark, oracle_sf_dir, "documents").select(
        "doc_id", "text"
    )
    sigs = minhash_signatures(docs, n=3, num_hashes=16)
    n_distinct = lsh_candidate_pairs(sigs, 16, 4).count()
    assert total_band_pairs >= n_distinct
    assert (total_band_pairs > 0) == (n_distinct > 0)
    for r in stats:
        assert r.n_buckets_multi <= r.n_buckets
        assert r.max_bucket >= (2 if r.n_buckets_multi else 1)


def test_packing_fragmentation_brute_force(spark):
    """Hand-packed corpus: doc token counts chosen so exactly the docs
    crossing a 64-token boundary straddle; brute-force the layout in
    python and compare counts, spans, and rates."""
    import tempfile

    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.queries import round7_staged

    # token counts per doc (ascending doc_id packing order)
    toks = [30, 30, 30, 10, 64, 5, 100, 1]
    rows = [
        (i, " ".join(["w"] * t), "sA" if i % 2 == 0 else "sB", "en")
        for i, t in enumerate(toks)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )

    import mapreducemovieanalysis_cloud_spark.queries.round7_staged as r7

    # the staged query pins ctx=2048; recompute expected under 2048
    ctx = 2048
    cum = 0
    expect: dict[str, list[int]] = {}
    for i, t in enumerate(toks):
        off = cum % ctx
        straddle = 1 if off + t > ctx else 0
        spans = (off + t - 1) // ctx + 1
        src = "sA" if i % 2 == 0 else "sB"
        agg = expect.setdefault(src, [0, 0, 0, 0])  # docs, straddle, spans, max
        agg[0] += 1
        agg[1] += straddle
        agg[2] += spans
        agg[3] = max(agg[3], spans)
        cum += t

    with tempfile.TemporaryDirectory() as d:
        df.select(
            "doc_id", "text", "lang", "source",
            F.length("text").cast("long").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = r7.packing_fragmentation_audit(spark, d).collect()

    got = {
        r.source: [r.n_docs, r.n_straddling, r.window_spans, r.max_windows]
        for r in out
    }
    assert got == expect
    for r in out:
        assert r.straddle_rate_bp == r.n_straddling * 10000 // r.n_docs


def test_embedding_health_flags_planted_pathologies(spark):
    """A corpus with one NaN vector, one zero vector, and one ragged
    (short) vector must surface each in the right counter."""
    import tempfile

    from mapreducemovieanalysis_cloud_spark.queries.round7_staged import (
        embedding_health_report,
    )

    good = [0.5] * 8
    rows = [
        (1, good, 0),
        (2, [float("nan")] + [0.1] * 7, 0),
        (3, [0.0] * 8, 1),
        (4, [0.2] * 4, 1),  # ragged: dim 4 instead of 8
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        out = {
            r.label: r
            for r in embedding_health_report(spark, d).collect()
        }
    assert out[0].n_vecs == 2
    assert out[0].n_nonfinite == 1
    assert out[0].n_zero == 0
    # 0.5 milli-quantized = 500; 8 * 500^2 = 2_000_000
    assert out[0].max_norm2_milli2 == 2_000_000
    assert out[1].n_zero == 1
    assert (out[1].min_dim, out[1].max_dim) == (4, 8)


def test_cluster_histogram_mass_conservation(spark, oracle_sf_dir):
    """Sum over the histogram of n_docs must equal the corpus size, and
    n_docs = cluster_size * n_clusters row-wise — the keep-one savings
    figure (sum n_docs - sum n_clusters) is then trustworthy."""
    from mapreducemovieanalysis_cloud_spark.queries.round7_staged import (
        dedup_cluster_size_histogram,
    )
    from mapreducemovieanalysis_cloud_spark.sources.readers import load_table

    rows = dedup_cluster_size_histogram(spark, oracle_sf_dir).collect()
    n_corpus = load_table(spark, oracle_sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_corpus
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters


def test_boundary_overlap_planted_pair(spark):
    """Doc 1 ends with the 3 tokens doc 2 starts with → exactly the
    directed pair (1, 2); reversed or interior overlaps must NOT
    fire."""
    import tempfile

    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.queries.round7_staged import (
        boundary_overlap_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "s", "en"),
        (2, "epsilon zeta eta theta iota", "s", "en"),          # head = 1's tail? 1's tail = "delta epsilon zeta"; no
        (3, "delta epsilon zeta omega psi", "s", "en"),         # head == 1's tail -> pair (1,3)
        (4, "zeta delta epsilon kappa mu", "s", "en"),          # interior only
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.select(
            "doc_id", "text", "lang", "source",
            F.length("text").cast("long").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {
            (r.doc_a, r.doc_b)
            for r in boundary_overlap_pairs(spark, d).collect()
        }
    assert out == {(1, 3)}


def test_minhash_estimate_error_zero_on_identical_docs(spark):
    """A corpus of byte-identical documents: every candidate pair has
    exact Jaccard 1.0 AND signature agreement 16/16, so the estimator
    error must be exactly zero and the false-accept count zero."""
    import tempfile

    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.queries.round7_staged import (
        minhash_estimate_error,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, text, "s", "en") for i in range(6)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.select(
            "doc_id", "text", "lang", "source",
            F.length("text").cast("long").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        row = minhash_estimate_error(spark, d).collect()[0]
    assert row.n_pairs == 15  # C(6,2) — banding catches identicals
    assert row.mae_micro == 0
    assert row.max_abs_err_micro == 0
    assert row.n_false_accept_at_half == 0


def test_oov_rate_boundary_ties_and_counts(spark):
    """Hand corpus where the K=16 vocab boundary falls on a count tie:
    the lexicographically-smaller token must enter the vocab, and the
    per-source OOV counts must match a python brute force."""
    import tempfile
    from collections import Counter

    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.queries.round7_staged import (
        tokenizer_oov_rate,
    )

    # 20 token types: t00..t15 frequent, then "zz" and "aa" tied at the
    # boundary count, plus two rare ones. K=16 keeps t00..t13 (14 types
    # with count 5) then the count-3 tie {aa, zz} -> both fit? build so
    # exactly one of the tied pair fits the last slot.
    words = []
    for i in range(15):
        words += [f"t{i:02d}"] * 5          # 15 types, count 5
    words += ["aa"] * 3 + ["zz"] * 3        # tie at count 3 for slot 16
    words += ["rare1", "rare2"]             # count 1
    docs = [
        (0, " ".join(words), "s1"),
        (1, "aa zz rare1 extra", "s2"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    with tempfile.TemporaryDirectory() as d:
        df.select(
            "doc_id", "text", F.lit("en").alias("lang"), "source",
            F.length("text").cast("long").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r.source: r for r in tokenizer_oov_rate(spark, d).collect()}

    # brute force
    allw = Counter(words) + Counter("aa zz rare1 extra".split())
    vocab = set(
        t for t, _ in sorted(allw.items(), key=lambda kv: (-kv[1], kv[0]))[:16]
    )
    assert "aa" in vocab and "zz" not in vocab  # tie broke lexicographically
    for src, text in ((("s1"), " ".join(words)), ("s2", "aa zz rare1 extra")):
        toks = text.split()
        n_oov = sum(1 for t in toks if t not in vocab)
        assert out[src].n_tokens == len(toks)
        assert out[src].n_oov == n_oov
        assert out[src].oov_rate_bp == n_oov * 10000 // len(toks)


def test_chain_merge_audit_flags_planted_chain(spark):
    """Planted A~B~C chain (B bridges two docs that are NOT near-dups
    of each other): one size-3 component with 2 direct pairs, 3 implied
    — indirect rate 3333 bp.  The audit surfaces exactly the pair the
    closure invented."""
    import tempfile

    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.queries.round7_staged import (
        dedup_chain_merge_audit,
    )

    P = [f"p{i}" for i in range(4)]
    M = [f"m{i}" for i in range(12)]
    Q = [f"q{i}" for i in range(4)]
    rows = [
        (1, " ".join(P + M), "s", "en"),       # A = prefix + middle
        (2, " ".join(P + M + Q), "s", "en"),   # B = bridge (A ∪ C)
        (3, " ".join(M + Q), "s", "en"),       # C = middle + suffix
        (9, "solo unrelated text entirely different", "s", "en"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.select(
            "doc_id", "text", "lang", "source",
            F.length("text").cast("long").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = dedup_chain_merge_audit(spark, d).collect()
    assert len(out) == 1  # the singleton never appears
    r = out[0]
    assert r.component == 1
    assert r.cluster_size == 3
    assert r.n_direct_pairs == 2
    assert r.implied_pairs == 3
    assert r.indirect_rate_bp == 3333


def test_band_stats_salt_factor_on_planted_hot_band(spark, tmp_path):
    """A planted degenerate bucket (many identical docs -> one band key
    holds them all) must trip the skew flag and emit the ceil-ratio
    salt factor the salted_join remedy needs — the alarm carries an
    actionable output, not just a number (r06 verdict item 7)."""
    import math

    from mapreducemovieanalysis_cloud_spark.queries.round7_staged import (
        lsh_band_collision_stats,
    )

    hot = [(i, "alpha beta gamma delta epsilon zeta") for i in range(40)]
    cold = [
        (100 + i, f"unique{i} words{i} here{i} now{i} more{i}")
        for i in range(20)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        hot + cold, "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")

    stats = lsh_band_collision_stats(spark, sf).collect()
    assert {r.band_idx for r in stats} == {0, 1, 2, 3}
    for r in stats:
        # 40 identical signatures share every band's hottest bucket
        assert r.max_bucket >= 40
        total = 60  # one banded key per doc per band
        assert r.skewed == int(r.max_bucket * r.n_buckets > 4 * total)
        assert r.skewed == 1
        assert r.salt_factor == math.ceil(
            r.max_bucket * r.n_buckets / (4 * total)
        )
        assert r.salt_factor >= 2


def test_curate_corpus_v2_planted_verdicts(spark, tmp_path):
    """End-to-end curation semantics on planted docs: a 2-word doc is
    gopher-gated, the token-salad outlier lands in the tail tercile and
    is LM-gated, the shorter member of a planted near-dup pair loses
    survivor selection, components never straddle the train/val split,
    and ``kept`` is exactly the AND of the three gates."""
    from mapreducemovieanalysis_cloud_spark.queries.round7_staged import (
        curate_corpus_v2,
    )

    normal = [
        (
            i,
            f"the cat{i} and the dog{i} walk to the park{i} in that town",
            "web",
            "en",
        )
        for i in range(12)
    ]
    dup_a = (
        50,
        "the fish and the bird swim to the lake in that valley",
        "web",
        "en",
    )
    dup_b = (
        51,
        "the fish and the bird swim to the lake in that valley today maybe",
        "web",
        "en",
    )
    short = (60, "tiny doc", "web", "en")
    # below the bigram LM's scoring floor (< 2 tokens): must still get
    # a verdict row (lm_scored=0, kept=0), never silently vanish from
    # both splits (r07 self-review finding)
    one_tok = (61, "solo", "web", "en")
    salad = (
        70,
        "zxq plork vmnt qqj blarg wex fnord grue zyzzx wibble qux corge",
        "web",
        "en",
    )
    sf = str(tmp_path)
    spark.createDataFrame(
        normal + [dup_a, dup_b, short, one_tok, salad],
        "doc_id long, text string, source string, lang string",
    ).write.parquet(f"{sf}/documents.parquet")

    rows = {r.doc_id: r for r in curate_corpus_v2(spark, sf).collect()}
    assert len(rows) == 17
    # gopher gate: the 2-word doc fails word_count (and stopwords)
    assert rows[60].gopher_fails >= 1 and rows[60].kept == 0
    # LM-unscorable doc: present, explicitly unscored, LM-gated
    assert rows[61].lm_scored == 0 and rows[61].tercile == 0
    assert rows[61].kept == 0
    assert rows[61].split in ("train", "val")
    # every scorable doc is marked scored
    assert all(r.lm_scored == 1 for d, r in rows.items() if d != 61)
    # LM gate: the token salad is the corpus's worst-scoring doc -> tail
    assert rows[70].tercile == 3 and rows[70].kept == 0
    # survivor rule: the longer near-dup member wins, the shorter loses
    assert rows[51].is_survivor == 1
    assert rows[50].is_survivor == 0 and rows[50].kept == 0
    # leakage safety: 50 and 51 share a component -> identical split
    assert rows[50].split == rows[51].split
    # kept is exactly the AND of the three gates, for every doc
    for r in rows.values():
        assert r.kept == int(
            r.gopher_fails == 0
            and r.tercile in (1, 2)
            and r.is_survivor == 1
        )
    assert sum(r.kept for r in rows.values()) >= 1


def test_salt_factor_feeds_salted_join_end_to_end(spark, tmp_path):
    """The remedy loop closed (r07 verdict item 6): plant a hot band,
    READ the report's salt_factor, run the LSH candidate self-join
    salted with exactly that value, and assert (a) the salted join
    yields the identical candidate-pair set as the unsalted join and
    (b) the hot bucket's fact rows actually spread across salt groups
    — the per-(key, salt) max group shrinks toward hot/salt_factor, so
    no single join task sees the whole degenerate bucket."""
    from pyspark.sql import functions as F

    from mapreducemovieanalysis_cloud_spark.operators.dedup import (
        banded_keys,
        minhash_signatures,
    )
    from mapreducemovieanalysis_cloud_spark.operators.skew import salted_join
    from mapreducemovieanalysis_cloud_spark.queries.round7_staged import (
        lsh_band_collision_stats,
    )

    hot = [(i, "alpha beta gamma delta epsilon zeta") for i in range(40)]
    cold = [
        (100 + i, f"unique{i} words{i} here{i} now{i} more{i}")
        for i in range(20)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        hot + cold, "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")

    # 1. the report emits the remedy
    stats = {r.band_idx: r for r in lsh_band_collision_stats(spark, sf).collect()}
    assert all(r.skewed == 1 for r in stats.values())
    salt = max(r.salt_factor for r in stats.values())
    assert salt >= 2

    # 2. consume it: candidate self-join on the production banding,
    # composite (band_idx, band_key) folded into one join column so the
    # generic fact/dim salted_join applies unchanged
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    banded = banded_keys(
        minhash_signatures(docs, n=3, num_hashes=16), num_hashes=16, bands=4
    ).select(
        "doc_id",
        F.concat_ws("#", F.col("band_idx").cast("string"), "band_key").alias(
            "bucket"
        ),
    )
    right = banded.select(
        F.col("doc_id").alias("doc_id_b"), F.col("bucket").alias("bucket_b")
    )
    unsalted = (
        banded.join(right, F.col("bucket") == F.col("bucket_b"))
        .where(F.col("doc_id") < F.col("doc_id_b"))
        .select("doc_id", "doc_id_b")
        .distinct()
    )
    salted = (
        salted_join(banded, right, "bucket", "bucket_b", salt_buckets=int(salt))
        .where(F.col("doc_id") < F.col("doc_id_b"))
        .select("doc_id", "doc_id_b")
        .distinct()
    )
    expect = {(r.doc_id, r.doc_id_b) for r in unsalted.collect()}
    got = {(r.doc_id, r.doc_id_b) for r in salted.collect()}
    assert got == expect and len(expect) >= 40 * 39 // 2

    # 3. the hot bucket genuinely spread: reproduce salted_join's fact
    # salt (same expression over the same columns) and check the
    # per-(bucket, salt) group max is well under the unsalted 40 —
    # bounded by twice the ideal even split to allow hash imbalance
    dist = (
        banded.withColumn(
            "__salt",
            F.pmod(F.xxhash64(*banded.columns), F.lit(int(salt))).cast("int"),
        )
        .groupBy("bucket", "__salt")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"))
        .collect()[0]
    )
    assert dist.mx < 40
    assert dist.mx <= 2 * -(-40 // int(salt))
