"""Persistent inverted index over a document corpus: build once, probe
per query without rescanning the corpus.

The reference has no retrieval surface at all (its only text handling is
the CSV split in ``MovieRank.java:58``); this is part of the engine's
north-star text-analysis family. The scan-time scorer (``bm25_rank``,
operators/ranking.py) recomputes tokenization per query — the right
shape for one-off scoring, the wrong one for a query workload. This
module materializes the classic search-engine layout once:

- ``<path>/postings``  — (term, doc_id, tf, positions), hash-bucketed by
  term into ``N_BUCKETS`` partition DIRECTORIES and term-sorted within
  each file.  A probe for |Q| terms statically prunes to ≤ |Q| bucket
  directories (directory-level partition pruning), and the pushed
  ``term IN (...)`` filter row-group-prunes within them via the sorted
  footer min/max — the same two-level skipping story as the stored IVF
  index (operators/similarity.py) and the z-order layout
  (sources/writers.py).  ``positions`` (1-based token indexes) makes
  the index POSITIONAL: phrase queries intersect adjacent-position
  posting lists without touching the corpus; non-positional probes
  (BM25) never read the column — parquet column pruning skips it.
- ``<path>/doclen``    — (doc_id, dl): the per-doc length normalizer.
- ``<path>/stats``     — one row (n_docs_total, sum_dl).
- ``<path>/batches/<id>/{postings,doclen,stats}`` — incrementally
  appended batches, each a complete subtree finished by a
  ``_COMMITTED`` marker; readers union only marked batches, so an
  append is atomic-at-commit and retryable by batch id (offline
  compaction folds them back into the base layout).

Probe cost at 100 TB: the corpus is never touched — the scan reads
~|Q| / N_BUCKETS of the postings table, df for the query terms is a
grouped count over those pruned postings, corpus stats are a one-row
broadcast, and the score tree is shared verbatim with the scan-time
path (``ranking.bm25_from_tables``), so index and direct scoring are
bit-identical against the same oracle SQL.  A probe reads the layout
metadata ONCE, with one Spark job: the one-row ``<path>/meta`` under a
fixed schema (``read_layout_meta``), shared by every sub-table read of
that probe (building a BM25 probe runs no other job); the query-term
bucket ids are hash expressions over literals that the optimizer folds
into the scan's partition filter.

Write-once / probe-many lifecycle shared with: stored IVF cells
(pq.py), the linkage blocking index (linkage.py), the incremental-dedup
fingerprint store (dedup.py), and the incremental-MV base (mv).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducemovieanalysis_cloud_spark.functions.text import tokens
from mapreducemovieanalysis_cloud_spark.operators.ranking import (
    bm25_from_tables,
)

N_BUCKETS = 64  # default for new builds; the layout's actual count is
# stored in <path>/meta and probes always read it from there, so an
# index built with any bucket count (scaled to corpus vocabulary:
# ~vocab_rows / target_bucket_rows) probes correctly — the bucket
# count is a property of the LAYOUT, not a constant the reader must
# guess (the round-1 fixed-bucket lesson, applied to storage).


# the meta row of format v3; v2 layouts wrote only n_buckets
_META_DDL = (
    "n_buckets int, format_version int, postings_schema string,"
    " doclen_schema string, stats_schema string"
)


def _bucket(col: str | F.Column, n_buckets: int) -> F.Column:
    """Term-hash bucket id, as the int the postings' ``bucket`` partition
    column holds (the cast keeps the v3 pinned DDL on the dtype hive
    partition inference always produced).  Over a literal term it folds
    to a constant at optimization time."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _ddl(schema) -> str:
    """DDL string for spark.read.schema() from a StructType."""
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
    )


def read_layout_meta(spark: SparkSession, path: str, ddl: str = _META_DDL):
    """The one-row ``<path>/meta`` of a stored layout as a Row, read under
    the explicit ``ddl``: one collect job and no footer-inference job.
    Columns an older layout never wrote read as NULL."""
    return spark.read.schema(ddl).parquet(f"{path}/meta").collect()[0]


def _sub_reader(spark: SparkSession, meta, sub: str):
    """Reader for ``<path>/<sub>``: the build-time-pinned DDL from meta
    (format v3), or schema inference on a v2 layout (NULL schema)."""
    ddl = meta[f"{sub}_schema"]
    return spark.read.schema(ddl) if ddl else spark.read


def _postings(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """(postings, doclen) for a batch of docs — one tokenize pass
    (localCheckpoint so the explode runs once)."""
    toked = docs.select(
        F.col(id_col), tokens(text_col).alias("__t")
    ).localCheckpoint(eager=False)
    dl = toked.select(F.col(id_col), F.size("__t").alias("dl"))
    tf = (
        toked.select(
            F.col(id_col), F.posexplode("__t").alias("__p0", "term")
        )
        .groupBy(id_col, "term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            # 1-based, sorted: posexplode is 0-based
            F.sort_array(F.collect_list(F.col("__p0") + 1)).alias(
                "positions"
            ),
        )
    )
    return tf, dl


def _write_postings(
    tf: DataFrame, path: str, mode: str, n_buckets: int
) -> None:
    """Postings repartition to one file per term-hash bucket and sort by
    term within the file, so every parquet row group carries a tight
    term min/max for skipping."""
    (
        tf.withColumn("bucket", _bucket("term", n_buckets))
        .repartition(n_buckets, "bucket")
        .sortWithinPartitions("bucket", "term")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(f"{path}/postings")
    )


def build_inverted_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
) -> None:
    """Materialize the three-part index layout at ``path``.

    ``n_buckets`` is recorded in ``<path>/meta``; every probe and
    maintenance op reads it from there, so build-time and probe-time can
    never disagree on the partitioning function."""
    tf, dl = _postings(docs, id_col, text_col)
    spark = docs.sparkSession
    # Format v3: the sub-table schemas are pinned in meta at build time,
    # meta itself is read under the fixed _META_DDL, and every probe
    # applies the pinned schemas explicitly — no probe ever pays (or
    # depends on) parquet footer inference, and an EMPTY corpus builds a
    # valid zero-row index (partitionBy writes no part files for zero
    # rows, so an inference-based read would raise
    # UNABLE_TO_INFER_SCHEMA; r08 empty-input sweep). v2 layouts lack
    # the schema columns and fall back to inference unchanged.
    postings_ddl = _ddl(
        tf.withColumn("bucket", _bucket("term", n_buckets)).schema
    )
    doclen_ddl = _ddl(dl.schema)
    stats_ddl = "n_docs_total bigint, sum_dl bigint"
    spark.createDataFrame(
        [(int(n_buckets), 3, postings_ddl, doclen_ddl, stats_ddl)],
        _META_DDL,
    ).write.mode("overwrite").parquet(f"{path}/meta")
    dl.write.mode("overwrite").parquet(f"{path}/doclen")
    dl.agg(
        F.count(F.lit(1)).alias("n_docs_total"),
        F.sum("dl").alias("sum_dl"),
    ).write.mode("overwrite").parquet(f"{path}/stats")
    _write_postings(tf, path, "overwrite", n_buckets)


def _batches_root(path: str) -> str:
    return f"{path}/batches"


def _committed_batches(path: str) -> list[str]:
    """Batch subtree paths whose ``_COMMITTED`` marker exists, sorted by
    batch id.  A batch missing its marker is a failed/in-flight append
    and is invisible to every reader.  (Local-fs listing, like the rest
    of this layout's maintenance ops; on cluster storage this is one
    ``FileSystem.listStatus`` against the index root — or the whole
    layout moves into a transactional table format.)"""
    import os

    root = _batches_root(path)
    if not os.path.isdir(root):
        return []
    return [
        os.path.join(root, b)
        for b in sorted(os.listdir(root))
        if os.path.exists(os.path.join(root, b, "_COMMITTED"))
    ]


def _recover_swap(path: str, sub: str) -> None:
    """If a ``_swap_dir`` crashed between its two renames, the complete
    data sits parked at ``<sub>__old`` with no live dir — restore it.
    Destructive: runs only under the maintenance lock (from compact /
    ``repair_index``), never from probes."""
    import os

    from mapreducemovieanalysis_cloud_spark.operators.recovery import (
        guarded_move,
    )

    live = os.path.join(path, sub)
    old = live + "__old"
    if not os.path.isdir(live) and os.path.isdir(old):
        guarded_move(old, live)


_SUBS = ("postings", "doclen", "stats")


def _recover_fold(path: str) -> None:
    """Heal a crashed ``compact_inverted_index`` ON DISK — destructive
    (renames/deletes), so it runs ONLY under the layout's
    ``maintenance_lock``: from compact itself and from the explicit
    ``repair_index`` entry point.  Probes resolve crash states READ-ONLY
    via ``_resolve_sub`` (r05 advisor: probe-side healing let two
    concurrent probes race the same renames, and a probe overlapping a
    live compact could hijack the fold and crash it).

    Protocol invariant the roll-forward relies on: the batch root only
    moves aside to ``batches__folded`` AFTER all three ``__compact``
    subtrees are completely written, so ``batches__folded`` present
    proves the folded layout exists (possibly partially swapped in) and
    the aside batches are REDUNDANT — without this resolution, a crash
    between the postings swap and the batch deletion would leave probes
    silently double-counting every batch posting."""
    import os

    from mapreducemovieanalysis_cloud_spark.operators.recovery import (
        guarded_rmtree,
    )

    folded = os.path.join(path, "batches__folded")
    tmp = os.path.join(path, "__compact")
    if os.path.isdir(folded):
        for sub in _SUBS:
            _recover_swap(path, sub)  # half-swapped sub: restore first
            staged = os.path.join(tmp, sub)
            if os.path.isdir(staged):
                _swap_dir(path, sub, staged)
        guarded_rmtree(folded)
        guarded_rmtree(tmp)
    elif os.path.isdir(tmp):
        # crash before the aside step: the fold never became visible —
        # batches are still live, so the partial fold is just discarded
        guarded_rmtree(tmp)
    for sub in _SUBS:
        old = os.path.join(path, sub + "__old")
        if os.path.isdir(old) and os.path.isdir(os.path.join(path, sub)):
            guarded_rmtree(old)


def repair_index(path: str) -> None:
    """Explicit on-disk repair of a crashed compaction/swap, under the
    exclusive maintenance lock.  Probes never need this for correctness
    (they resolve crash states read-only); run it — or simply rerun
    ``compact_inverted_index`` — to clean the debris up."""
    from mapreducemovieanalysis_cloud_spark.operators.recovery import (
        maintenance_lock,
    )

    with maintenance_lock(path):
        _recover_fold(path)
        for sub in _SUBS:
            _recover_swap(path, sub)


def _resolve_sub(path: str, sub: str) -> tuple[str, bool]:
    """READ-ONLY crash-state resolution for one index subtree: the
    directory currently holding ``sub``'s authoritative data, plus
    whether the append batches are still live (not yet folded in).
    Every crash point of the fold protocol leaves a complete copy of
    each subtree somewhere — this maps the debris to it without a
    single rename:

    * ``batches__folded`` present ⇒ the fold's staged subtrees were all
      complete before anything moved, and the aside batches are folded
      in (never unioned).  Per sub: the staged copy under ``__compact``
      if its swap hasn't happened, else the live dir, else (mid-swap,
      live parked aside and staged already consumed — unreachable in
      the protocol, kept defensive) the ``__old`` park.
    * no ``batches__folded`` ⇒ pre-fold view: live dir (or its ``__old``
      park if a bare swap crashed between renames) + committed batches;
      a visible ``__compact`` stage is simply ignored."""
    import os

    live = os.path.join(path, sub)
    if os.path.isdir(os.path.join(path, "batches__folded")):
        staged = os.path.join(path, "__compact", sub)
        if os.path.isdir(staged):
            return staged, False
        if os.path.isdir(live):
            return live, False
        return live + "__old", False
    if os.path.isdir(live):
        return live, True
    old = live + "__old"
    if os.path.isdir(old):
        return old, True
    return live, True  # nothing to resolve: read fails loudly


def _union_with_batches(
    spark: SparkSession, path: str, sub: str, meta=None
) -> DataFrame:
    """Base ``<path>/<sub>`` unioned with every COMMITTED batch's
    ``<sub>``.  Each root is read separately (identical schemas) so the
    bucket partition discovery stays per-root; a pushed bucket/term
    filter prunes each scan independently.  Crash states left by a died
    compaction are resolved read-only (``_resolve_sub``) — probes never
    mutate the layout, so concurrent probes cannot race a heal and
    cannot hijack a live compact's fold.  ``meta``: the layout's meta
    row, when the caller already read it."""
    data_dir, batches_live = _resolve_sub(path, sub)
    if meta is None:
        meta = read_layout_meta(spark, path)
    # v3 layouts: the pinned schema makes the read inference-free AND
    # total over empty dirs (a zero-row base or batch has no part
    # files); v2 layouts infer as before
    reader = _sub_reader(spark, meta, sub)
    df = reader.parquet(data_dir)
    if batches_live:
        for bdir in _committed_batches(path):
            df = df.unionByName(reader.parquet(f"{bdir}/{sub}"))
    return df


def read_index_stats(
    spark: SparkSession, path: str, meta=None
) -> DataFrame:
    """One-row (n_docs_total, sum_dl): the base stats plus every
    committed batch's delta — the batch deltas are one row each, so this
    is a driver-size aggregate regardless of corpus size."""
    return _union_with_batches(spark, path, "stats", meta).agg(
        F.sum("n_docs_total").alias("n_docs_total"),
        F.sum("sum_dl").alias("sum_dl"),
    )


def append_to_inverted_index(
    docs: DataFrame,
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: str | None = None,
) -> None:
    """Incremental maintenance: index a NEW batch of docs into the
    existing layout without touching the already-indexed corpus.

    The batch is a self-contained subtree
    ``<path>/batches/<batch_id>/{postings,doclen,stats}`` finished by an
    empty ``_COMMITTED`` marker written LAST: readers union only marked
    batches with the base layout, so a failure at any point leaves the
    batch invisible (never a half-applied doclen/postings/stats mix),
    and a retry with the same ``batch_id`` either no-ops (marker
    present) or discards the partial subtree and rewrites it — appends
    are atomic-at-commit and idempotent under retry.  The batch ``stats``
    row stores the DELTA (batch doc count / length sum); corpus totals
    are the sum over base + committed batches (``read_index_stats``),
    so the base stats row is never rewritten on append.

    Pass a stable ``batch_id`` (e.g. the upstream epoch/offset id, as
    the streaming foreachBatch ingest does with its batch id) to get
    exactly-once semantics across retries; ``None`` generates a fresh
    unique id (safe, but a retried caller would double-ingest under a
    new id).

    Contract: batch doc ids must be new (route re-ingests through the
    incremental exact-dedup store first, operators/dedup.py) — the same
    append-only discipline as the persistent fingerprint store and the
    linkage blocking index.
    """
    import os
    import shutil
    import uuid

    if batch_id is None:
        batch_id = uuid.uuid4().hex[:16]
    bdir = os.path.join(_batches_root(path), str(batch_id))
    if os.path.exists(os.path.join(bdir, "_COMMITTED")):
        return  # already applied: idempotent retry
    if os.path.isdir(bdir):
        shutil.rmtree(bdir)  # failed prior attempt: discard and redo
    tf, dl = _postings(docs, id_col, text_col)
    meta = read_layout_meta(spark, path)
    dl.write.mode("overwrite").parquet(f"{bdir}/doclen")
    # stats delta from the WRITTEN doclen parquet (a tiny 2-column read)
    # rather than dl.agg(...): re-aggregating dl would re-run the whole
    # tokenize+groupBy lineage a second time, which costs more than the
    # read-back and could in principle diverge from the bytes on disk
    _sub_reader(spark, meta, "doclen").parquet(f"{bdir}/doclen").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_total"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("sum_dl"),
    ).write.mode("overwrite").parquet(f"{bdir}/stats")
    _write_postings(tf, bdir, "overwrite", meta.n_buckets)
    with open(os.path.join(bdir, "_COMMITTED"), "w"):
        pass  # marker: commit point


def _swap_dir(path: str, live_sub: str, staged: str) -> None:
    """Replace ``<path>/<live_sub>`` with ``staged`` via rename-aside:
    old dir moves to ``<live_sub>__old`` BEFORE the staged dir moves
    into place, then ``__old`` is deleted — a crash at any step leaves a
    complete copy of the data on disk (either still live or parked
    aside), never a deleted-but-not-replaced window.  Mutating — only
    ever called with the maintenance lock held."""
    import os

    from mapreducemovieanalysis_cloud_spark.operators.recovery import (
        guarded_move,
        guarded_rmtree,
    )

    live = os.path.join(path, live_sub)
    old = live + "__old"
    if os.path.isdir(old):
        guarded_rmtree(old)  # leftover from a crashed prior swap
    guarded_move(live, old)
    guarded_move(staged, live)
    guarded_rmtree(old)


def compact_inverted_index(spark: SparkSession, path: str) -> None:
    """Offline compaction after a run of appends: fold every committed
    batch subtree back into the base layout — postings rewritten to one
    term-sorted file per bucket (per-batch files erode the row-group
    min/max skipping the probe relies on), doclen coalesced, stats
    collapsed to one absolute row — then drop the folded batches.  Same
    offline-compaction lifecycle as the incremental-MV delta directories
    (streaming/mv.py): run it without concurrent appends/probes.  The
    whole mutation window holds the layout's exclusive
    ``maintenance_lock`` — concurrent compact/repair on one index either
    waits or fails fast, never interleaves; probes stay lock-free (they
    resolve crash states read-only and can no longer hijack a fold), but
    a probe racing compact's own renames mid-flight can still fail —
    and merely fails, without corrupting anything.

    Crash protocol (``_recover_fold`` for on-disk repair, ``_resolve_sub``
    for lock-free reads): the three folded subtrees are fully written
    under the deterministic ``__compact`` staging dir FIRST; only then
    does the batch root move aside to ``batches__folded`` (making the
    batches invisible to ``_committed_batches`` — this closes the window
    where a crash between the postings swap and a batch delete left
    probes silently DOUBLE-COUNTING every batch posting); then each
    subtree swaps in rename-aside; deletes come last.  Every crash point
    leaves a complete index on disk; probes read it as-is and rerunning
    compact (or ``repair_index``) rolls the on-disk state forward
    deterministically — and the fold itself deduplicates on the
    (doc, term) / doc key so re-folding is a no-op regardless."""
    import os

    from mapreducemovieanalysis_cloud_spark.operators.recovery import (
        guarded_move,
        guarded_rmtree,
        maintenance_lock,
    )

    with maintenance_lock(path):
        _recover_fold(path)
        meta = read_layout_meta(spark, path)
        tmp = os.path.join(path, "__compact")
        guarded_rmtree(tmp)
        post = _union_with_batches(spark, path, "postings", meta)
        id_col = next(
            c for c in post.columns
            if c not in ("term", "tf", "positions", "bucket")
        )
        dl = _union_with_batches(
            spark, path, "doclen", meta
        ).dropDuplicates([id_col])
        (
            post.dropDuplicates([id_col, "term"])
            .repartition(meta.n_buckets, "bucket")
            .sortWithinPartitions("bucket", "term")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{tmp}/postings")
        )
        dl.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/doclen")
        _sub_reader(spark, meta, "doclen").parquet(f"{tmp}/doclen").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_total"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias(
                "sum_dl"
            ),
        ).write.mode("overwrite").parquet(f"{tmp}/stats")
        # all three folded subtrees are complete: batches go aside NOW, so
        # from this point the folded data exists exactly once either way
        broot = _batches_root(path)
        if os.path.isdir(broot):
            guarded_move(broot, os.path.join(path, "batches__folded"))
        _swap_dir(path, "postings", f"{tmp}/postings")
        _swap_dir(path, "doclen", f"{tmp}/doclen")
        _swap_dir(path, "stats", f"{tmp}/stats")
        guarded_rmtree(os.path.join(path, "batches__folded"))
        guarded_rmtree(tmp)


def layout_buckets(spark: SparkSession, path: str) -> int:
    """The layout's bucket count, from ``<path>/meta`` (one row)."""
    return read_layout_meta(spark, path).n_buckets


def _pruned_postings(
    spark: SparkSession, path: str, terms: list[str], meta
) -> DataFrame:
    """Postings of ``terms`` only: the bucket filter is a literal IN-list
    once the optimizer folds the per-term hashes, so the scan STATICALLY
    prunes to the ≤ |Q| bucket directories (PartitionFilters) with no
    driver-side lookup job; the pushed term filter then row-group-prunes
    within them.  Committed append batches are pruned the same way."""
    buckets = [_bucket(F.lit(t), meta.n_buckets) for t in terms]
    return (
        _union_with_batches(spark, path, "postings", meta)
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(terms))
    )


def read_postings(
    spark: SparkSession,
    path: str,
    terms: list[str],
    id_col: str = "doc_id",
    meta=None,
) -> DataFrame:
    """The pruned postings scan (``_pruned_postings``) as
    (id, term, tf); the bucket count comes from the layout's meta."""
    if meta is None:
        meta = read_layout_meta(spark, path)
    return _pruned_postings(spark, path, terms, meta).select(
        F.col(id_col), "term", "tf"
    )


def phrase_query_index(
    spark: SparkSession,
    path: str,
    phrase: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase retrieval from the POSITIONAL index: docs where the
    tokens of ``phrase`` occur consecutively, with the exact occurrence
    count — computed entirely from posting lists (the corpus is never
    read).

    The RAREST phrase term (min document frequency over the pruned
    postings — a |phrase|-row bounded collect)
    anchors: its positions explode to anchor candidates, and every other
    term i keeps anchors whose relative offset it contains
    (``array_contains(pos_i, q + (i - k))``).  Anchor fan-out is the
    MINIMUM tf across the phrase's terms, not the first term's — the
    classic rarest-first posting-intersection order, chosen from the
    index's own statistics rather than by the caller.

    Scale: |phrase| pruned posting scans + |phrase| - 1 doc-keyed joins
    whose left side shrinks monotonically; no corpus scan, no window.
    """
    if len(phrase) < 2:
        raise ValueError("a phrase needs at least two terms")
    terms = sorted(set(phrase))
    post = (
        _pruned_postings(spark, path, terms, read_layout_meta(spark, path))
        .select(F.col(id_col), "term", "positions")
        .localCheckpoint(eager=False)
    )
    df_by_term = {
        r.term: r.df
        for r in post.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    if len(df_by_term) < len(terms):
        # a phrase term absent from the corpus: no doc can match
        return post.select(F.col(id_col)).limit(0).select(
            F.col(id_col), F.lit(0).cast("long").alias("n_occurrences")
        )
    k = min(range(len(phrase)), key=lambda i: df_by_term[phrase[i]])
    # anchor position q = absolute position of phrase[k]; term i must
    # appear at q + (i - k)
    cur = post.where(F.col("term") == phrase[k]).select(
        F.col(id_col), F.explode("positions").alias("q")
    )
    for i, t in enumerate(phrase):
        if i == k:
            continue
        nxt = post.where(F.col("term") == t).select(
            F.col(id_col), F.col("positions").alias(f"__pos{i}")
        )
        cur = (
            cur.join(nxt, id_col)
            .where(
                F.array_contains(F.col(f"__pos{i}"), F.col("q") + (i - k))
            )
            .select(id_col, "q")
        )
    return cur.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )


def bm25_query_index(
    spark: SparkSession,
    path: str,
    terms: list[str],
    topk: int = 50,
    require_all: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k from the stored index — same output contract as
    ``ranking.bm25_scores`` on the raw corpus, same score tree, without
    touching the corpus. ``require_all=True`` is the conjunctive-AND
    retrieval mode (docs must contain every query term)."""
    meta = read_layout_meta(spark, path)
    tf = read_postings(spark, path, terms, id_col, meta)
    dl = _union_with_batches(spark, path, "doclen", meta)
    stats = read_index_stats(spark, path, meta)
    return bm25_from_tables(
        tf,
        dl,
        stats,
        topk=topk,
        id_col=id_col,
        n_terms_required=len(terms) if require_all else None,
    )
