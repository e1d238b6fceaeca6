"""Streaming near-duplicate gate over a persisted IVF-PQ corpus.

The 100-TB ingestion shape: embeddings arrive as a stream; each
micro-batch is ANN-screened against the ALREADY-ACCEPTED corpus (the
encoded, cell-partitioned layout — searches scan codes, never raw
vectors), rows whose best cosine match clears the threshold are
dropped as near-duplicates, and the survivors are encoded with the
FROZEN index and appended as their own ``batch=<id>`` partition
(sub-partitioned by cell, so later probes keep pruning at the file
level).

Exactly-once: each batch's output directory goes through a
``commit.DirCommitter`` — all-or-none visibility, pluggable per
filesystem (POSIX rename locally, manifest-last on object stores). A
foreachBatch replay (same batch id — the Structured Streaming replay
contract) sees the published directory and skips. Crucially the
corpus is ALWAYS read from the committer's explicit published-path
list, never by listing the parent: a crash between stage and commit
leaves physical leftovers under the corpus root, and a replayed batch
that read them would see its own half-written rows as "already
accepted", drop them as exact re-ingests, and commit an EMPTY
partition — silent permanent loss of the batch. The published-list
read makes that crash window harmless (the retry discards the
leftover and re-stages). The corpus is never rewritten, so per-batch
work is O(|batch| x probed fraction), independent of corpus age.

Scope note: the gate guards the corpus BOUNDARY (new vs accepted).
Near-duplicates WITHIN one micro-batch both pass — intra-batch dedup
is the batch job's role (``semdedup_drops`` / ``neardup_pairs_blas``)
and folding it in here would hide that contract; run the stream with
small triggers if intra-batch duplicates matter.

Reference note: the reference (dvgodoy/handyspark) has no streaming or
ANN surface — beyond-reference, composing pipeline/similarity.py's
IVF-PQ with the streaming exactly-once patterns of stateful.py.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .commit import DirCommitter, PosixRenameCommitter


def _accepted_batch_paths(corpus_path: str,
                          committer: DirCommitter) -> list[str]:
    return [p for p in committer.published(corpus_path)
            if os.path.basename(p).startswith("batch=")]


def maintain_deduped_corpus(stream: DataFrame, index_path: str,
                            corpus_path: str, checkpoint_path: str,
                            threshold: float = 0.9, nprobe: int = 4,
                            rerank: int = 20,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            trigger_available_now: bool = True,
                            committer: DirCommitter | None = None):
    """Start the streaming dedup gate; returns the StreamingQuery.

    ``index_path`` must hold a SAVED ``IVFPQIndex`` (train once, before
    the stream starts — frozen codebooks are what keep every batch's
    codes comparable). ``corpus_path`` accumulates one
    ``batch=<id>/cell=<c>/...`` partition per micro-batch, carrying the
    original columns plus (cell, pq_code). ``committer`` picks the
    publication protocol: default ``PosixRenameCommitter`` (local/NFS);
    pass ``ManifestCommitter()`` when the corpus lives on an object
    store, where rename is not atomic."""
    from ..pipeline.ann_index import IVFPQIndex

    committer = committer or PosixRenameCommitter()
    idx_cache: dict = {}

    def _fold(batch: DataFrame, batch_id: int):
        final = os.path.join(corpus_path, f"batch={batch_id}")
        if committer.is_published(final):
            return                      # replayed batch: already appended
        spark = batch.sparkSession
        idx = idx_cache.get(index_path)
        if idx is None:
            idx = IVFPQIndex.load(spark, index_path)
            idx_cache[index_path] = idx

        survivors = batch
        accepted = _accepted_batch_paths(corpus_path, committer)
        if accepted:
            # explicit published paths ONLY — a stale staging dir or
            # marker-less partial under corpus_path (crash between
            # stage and commit, possibly for THIS batch id) must not
            # masquerade as accepted corpus (see module docstring)
            corpus = (spark.read.option("basePath", corpus_path)
                      .parquet(*accepted))
            # exact-id re-ingest is dropped FIRST: the ANN self-mask
            # (query_id == neighbor_id) would otherwise hide an
            # already-accepted id from its own best match and let the
            # duplicate back in
            fresh = batch.join(corpus.select(id_col).distinct(),
                               id_col, "left_anti")
            if not fresh.take(1):
                survivors = fresh       # all-replayed-id batch
            else:
                hits = idx.search(corpus, fresh, k=1, nprobe=nprobe,
                                  rerank=rerank, encoded=corpus)
                dup_ids = (hits.filter(F.col("score") >= threshold)
                           .select(F.col("query_id").alias(id_col))
                           .distinct())
                survivors = fresh.join(dup_ids, id_col, "left_anti")

        committer.publish(
            lambda p: (idx.encode(survivors).write.mode("overwrite")
                       .partitionBy("cell").parquet(p)),
            final)

    w = (stream.writeStream.foreachBatch(_fold)
         .option("checkpointLocation", checkpoint_path))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def maintain_lsh_state(stream: DataFrame, state_path: str,
                       checkpoint_path: str,
                       text_col: str = "text", id_col: str = "doc_id",
                       num_hashes: int = 16, bands: int = 2,
                       trigger_available_now: bool = True,
                       committer: DirCommitter | None = None):
    """Streaming MinHash-LSH dedup gate — the text-corpus sibling of
    ``maintain_deduped_corpus``: documents arrive as a stream; each
    micro-batch is signed (|batch| signatures only — the accepted
    corpus is NEVER re-signed or re-read beyond its slim band-state
    rows), probed against the accumulated ``(doc_id, band, band_hash)``
    state for bucket collisions, and the survivors' banded rows are
    appended as their own ``batch=<id>/band=<b>`` partition. Per-batch
    signing cost is independent of corpus age; the probe join's build
    side is the state table (3 slim columns — at warehouse scale lay it
    out bucketed by ``band_hash`` so the collision join is
    exchange-free and file-pruned; the batch-partition parquet layout
    here keeps the same plan shape).

    Semantics match ``pipeline.dedup.lsh_incremental_matches`` exactly
    (pinned in tests): a new doc is dropped iff it shares any LSH
    bucket with an accepted doc, or re-uses an accepted id (exact
    re-ingest — dropped FIRST, for the same reason the ANN gate does).
    Intra-batch near-duplicates both pass — the boundary-vs-batch scope
    contract of the module docstring.

    Exactly-once: identical committer protocol to the ANN gate —
    all-or-none ``batch=<id>`` publication, replayed batch ids skip,
    state always read from the committer's published list (a crash
    between stage and commit must not let a half-written batch mask
    its own retry). Returns the StreamingQuery.
    """
    from ..pipeline.dedup import lsh_bucket_state

    committer = committer or PosixRenameCommitter()

    def _fold(batch: DataFrame, batch_id: int):
        final = os.path.join(state_path, f"batch={batch_id}")
        if committer.is_published(final):
            return                      # replayed batch: already appended
        spark = batch.sparkSession
        banded = lsh_bucket_state(batch, text_col, id_col,
                                  num_hashes=num_hashes, bands=bands)
        accepted = _accepted_batch_paths(state_path, committer)
        if accepted:
            state = (spark.read.option("basePath", state_path)
                     .parquet(*accepted))
            seen = state.select(id_col).distinct()
            fresh = banded.join(seen, id_col, "left_anti")
            hits = (fresh.join(state.select("band", "band_hash")
                               .distinct(), ["band", "band_hash"])
                    .select(id_col).distinct())
            banded = fresh.join(hits, id_col, "left_anti")
        committer.publish(
            lambda p: (banded.write.mode("overwrite")
                       .partitionBy("band").parquet(p)),
            final)

    w = (stream.writeStream.foreachBatch(_fold)
         .option("checkpointLocation", checkpoint_path))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
