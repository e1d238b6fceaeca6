"""Custom stateful streaming operators via ``applyInPandasWithState``.

The brief's strategy (b) for operators Spark lacks: arbitrary per-key
state machines over a stream. The example operator here — a per-key
running aggregate (count / sum / max, emitted on every update) — is the
canonical shape: swap ``_update`` for any sessionizer, decaying counter,
or CDC reconciler and the plumbing stays identical.

Batch-vs-stream contract: the final state per key must equal the batch
``groupBy(key).agg(...)`` over the same data (pinned in
tests/test_streaming.py). NaN values are excluded from sum/max in BOTH
paths (pandas skipna vs Spark NaN-propagating sum would otherwise
drift); a key with zero valid values emits NULL sum/max in both."""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = ("user_id long, n_events long, sum_value double, "
                 "max_value double")
STATE_SCHEMA = "n long, nv long, s double, m double"


def _update(key, pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    (n, nv, s, m) = (state.get if state.exists
                     else (0, 0, 0.0, float("-inf")))
    for pdf in pdfs:
        n += len(pdf)
        v = pd.to_numeric(pdf["value"], errors="coerce").dropna()
        nv += len(v)
        if len(v):
            s += float(v.sum())
            m = max(m, float(v.max()))
    state.update((n, nv, s, m))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                        "sum_value": [s if nv else None],
                        "max_value": [m if nv else None]})


def running_user_stats(events: DataFrame,
                       key_col: str = "user_id") -> DataFrame:
    """Streaming per-key running stats; on a batch DataFrame falls back to
    the equivalent groupBy aggregation (same output schema) so the
    operator is usable in both modes."""
    if not events.isStreaming:
        from pyspark.sql import functions as F
        v = F.col("value").cast("double")
        vclean = F.when(~F.isnan(v), v)   # NaN -> NULL, skipped by agg
        return (events.groupBy(F.col(key_col).cast("long").alias("user_id"))
                .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                     F.sum(vclean).cast("double").alias("sum_value"),
                     F.max(vclean).cast("double").alias("max_value")))
    return (events.groupBy(key_col)
            .applyInPandasWithState(_update, OUTPUT_SCHEMA, STATE_SCHEMA,
                                    "update",
                                    GroupStateTimeout.NoTimeout))


def _read_state(spark, state_path: str) -> DataFrame | None:
    """Read a persisted state table, or None when it doesn't exist yet.

    Existence is checked explicitly (driver-local path, matching the
    shutil swap in the writers) so only a genuinely missing path means
    "first batch" — corrupt state after a crash mid-swap or a
    permission/FS error propagates instead of silently resetting the
    accumulated state.

    Interrupted-swap recovery: ``_commit_state`` renames the live state
    ASIDE (``state._prev``) before moving the new table into place. If a
    crash lands between those two renames, ``state_path`` is missing but
    the aside survives — that is NOT "first batch": the pre-batch state
    is restored here and the streaming checkpoint replays the in-flight
    batch against it. A missing path with no aside is the only case that
    returns None."""
    import os
    if not os.path.exists(state_path):
        aside = state_path.rstrip("/") + "._prev"
        if os.path.exists(aside):
            os.rename(aside, state_path)
        else:
            return None
    return spark.read.parquet(state_path)


def _last_batch_id(state_path: str) -> int | None:
    """The batch id recorded by the last successful ``_commit_state``,
    or None for a never-initialized state. The marker travels INSIDE the
    state directory (written into the staging dir before the swap), so
    it is exactly as durable as the data it describes; Spark's parquet
    reader ignores underscore-prefixed files, so the state table reads
    clean."""
    import os
    p = os.path.join(state_path, "_last_batch")
    if os.path.exists(p):
        with open(p) as f:
            return int(f.read().strip())
    return None


def _replayed(state_path: str, batch_id: int) -> bool:
    """True when ``batch_id`` was already folded into the state — a
    foreachBatch replay after a crash. Skipping it makes the
    at-least-once delivery EXACTLY-ONCE at the state-table level:
    Structured Streaming replays a batch with the SAME id and the same
    data, so id-equality is a complete dedup key."""
    last = _last_batch_id(state_path)
    return last is not None and batch_id <= last


def _commit_state(merged: DataFrame, state_path: str,
                  batch_id: int) -> None:
    """Crash-safe two-phase commit of a state table.

    1. Write ``merged`` to a staging dir next to the state (parquet
       can't read+overwrite the same path in one job).
    2. Stamp the batch id INTO the staging dir (``_last_batch`` —
       hidden from parquet readers) so data and marker swap atomically
       together.
    3. Rename the live state ASIDE (``state._prev``) — never delete it
       before its replacement is in place.
    4. Move staging into place; only then drop the aside.

    A crash at any point leaves either the old state (steps 1-3, with
    ``_read_state`` restoring the aside if needed) or the new state
    (after step 4) — never nothing, never a half-written table. The
    renames are driver-local ``os.rename``/``shutil.move``, so
    ``state_path`` must live on a POSIX-visible filesystem (local disk,
    NFS); for object stores substitute the store's atomic-rename."""
    import os
    import shutil
    tmp = state_path.rstrip("/") + "._next"
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_last_batch"), "w") as f:
        f.write(str(batch_id))
    aside = state_path.rstrip("/") + "._prev"
    shutil.rmtree(aside, ignore_errors=True)
    if os.path.exists(state_path):
        os.rename(state_path, aside)
    shutil.move(tmp, state_path)
    shutil.rmtree(aside, ignore_errors=True)


class StateStore:
    """Pluggable persistence for the state-table maintainers: read the
    current state, record/check the last-folded batch id, and commit a
    replacement with all-or-none visibility. Two implementations:
    ``PosixSwapStateStore`` (stage + rename swap — local disk, NFS) and
    ``VersionedStateStore`` (versioned dirs + pointer file — the
    protocol that survives object stores, where rename of a directory
    is not atomic). Counterpart of ``commit.DirCommitter`` for
    REPLACED state rather than appended batches."""

    def read(self, spark, state_path: str) -> DataFrame | None:
        raise NotImplementedError

    def last_batch_id(self, state_path: str) -> int | None:
        raise NotImplementedError

    def commit(self, merged: DataFrame, state_path: str,
               batch_id: int) -> None:
        raise NotImplementedError

    def replayed(self, state_path: str, batch_id: int) -> bool:
        """True when ``batch_id`` was already folded — a foreachBatch
        replay; skipping it makes at-least-once delivery EXACTLY-ONCE
        at the state level (same id => same data, the Structured
        Streaming replay contract)."""
        last = self.last_batch_id(state_path)
        return last is not None and batch_id <= last


class PosixSwapStateStore(StateStore):
    """The module's original protocol (``_commit_state`` two-phase
    swap): stage next to the live state, rename the live state aside,
    move staging into place. Atomic only where rename is (POSIX-visible
    filesystems)."""

    def read(self, spark, state_path):
        return _read_state(spark, state_path)

    def last_batch_id(self, state_path):
        return _last_batch_id(state_path)

    def commit(self, merged, state_path, batch_id):
        _commit_state(merged, state_path, batch_id)


class VersionedStateStore(StateStore):
    """Object-store-safe state commits: each batch writes a fresh
    ``v=<batch_id>`` directory, then atomically updates a single small
    pointer file (``_CURRENT``) naming the live version — readers
    resolve the pointer and never observe a half-written table, because
    data directories are immutable once referenced and invisible until
    then (manifest-last, the lakehouse-format protocol).

    The pointer update goes through ``fs.put_atomic`` — on LocalFS a
    write-tmp + fsync + rename (durable: after power loss the pointer
    is either the old or the new value, never an empty/torn file that
    would wedge ``last_batch_id`` on ``int('')``); on an object store
    a single overwrite PUT of the pointer key — atomic per-key
    everywhere, which is the point: no multi-key rename anywhere in
    the protocol. Crash windows: during the version write the pointer
    still names the old state (the replayed batch overwrites the
    orphan); between pointer flip and GC both versions exist and the
    pointer names the new one. Unreferenced versions are
    garbage-collected on the next commit.

    IO binding: control-plane operations (pointer, listing, GC) go
    through ``fs`` (``streaming.fs.FS``, default ``LocalFS``; bind
    ``FsspecFS`` for a real remote store). The data plane is the
    ``_write_version``/``_read_version`` pair — parquet via Spark by
    default, overridable when the version payload lives somewhere the
    engine cannot address directly (the MemoryFS tests do this)."""

    CURRENT = "_CURRENT"

    def __init__(self, fs=None):
        from .fs import LocalFS
        self.fs = fs or LocalFS()

    def _pointer(self, state_path):
        import os
        return os.path.join(state_path, self.CURRENT)

    def _write_version(self, merged, vdir):
        merged.write.mode("overwrite").parquet(vdir)

    def _read_version(self, spark, vdir):
        return spark.read.parquet(vdir)

    def last_batch_id(self, state_path):
        p = self._pointer(state_path)
        if not self.fs.exists(p):
            return None
        return int(self.fs.read_text(p).strip())

    def read(self, spark, state_path):
        import os
        last = self.last_batch_id(state_path)
        if last is None:
            return None
        return self._read_version(
            spark, os.path.join(state_path, f"v={last}"))

    def commit(self, merged, state_path, batch_id):
        import os
        self.fs.makedirs(state_path)
        vdir = os.path.join(state_path, f"v={batch_id}")
        # reads v=<prev> while writing v=<new>: distinct dirs, so no
        # staging detour is needed (unlike the swap protocol)
        self._write_version(merged, vdir)
        self.fs.put_atomic(self._pointer(state_path), str(batch_id))
        for d in self.fs.listdir(state_path):
            if d.startswith("v=") and d != f"v={batch_id}":
                self.fs.rm_recursive(os.path.join(state_path, d))


def maintain_state_table(stream: DataFrame, state_path: str,
                         keys: list[str], value_col: str,
                         checkpoint_path: str,
                         trigger_available_now: bool = True,
                         store: StateStore | None = None):
    """Streaming incremental-aggregate maintenance: fold each micro-batch
    into a persistent per-key state table (``operators.incremental``
    pieces) with ``foreachBatch``.

    Every batch: partial-aggregate the new rows (|batch| work), merge
    with the stored |keys|-sized state, atomically replace it. The state
    stays servable between batches via ``finalize_state``. This is the
    standard lakehouse pattern when the aggregate must survive restarts
    and be readable OUTSIDE the streaming job — the in-flight
    alternative (``applyInPandasWithState``) keeps state hostage to the
    query's checkpoint.

    Restart semantics: foreachBatch gives at-least-once delivery, but
    the commit records the batch id inside the state directory and a
    replayed batch (same id, same data — the Structured Streaming
    replay contract) is SKIPPED, making the state-table update
    EXACTLY-ONCE. Crash mid-commit is covered too: the previous state
    is renamed aside, never deleted, until its replacement is fully in
    place (see ``_commit_state`` / ``_read_state``). Corollary: the
    state table is bound to ONE checkpoint lineage — batch ids restart
    at 0 under a fresh checkpoint, so pointing a brand-new query at an
    existing state table skips its early batches; clear (or re-path)
    the state when you reset the checkpoint.

    State-path limitation: the two-phase swap below uses driver-local
    ``shutil`` (rmtree + move), so ``state_path`` must live on a
    filesystem the driver sees POSIX-style (local disk, NFS); for object
    stores swap the two lines for the store's atomic-rename primitive.

    ``store`` picks the persistence protocol (default
    ``PosixSwapStateStore``; use ``VersionedStateStore`` on object
    stores — see the class docstrings). Returns the started
    StreamingQuery."""
    from ..operators.incremental import merge_states, partial_aggregate

    store = store or PosixSwapStateStore()

    def _fold(batch: DataFrame, batch_id: int):
        if store.replayed(state_path, batch_id):
            return                       # crash replay: already folded
        spark = batch.sparkSession
        part = partial_aggregate(batch, keys, value_col)
        prev = store.read(spark, state_path)
        merged = merge_states(prev, part, keys) if prev is not None else part
        store.commit(merged, state_path, batch_id)

    w = (stream.writeStream.foreachBatch(_fold)
         .option("checkpointLocation", checkpoint_path))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def maintain_cms_sketch(stream: DataFrame, col: str, state_path: str,
                        checkpoint_path: str, width: int = 8192,
                        depth: int = 4,
                        trigger_available_now: bool = True,
                        store: StateStore | None = None):
    """Streaming count-min maintenance: each micro-batch's sketch
    (bounded: depth x width cells built from |batch| rows) merges
    additively into the persisted cell table — the incremental
    frequency-stats pattern for data that is gone after ingestion.
    Same two-phase commit, driver-local-FS caveat, and exactly-once
    batch-id dedup as ``maintain_state_table``. A real read failure on existing state
    propagates (it is NOT treated as "first batch" — that would silently
    reset counts and break the CMS never-underestimates guarantee)."""
    from ..operators.sketch import cms_build, cms_merge

    store = store or PosixSwapStateStore()

    def _fold(batch: DataFrame, batch_id: int):
        if store.replayed(state_path, batch_id):
            return                       # crash replay: already folded
        spark = batch.sparkSession
        part = cms_build(batch, col, width, depth)
        prev = store.read(spark, state_path)
        merged = cms_merge(prev, part) if prev is not None else part
        store.commit(merged, state_path, batch_id)

    w = (stream.writeStream.foreachBatch(_fold)
         .option("checkpointLocation", checkpoint_path))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def maintain_drift_monitor(stream: DataFrame, slice_col: str,
                           bucket_col: str, state_path: str,
                           checkpoint_path: str,
                           trigger_available_now: bool = True,
                           store: StateStore | None = None):
    """Streaming distribution-drift monitoring: fold each micro-batch's
    (slice, bucket) counts into a persisted histogram table, so
    ``pipeline.drift.drift_report``-style slice-over-slice divergences
    are computable at ANY time from the state alone — the raw stream is
    never re-read. Histogram counts are additive, so the fold is a
    simple grouped-sum merge (|slices| x |buckets| state rows, bounded
    regardless of stream volume).

    Same two-phase commit, driver-local-FS caveat and exactly-once
    batch-id dedup as ``maintain_state_table``; a real read failure on
    existing state propagates rather than resetting the histograms."""
    from pyspark.sql import functions as F

    store = store or PosixSwapStateStore()

    def _fold(batch: DataFrame, batch_id: int):
        if store.replayed(state_path, batch_id):
            return                       # crash replay: already folded
        spark = batch.sparkSession
        part = (batch.select(F.col(slice_col).alias("slice"),
                             F.col(bucket_col).alias("bucket"))
                .groupBy("slice", "bucket")
                .agg(F.count(F.lit(1)).alias("cnt")))
        prev = store.read(spark, state_path)
        if prev is not None:
            part = (prev.unionByName(part)
                    .groupBy("slice", "bucket")
                    .agg(F.sum("cnt").alias("cnt")))
        store.commit(part, state_path, batch_id)

    w = (stream.writeStream.foreachBatch(_fold)
         .option("checkpointLocation", checkpoint_path))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def drift_from_state(spark, state_path: str,
                     store: StateStore | None = None) -> DataFrame:
    """Compute the slice-over-slice drift report from a persisted
    histogram state table (see ``maintain_drift_monitor``) — runs on
    |slices| x |buckets| rows, no stream or corpus scan. Pass the same
    ``store`` the maintainer used."""
    from ..pipeline.drift import drift_report_from_hist
    state = (store or PosixSwapStateStore()).read(spark, state_path)
    if state is None:
        raise FileNotFoundError(f"no state table at {state_path}")
    return drift_report_from_hist(state)


def maintain_hll_sketch(stream: DataFrame, col: str, state_path: str,
                        checkpoint_path: str,
                        by: list[str] | None = None,
                        lg_k: int = 12,
                        trigger_available_now: bool = True,
                        store: StateStore | None = None):
    """Streaming distinct-count maintenance: fold each micro-batch's
    HLL sketch states (native Datasketches binary columns, mergeable)
    into the persisted per-group state — distinct users/tokens/urls so
    far, queryable at any time via ``operators.sketch.
    hll_merge_estimate`` without replaying the stream. State size is
    |groups| x 2^lg_k registers regardless of volume. Same commit /
    exactly-once batch-id-dedup semantics as the other maintainers."""
    from ..operators.sketch import hll_state

    store = store or PosixSwapStateStore()

    def _fold(batch: DataFrame, batch_id: int):
        if store.replayed(state_path, batch_id):
            return                       # crash replay: already folded
        from pyspark.sql import functions as SF
        spark = batch.sparkSession
        part = hll_state(batch, col, by=by, lg_k=lg_k)
        prev = store.read(spark, state_path)
        if prev is not None:
            merged = (prev.unionByName(part)
                      .groupBy(*(by or []))
                      .agg(SF.hll_union_agg(SF.col("hll")).alias("hll")))
        else:
            merged = part
        store.commit(merged, state_path, batch_id)

    w = (stream.writeStream.foreachBatch(_fold)
         .option("checkpointLocation", checkpoint_path))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
