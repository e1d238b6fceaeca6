"""Content-addressed on-disk cache for trained ANN index artifacts (the
registry's ANN oracle exports; perfbench's serve workload).

Layout (round 9 — the fingerprint is IN THE PATH, so two datasets can
never alias one directory):

    {root}/{family}/n={rows}/fp={fingerprint}/   <- immutable once committed
        cells.parquet/ ...                       <- index artifacts
        _FINGERPRINT                             <- commit marker, written LAST
    {root}/{family}/n={rows}/_CURRENT            <- atomic pointer: which fp
                                                    was validated most recently

Why this shape:

- **fp in the path** — the previous layout (``n={rows}`` alone,
  fingerprint-gated rebuild IN PLACE) meant two datasets with equal row
  count shared one directory: process A's session cache could hold a lazy
  reader over ``codes.parquet`` while process B rmtree'd and rebuilt it —
  A's next search silently mixed A's in-memory codebooks with B's codes.
  With the fingerprint in the path each dataset owns an immutable dir;
  the worst cross-process outcome is a LOUD FileNotFound, never silent
  mixing.
- **marker-last** — ``_FINGERPRINT`` is a single atomic put performed
  after every artifact write; its presence implies the build completed.
  A dir without a matching committed marker is a wreck from a crashed
  build of the SAME dataset (same fp ⇒ same content) and is discarded.
- **_CURRENT pointer** — the DuckDB oracle resolves the cache from a
  static SQL string knowing only ``COUNT(*)``; when several fp dirs share
  an ``n=`` parent it needs a tiebreak. ``_CURRENT`` (one atomic put,
  refreshed on every build AND every cache-hit validation) names the fp
  that the Spark side just used, so the side-by-side oracle always reads
  the same artifacts the query did.

All control-plane IO goes through the :mod:`..streaming.fs` seam, so the
protocol is testable on ``MemoryFS`` (non-atomic object-store semantics,
crash injection) and portable to fsspec-backed stores. The DATA plane
(Spark writing ``*.parquet``) still needs a Spark-readable URI — with the
default :class:`LocalFS` that is a plain local path.

The root is configurable (``HSQ_INDEX_CACHE_ROOT`` env var or the
``root=`` argument); the default stays ``/tmp`` because the DuckDB oracle
SQL strings glob it statically.
"""
from __future__ import annotations

import hashlib
import os

from ..streaming.fs import FS, LocalFS

DEFAULT_ROOT = "/tmp"

def cache_root() -> str:
    return os.environ.get("HSQ_INDEX_CACHE_ROOT", DEFAULT_ROOT)


def dataset_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Content fingerprint of the parquet files backing an index cache:
    sha256 over the table's resolved path plus every data file's
    (relative name, size, mtime_ns). Two datasets with the same ROW
    COUNT but different content (a regenerated testdata dir, two sf_dirs
    that happen to share n) get different fingerprints, so a cached
    index/codes dir can never be served against data it was not built
    from (round-7 advice: the bare ``n=<count>`` key was the first
    silently-wrong cross-process cache in this harness).

    Deliberately LOCAL-ONLY (os.walk/os.stat): the fingerprint describes
    the dataset Spark is about to SCAN, and the sf_dir inputs in this
    harness are always local paths. The cache CONTROL plane (markers,
    pointers, pruning) goes through the FS seam; the fingerprint of the
    source data does not need to."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    h = hashlib.sha256(os.path.realpath(root).encode())
    if os.path.isdir(root):
        for dirp, dirs, files in sorted(os.walk(root)):
            dirs.sort()
            for fn in sorted(files):
                st = os.stat(os.path.join(dirp, fn))
                rel = os.path.relpath(os.path.join(dirp, fn), root)
                h.update(f"|{rel}|{st.st_size}|{st.st_mtime_ns}".encode())
    else:
        st = os.stat(root)
        h.update(f"|{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


class IndexCache:
    """One cache *family* (e.g. ``hsq_pq_idx``) under a root.

    Usage::

        cache = IndexCache("hsq_pq_idx")
        path = cache.dir_for(n, fp)
        if not cache.is_committed(n, fp):
            ... write artifacts under path ...
            cache.commit(n, fp)          # marker-last + _CURRENT pointer
        else:
            cache.point_current(n, fp)   # cache hit: re-aim the pointer
    """

    MARKER = "_FINGERPRINT"
    CURRENT = "_CURRENT"

    def __init__(self, family: str, root: str | None = None,
                 fs: FS | None = None):
        self.family = family
        self.root = root if root is not None else cache_root()
        self.fs = fs or LocalFS()

    # -- paths --------------------------------------------------------------
    def n_dir(self, n: int) -> str:
        return f"{self.root}/{self.family}/n={n}"

    def dir_for(self, n: int, fp: str) -> str:
        return f"{self.n_dir(n)}/fp={fp}"

    # -- protocol -----------------------------------------------------------
    def is_committed(self, n: int, fp: str) -> bool:
        """True when the (n, fp) dir carries a committed matching marker
        (build complete AND same source data — the marker is written
        LAST, so presence implies completeness). A dir present WITHOUT
        a valid marker is a crashed build of this same dataset (the fp
        is content-derived, so nobody else writes here) — discard it so
        the caller rebuilds from scratch."""
        path = self.dir_for(n, fp)
        marker = f"{path}/{self.MARKER}"
        if self.fs.exists(marker):
            try:
                if self.fs.read_text(marker).strip() == fp:
                    return True
            except (OSError, KeyError):
                pass
        if self.fs.exists(path):
            self.fs.rm_recursive(path)
        return False

    def commit(self, n: int, fp: str) -> None:
        """Marker-last commit: one atomic put of the fingerprint marker
        (making the dir valid), then one atomic put of the _CURRENT
        pointer (making it the oracle-visible build for this n)."""
        self.fs.put_atomic(f"{self.dir_for(n, fp)}/{self.MARKER}", fp)
        self.point_current(n, fp)

    def point_current(self, n: int, fp: str) -> None:
        self.fs.put_atomic(f"{self.n_dir(n)}/{self.CURRENT}", fp)

    def current(self, n: int) -> str | None:
        p = f"{self.n_dir(n)}/{self.CURRENT}"
        try:
            return self.fs.read_text(p).strip()
        except (OSError, KeyError):
            return None

    def prune_siblings(self, n: int, keep_fp: str,
                       max_age_s: float | None = 7 * 86400) -> list[str]:
        """Best-effort GC of OTHER fp dirs under ``n=`` (immutable dirs
        accumulate forever otherwise). Never touches ``keep_fp`` or the
        ``_CURRENT`` pointer. A sibling is removed only when its commit
        marker is older than ``max_age_s`` (``None`` = remove regardless
        of age) — a recently-committed sibling may belong to a LIVE
        concurrent session over a same-rowcount dataset, and deleting
        under it would break its lazy readers; a week-old one is a
        leftover. Age comes from ``fs.mtime`` on the marker; when the
        FS does not expose mtimes (returns None — 'age unknowable')
        only ``max_age_s=None`` prunes. Returns the removed dir
        paths."""
        import time
        removed = []
        for name in self.fs.listdir(self.n_dir(n)):
            if not name.startswith("fp=") or name == f"fp={keep_fp}":
                continue
            path = f"{self.n_dir(n)}/{name}"
            if max_age_s is not None:
                mt = self.fs.mtime(f"{path}/{self.MARKER}")
                age = None if mt is None else time.time() - mt
                if age is None or age < max_age_s:
                    continue
            self.fs.rm_recursive(path)
            removed.append(path)
        return removed
