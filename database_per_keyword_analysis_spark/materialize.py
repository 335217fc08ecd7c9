"""Lifecycle of materialized query intermediates: in-session persists
and the build-once ``.cache`` directories.

In-session persists
-------------------
Several query paths materialize a bounded intermediate during query
CONSTRUCTION — ``persist()`` for tables whose lineage must stay
visible to plan pins, ``localCheckpoint()`` for lineage truncation —
because per-branch column pruning makes shared subtrees non-identical
and every DataFrame reference would otherwise re-execute its entire
upstream (the round-14 plan-duplication finding: 14-88 duplicate fact
scans per query).  Two lifecycle facts follow (r14 verdict items 2/4):

1. ``persist()`` registers the subtree in Catalyst's CacheManager and
   NOTHING unpersists it — the returned DataFrame outlives its query.
   In a long-lived session invoking many queries the entries
   accumulate, and every later query's plan compilation scans the
   growing CacheManager for subtree matches: a measured ~30% planner
   drag at 12 leaked entries (OPTIMIZATION_r14.md).  The bench works
   around this with ``spark.catalog.clearCache()`` between samples,
   but library consumers don't run the bench.

2. ``localCheckpoint()`` blocks are freed by Spark's ContextCleaner
   once the Python references die, but they hold executor storage
   until then, and the checkpoint is NOT fault-tolerant: blocks live
   only on executors, so at cluster scale a lost node fails the job
   (acceptable for the bounded tables chosen — each is at most one
   corpus pass and cheap to rebuild; use reliable ``checkpoint()`` /
   write-to-parquet where re-run cost matters).

This module is the release seam: every ``persist()`` a query path
issues is registered here via :func:`track`, and a consumer that is
done with a query's returned DataFrame calls
:func:`release_materialized` to drop every registered cache entry (the
DataFrames themselves stay valid — a re-consumed plan silently
recomputes from its parquet inputs).  ``spark.catalog.clearCache()``
is the blunter equivalent (it also drops caches the CALLER created);
this seam only touches what query construction registered.  The
registry is lock-guarded, so queries constructed on several threads
can track while another thread releases.

Build-once ``.cache`` directories
---------------------------------
Where the reference re-reads its base table for every analysis pass
(main.py:240-306), the engine builds an index or layout once under
``.cache`` and reuses it across calls and processes.  Every such
directory comes from :func:`cache_dir`, every immutable one is
committed by :func:`build_once`, and every writer holds its family's
:func:`cache_lock` — except the winnow and ivf indexes, which their
operators commit with Spark's ``_SUCCESS`` and no lock.

*The key.*  ``cache_dir(family, sf_dir, tables, **params)`` returns
``<CACHE_ROOT>/<family>/<key>``, where the key is one md5 over:

- the absolute path of the cache root — a copied checkout never
  adopts entries written under another root, because streaming
  checkpoints inside them record absolute paths and replaying one
  elsewhere fails with ``Wrong basePath``;
- ``abspath(sf_dir)`` — two fixtures never share an entry;
- for each named table, every file's relative path, size and
  ``st_mtime_ns``, walked recursively — a regenerated input at the
  same path gets a new key instead of silently serving stale rows,
  and nested/partitioned table directories are covered file by file;
- the sorted build parameters (bucket counts, seeds, shingle sizes).

*The commit.*  ``build_once(path, build)`` returns at once when
``path`` holds the :data:`COMMIT_MARKER`.  Otherwise it takes the
family lock, checks the marker again, and :func:`commit` runs
``build(tmp)`` in ``path + ".building"``, writes the marker last and
renames the directory into place — so ``path`` either does not exist
or is complete, whatever point a crash interrupts.  A build that
raises leaves nothing committed and the next call rebuilds.  A
``.building`` dir or a marker-less ``path`` is a dead builder's
leftover (only the lock holder writes either) and is replaced.

*The lock.*  :func:`cache_lock` holds an exclusive ``flock`` on the
family directory (``<CACHE_ROOT>/<family>``) itself, so it adds no
file, and the kernel drops it when its holder dies — no pid
bookkeeping.  Every writer holds it: ``build_once`` while it commits,
and each streaming working directory (checkpoint, MERGE target,
folded MV or state) across its seed, its fold and the open of its
result, so two processes share one directory and the second folds
nothing new.  Committed immutable entries are read without the lock.
A lock holder must not take its own family's lock again, on any
thread: a second ``flock`` fd blocks even within one process — under
the lock, seed through :func:`commit`, never :func:`build_once`.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
import threading
from contextlib import contextmanager
from typing import TYPE_CHECKING, Callable, Iterator

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

# Strong references on purpose: the JVM-side CacheManager entry exists
# whether or not Python still holds the DataFrame, so a weakref that
# died would strand the entry with no handle left to unpersist it.
_PERSISTED: list["DataFrame"] = []
_LOCK = threading.Lock()


def track(df: "DataFrame") -> "DataFrame":
    """Register a persisted DataFrame for later release; returns it
    unchanged so call sites stay one expression."""
    with _LOCK:
        _PERSISTED.append(df)
    return df


def release_materialized() -> int:
    """Unpersist every DataFrame a query path registered since the
    last call and drop the registry.  The list is swapped out under the
    lock and unpersisted outside it, so a concurrent :func:`track`
    lands in the next release, never in a list being iterated.
    Blocking=False: block deletion proceeds async on the executors
    while the caller moves on.  Also nudges the GC so ContextCleaner
    can reap localCheckpoint blocks whose Python handles died with the
    released queries.  Returns the number of entries released."""
    import gc

    global _PERSISTED
    with _LOCK:
        released, _PERSISTED = _PERSISTED, []
    n = 0
    for df in released:
        try:
            df.unpersist()
            n += 1
        except Exception:
            # a stopped/replaced SparkSession invalidates the handle;
            # its cache died with the session, nothing to release
            pass
    gc.collect()
    return n


def n_tracked() -> int:
    """Current registry size (tests/telemetry)."""
    with _LOCK:
        return len(_PERSISTED)


CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache"
)
COMMIT_MARKER = "_COMMITTED"


def table_files(sf_dir: str, name: str) -> list[tuple[str, int, int]]:
    """(relative path, size, st_mtime_ns) of every file of table
    `name` under `sf_dir` — a single ``<name>.parquet`` file or a
    directory walked recursively (partitioned/nested layouts), in a
    stable order.  A missing table yields no files."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        st = os.stat(path)
        return [("", st.st_size, st.st_mtime_ns)]
    out = []
    for d, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            full = os.path.join(d, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return out


def cache_dir(family: str, sf_dir: str, tables, **params) -> str:
    """``<CACHE_ROOT>/<family>/<key>`` for a build over `tables` of
    `sf_dir` with `params` — the key contract is in the module
    docstring."""
    root = os.path.abspath(CACHE_ROOT)
    ident = (
        root,
        os.path.abspath(sf_dir),
        [(t, table_files(sf_dir, t)) for t in tables],
        sorted(params.items()),
    )
    key = hashlib.md5(repr(ident).encode()).hexdigest()[:16]
    return os.path.join(root, family, key)


@contextmanager
def cache_lock(path: str) -> Iterator[None]:
    """Hold the exclusive lock of the cache family `path` belongs to —
    an ``flock`` on its parent directory — for the block.  The lock
    contract is in the module docstring."""
    family = os.path.dirname(path)
    os.makedirs(family, exist_ok=True)
    fd = os.open(family, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)


def commit(path: str, build: Callable[[str], object]) -> str:
    """:func:`build_once`'s commit step, for a caller that already
    holds the family lock.  Returns `path`."""
    if os.path.isfile(os.path.join(path, COMMIT_MARKER)):
        return path
    tmp = path + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        with open(os.path.join(tmp, COMMIT_MARKER), "w"):
            pass
        shutil.rmtree(path, ignore_errors=True)  # an uncommitted leftover
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def build_once(path: str, build: Callable[[str], object]) -> str:
    """Commit `path` by running ``build(tmp)`` once — the commit
    contract is in the module docstring.  Returns `path`."""
    if os.path.isfile(os.path.join(path, COMMIT_MARKER)):
        return path
    with cache_lock(path):
        return commit(path, build)
