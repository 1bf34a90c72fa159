"""Where a catalog row's derived state lives, and when it may be reused.

Some catalog rows materialize state before they query it: a partitioned or
bucketed copy of a table, a CSV/ORC round-trip file, a two-version snapshot
table, a streaming source and its checkpoint, a whole incremental pipeline
run, an IVF index.  :func:`materialize` is the one place that decides where
that state lives and whether a previous build can serve the call:

- **root** — one ``tempfile.mkdtemp()`` per ``SparkSession``, made on first
  use and removed when the session object goes (``weakref.finalize``; also
  at interpreter exit).  It follows ``TMPDIR``.  Nothing outside the
  session shares it, and the code cannot change within a session, so no
  marker file, mtime check, rename swap or path version is needed;
- **key** — the row name, the build parameters and a blake2b digest of every
  data byte of the input tables the build reads (the files
  ``tables._data_files`` lists).  A copy with preserved mtimes, an in-place
  rewrite and a same-basename sibling directory are each told apart by
  content alone.  The catalog's footer-only fingerprint is not reused: a
  footer proves a schema, not the data;
- **built** — a key enters the session's store only after ``build`` returns.
  A build that raises leaves no entry, and its directory is cleared before
  the next attempt.

This mirrors the reference, which keeps derived state in its catalog's
warehouse and configured checkpoint roots (``init_iceberg_tables.py:18-20``,
``spark-defaults.conf:21``), never in the code checkout.

Builds in one session are serialized by the session's lock, so two threads
asking for the same key build it once.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
import weakref
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import SparkSession

from bakery_big_data_spark.sources.tables import _data_files


@dataclass
class _Store:
    root: str
    built: set = field(default_factory=set)
    lock: threading.RLock = field(default_factory=threading.RLock)


_STORES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_STORES_LOCK = threading.Lock()


def _store(spark: SparkSession) -> _Store:
    with _STORES_LOCK:
        store = _STORES.get(spark)
        if store is None:
            store = _Store(tempfile.mkdtemp(prefix="bakery-store-"))
            weakref.finalize(spark, shutil.rmtree, store.root, True)
            _STORES[spark] = store
        return store


def store_root(spark: SparkSession) -> str:
    """The directory holding every materialization of ``spark``'s session."""
    return _store(spark).root


def table_files(sf_dir: str, *names: str) -> list[str]:
    """The parquet paths of test tables ``names`` under ``sf_dir``."""
    return [os.path.join(sf_dir, f"{n}.parquet") for n in names]


def content_digest(paths) -> str:
    """blake2b over the relative name, size and every byte of each data
    file under each path (a file path stands for itself).  Where a path
    lives does not count: a copy has the same digest."""
    h = hashlib.blake2b(digest_size=16)
    for path in paths:
        h.update(b"\1")
        for rel, full in _data_files(path):
            h.update(f"{rel}\0{os.path.getsize(full)}\0".encode())
            with open(full, "rb") as fh:
                while chunk := fh.read(1 << 20):
                    h.update(chunk)
    return h.hexdigest()


def materialize(
    spark: SparkSession,
    name: str,
    inputs,
    build: Callable[[str], object],
    *params,
) -> str:
    """Directory holding ``build(dir)``'s output for ``name``, ``params`` and
    the current content of ``inputs``; built at most once per session and
    key (see the module docstring).  ``dir`` exists and is empty when
    ``build`` runs."""
    store = _store(spark)
    key = (name, params, content_digest(inputs))
    digest = hashlib.blake2b(repr(key).encode(), digest_size=8).hexdigest()
    out = os.path.join(store.root, f"{name}-{digest}")
    with store.lock:
        if key not in store.built:
            shutil.rmtree(out, ignore_errors=True)  # a failed build's leftovers
            os.makedirs(out)
            build(out)
            store.built.add(key)
    return out


def table_name(prefix: str, path: str) -> str:
    """A catalog identifier unique to a materialized directory: the session
    catalog is shared by ``newSession()`` siblings, whose roots differ."""
    return f"{prefix}_{hashlib.blake2b(path.encode(), digest_size=8).hexdigest()}"
