"""Parquet table sources for the driver-provided TPC-H-ish test data.

Mirrors the reference's batch scan surface (SURVEY.md §2.1 S4–S7): explicit
schemas come from the parquet footers; filters/projections applied by callers
reach the scan via Catalyst pushdown (verify with ``df.explain`` →
``PushedFilters`` / ``ReadSchema``).

Table reads — :func:`load_table`, ``snapshots.read_snapshot`` and the
pipelines' lake re-reads (the last two through :func:`read_parquet`) — go
through one resolver, which resolves each source once per session.  A bare ``spark.read.parquet(path)`` runs one
Spark job to infer the schema from the footers, on every call; the reference
never pays that per query, because its Gold tables' schemas live in the
Iceberg catalog.  Here a session-scoped catalog plays that role:

- **storage** — a ``WeakKeyDictionary`` keyed by ``SparkSession`` (a new
  session starts empty; a session's entries go with the session object),
  holding one :class:`CatalogEntry` per path: the inferred ``StructType``,
  the content fingerprint, the inference confs it was resolved under, the
  file count, the data-byte total and the resolved frame;
- **key** — the fingerprint lists every data file under the path (hidden
  names skipped by Spark's own rule, see :func:`_hidden`) with its
  relative name, its size and a digest of its parquet footer (the last
  ``8 + footer_len`` bytes, which carry the schema).  It is content-based,
  never mtime-based: no result may depend on file mtimes (a copy or a
  restore keeps them, a touch changes them without changing a byte), and
  an in-place rewrite of one file under the same name and size still
  changes its footer.  Spark part files get new names on every write, so a
  rewritten directory always misses;
- **miss** — infer as Spark always does, apply :func:`load_table`'s
  timestamp projection when the caller is ``load_table``, then replace the
  path's entry with one that keeps the result, so the catalog never holds
  more than one entry per path;
- **hit** — same fingerprint, same confs and the same caller kind (plain
  read or ``load_table``): ``toDF(*columns)`` on the kept frame, in one
  py4j call.  That runs no Spark job and skips the planning work of a
  fresh read with the schema given: a new file index, a new analysis of
  the relation and, for ``load_table``, the timestamp projection.  A
  warm ``load_table`` hit takes about 2 ms, against about 13 ms for
  ``spark.read.schema(s).parquet`` plus the projection (sf0.01, 4 cores).
  ``toDF`` gives every call fresh output attribute ids, so two hits of one
  table self-join like two separate reads.  A session temp view would not
  do: ``spark.table(view)`` returns the same attribute ids on every call,
  so a self-join of two hits (``nation_market_share`` loads ``nation``
  twice) fails as ambiguous.

Paths that are not on the local filesystem are resolved on every call.

The entry keeps the frame's JVM ``Dataset``, not the Python ``DataFrame``:
a Python frame refers to its session, which would keep the weak key alive
for as long as the catalog lives.

Thread safety: :func:`read_parquet` may be called from several threads at
once (the pipelines' concurrent commit waves do).  Entries are immutable,
and the catalog changes only through single dict operations, which the
GIL makes atomic, so no lock is needed: threads that miss the same path
at the same time each infer it, and the last one's entry — for the same
content — replaces the others, so a path still has exactly one entry.
"""

from __future__ import annotations

import hashlib
import os
import struct
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Session confs that change the schema Spark infers for the same files.
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


@dataclass(frozen=True)
class CatalogEntry:
    """What one session resolved for one path (see the module docstring)."""

    schema: StructType
    fingerprint: tuple
    confs: tuple
    n_files: int
    n_bytes: int
    #: the ``load_table`` name the frame was projected for; None for a plain read
    table: str | None
    #: JVM ``Dataset`` of the resolved (and, for ``load_table``, projected)
    #: frame, and a JVM ``Seq`` of its column names
    frame: object
    names: object


_CATALOG: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _hidden(name: str) -> bool:
    """Names Spark's file index skips: ``.x``, ``_x`` unless a partition
    (``_x=1``), and files still being copied."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _data_files(path: str) -> list[tuple[str, str]]:
    """(relative name, absolute path) of every data file under ``path``,
    sorted; a file path lists itself."""
    if os.path.isfile(path):
        return [(os.path.basename(path), path)]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for fn in files:
            if not _hidden(fn):
                full = os.path.join(root, fn)
                out.append((os.path.relpath(full, path), full))
    return sorted(out)


def data_bytes(path: str) -> int:
    """Total size of the data files of a parquet file or directory."""
    return sum(os.path.getsize(full) for _rel, full in _data_files(path))


def _footer_digest(full: str, size: int) -> str:
    with open(full, "rb") as fh:
        if size >= 8:
            fh.seek(size - 8)
            (footer_len,) = struct.unpack("<i", fh.read(4))
            if 0 <= footer_len <= size - 8:
                fh.seek(size - 8 - footer_len)
        return hashlib.blake2b(fh.read(), digest_size=16).hexdigest()


def _fingerprint(path: str) -> tuple:
    out = []
    for rel, full in _data_files(path):
        size = os.path.getsize(full)
        out.append((rel, size, _footer_digest(full, size)))
    return tuple(out)


def _resolve(spark: SparkSession, path: str, table: str | None) -> DataFrame:
    """``spark.read.parquet(path)``, projected by :func:`_normalize_timestamps`
    for ``load_table(name=table)``, resolved once per session and content
    of ``path`` (see the module docstring)."""
    if not os.path.exists(path):  # remote or missing: Spark decides
        df = spark.read.parquet(path)
        return df if table is None else _normalize_timestamps(df, table)
    key = os.path.abspath(path)
    # fingerprint BEFORE inferring: a write racing this call can only leave
    # an entry whose fingerprint is older than its schema, which misses
    fingerprint = _fingerprint(key)
    confs = tuple(spark.conf.get(c) for c in INFERENCE_CONFS)
    entries = _CATALOG.setdefault(spark, {})
    entry = entries.get(key)
    if (
        entry is not None
        and entry.fingerprint == fingerprint
        and entry.confs == confs
        and entry.table == table
    ):
        # one py4j call: DataFrame.toDF(*cols) would ship the names one by one
        return DataFrame(entry.frame.toDF(entry.names), spark)
    df = spark.read.parquet(path)
    schema = df.schema
    if table is not None:
        df = _normalize_timestamps(df, table)
    entries[key] = CatalogEntry(
        schema=schema,
        fingerprint=fingerprint,
        confs=confs,
        n_files=len(fingerprint),
        n_bytes=sum(size for _rel, size, _digest in fingerprint),
        table=table,
        frame=df._jdf,
        names=df._jseq(df.columns),
    )
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the source resolved once per
    session and content of ``path`` (see the module docstring)."""
    return _resolve(spark, path, None)


def _normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Canonicalize timestamp columns to TIMESTAMP (LTZ), in one projection.

    The driver's parquet has shipped both TIMESTAMP(NANOS) (read as long via
    the ``nanosAsLong`` session conf) and plain TIMESTAMP(MICROS) without the
    isAdjustedToUTC flag — which Spark 4 infers as TIMESTAMP_NTZ.  NTZ breaks
    ``unix_micros``/``to_json timestampFormat`` downstream, so we cast to LTZ
    here.  Sessions run UTC (session.tune), and DuckDB's naive timestamps are
    compared in UTC too, so the cast is value-preserving for the oracle.
    Nanos exist only in ``events.ts``: truncated to microseconds, exactly
    what DuckDB does natively.
    """
    types = {f.name: f.dataType for f in df.schema.fields}
    casts = {
        c: F.col(c).cast("timestamp")
        for c, t in types.items()
        if t.typeName() == "timestamp_ntz"
    }
    if name == "events" and isinstance(types.get("ts"), LongType):
        casts["ts"] = F.timestamp_micros(F.expr("ts div 1000"))
    return df.withColumns(casts) if casts else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table. Columnar parquet read; never caches or collects.

    ``events.parquet`` has carried TIMESTAMP(NANOS), which vanilla Spark
    rejects (PARQUET_TYPE_ILLEGAL).  Session conf ``nanosAsLong``
    (session.RUNTIME_CONF, applied by tune()) reads nanos as long; the
    projection truncates them to microsecond timestamps, and casts every
    other timestamp column to LTZ (see _normalize_timestamps).  The
    projected frame is what the catalog keeps, so a hit projects nothing.
    """
    return _resolve(spark, os.path.join(sf_dir, f"{name}.parquet"), name)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TPCH_TABLES}
