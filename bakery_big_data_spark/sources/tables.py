"""Parquet table sources for the driver-provided TPC-H-ish test data.

Mirrors the reference's batch scan surface (SURVEY.md §2.1 S4–S7): explicit
schemas come from the parquet footers; filters/projections applied by callers
reach the scan via Catalyst pushdown (verify with ``df.explain`` →
``PushedFilters`` / ``ReadSchema``).

Table reads — :func:`load_table`, ``snapshots.read_snapshot`` and the
pipelines' lake re-reads — go through :func:`read_parquet`, which resolves
each source once per session.  A bare ``spark.read.parquet(path)`` runs one
Spark job to infer the schema from the footers, on every call; the reference
never pays that per query, because its Gold tables' schemas live in the
Iceberg catalog.  Here a session-scoped catalog plays that role:

- **storage** — a ``WeakKeyDictionary`` keyed by ``SparkSession`` (a new
  session starts empty; a session's entries go with the session object),
  holding one :class:`CatalogEntry` per path: the inferred ``StructType``,
  the content fingerprint, the inference confs it was resolved under, the
  file count and the data-byte total;
- **key** — the fingerprint lists every data file under the path (hidden
  names skipped by Spark's own rule, see :func:`_hidden`) with its
  relative name, its size and a digest of its parquet footer (the last
  ``8 + footer_len`` bytes, which carry the schema).  It is content-based,
  never mtime-based: no result may depend on file mtimes (a copy or a
  restore keeps them, a touch changes them without changing a byte), and
  an in-place rewrite of one file under the same name and size still
  changes its footer.  Spark part files get new names on every write, so a
  rewritten directory always misses;
- **hit** — same fingerprint and confs: ``spark.read.schema(s).parquet``,
  which runs no Spark job;
- **miss** — infer as Spark always does, then replace the path's entry, so
  the catalog never holds more than one entry per path.

Paths that are not on the local filesystem are inferred on every call.

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
from pyspark.sql.types import StructType

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


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema resolved once per
    session and content of ``path`` (see the module docstring)."""
    if not os.path.exists(path):  # remote or missing: Spark decides
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    # fingerprint BEFORE inferring: a write racing this call can only leave
    # an entry whose fingerprint is older than its schema, which misses
    fingerprint = _fingerprint(key)
    confs = tuple(spark.conf.get(c) for c in INFERENCE_CONFS)
    entries = _CATALOG.setdefault(spark, {})
    entry = entries.get(key)
    if entry is not None and entry.fingerprint == fingerprint and entry.confs == confs:
        return spark.read.schema(entry.schema).parquet(path)
    df = spark.read.parquet(path)
    entries[key] = CatalogEntry(
        schema=df.schema,
        fingerprint=fingerprint,
        confs=confs,
        n_files=len(fingerprint),
        n_bytes=sum(size for _rel, size, _digest in fingerprint),
    )
    return df


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Canonicalize timestamp columns to TIMESTAMP (LTZ).

    The driver's parquet has shipped both TIMESTAMP(NANOS) (read as long via
    the ``nanosAsLong`` session conf) and plain TIMESTAMP(MICROS) without the
    isAdjustedToUTC flag — which Spark 4 infers as TIMESTAMP_NTZ.  NTZ breaks
    ``unix_micros``/``to_json timestampFormat`` downstream, so we cast to LTZ
    here.  Sessions run UTC (session.tune), and DuckDB's naive timestamps are
    compared in UTC too, so the cast is value-preserving for the oracle.
    """
    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table. Columnar parquet read; never caches or collects.

    ``events.parquet`` has carried TIMESTAMP(NANOS), which vanilla Spark
    rejects (PARQUET_TYPE_ILLEGAL).  Session conf ``nanosAsLong``
    (session.RUNTIME_CONF, applied by tune()) reads nanos as long; here we
    truncate to microsecond timestamps — exactly what DuckDB does natively,
    so oracle comparisons agree.  All timestamp columns are normalized to
    LTZ (see _normalize_timestamps).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = read_parquet(spark, path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _normalize_timestamps(df)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TPCH_TABLES}
