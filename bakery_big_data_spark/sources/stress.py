"""sf1-equivalent stress-corpus generator (r08 verdict task 2).

Key-shift replication of the driver's sf0.1 testdata into a ×K corpus
(default K=10 ≈ TPC-H sf1 shape) so the WHOLE query catalog can be timed
at 10× the bench scale factor in one `bench.py` sweep:

- ``region``/``nation`` are copied as-is (fixed at every TPC-H SF).
- Every keyed table is replicated K times with a 1,000,000-per-replica
  key stride on every key/foreign-key column, so referential integrity
  holds within each replica and key-derived names stay well-formed
  (``Customer#%09d`` / ``Supplier#%09d`` are REWRITTEN from the shifted
  key — exactly how real TPC-H scales, so name-blocked operators see
  sf1's true block-size distribution instead of 10× duplicate names).
- ``documents.text`` is salted per replica with a deterministic seeded
  letter PERMUTATION (``translate`` of a-z; see ``_salt_alphabet`` for
  why a rotation is not enough): length, whitespace and token structure
  are preserved (``n_chars`` stays correct), but cross-replica shingles
  AND byte-level fingerprints are decorrelated — a 10× corpus must not
  become a 100× candidate-pair corpus through artificial duplicate
  content.
- ``embeddings.embedding`` is circularly shifted by k positions per
  replica — norm and coordinate distributions are preserved while
  replicas decorrelate (identical copies would degenerate every
  ANN/semantic query into exact-duplicate clusters).

Generation runs in DuckDB (one SQL per table, no Spark session needed);
output parquet carries the same TIMESTAMP micros shape the loaders
already normalize.  The output directory is always given by the caller
(``.stress/`` at the repo root is git-ignored).

Usage::

    python -m bakery_big_data_spark.sources.stress OUT_DIR [K]
    python -m bakery_big_data_spark.sources.stress .stress/sf1eq 10
    SPARK_GRAFT_SF_DIR=.stress/sf1eq python bench.py
"""

from __future__ import annotations

import os
import string
import sys

#: per-replica shift applied to every key column; all sf0.1 key domains
#: are < 1e6 and the widest derived name (%09d) holds K*STRIDE up to K=99
STRIDE = 1_000_000

TABLES = [
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
]


def _salt_alphabet(k: int) -> str:
    """Deterministic per-replica letter permutation.

    A cyclic ROTATION is the wrong salt: it shifts every byte value by
    the same constant, and the dHash gradient-sign bits are invariant
    under a uniform shift of span sums (cs_i·cl_j − cs_j·cl_i cancels
    the +k·cl term) — replica phashes came out near-identical and the
    banded pair join blew up ×230 on an artifact of the corpus, not the
    operator (measured, r09).  A seeded SHUFFLE displaces each letter by
    a different amount, so span sums move non-uniformly and replica
    fingerprints decorrelate like genuinely distinct media."""
    import random

    if k == 0:
        return string.ascii_lowercase
    letters = list(string.ascii_lowercase)
    random.Random(1000 + k).shuffle(letters)
    return "".join(letters)


def _replica_sql(table: str, src: str, k: int) -> str:
    s = k * STRIDE
    if table == "customer":
        return f"""
            SELECT c_custkey + {s} AS c_custkey,
                   'Customer#' || lpad(CAST(c_custkey + {s} AS VARCHAR), 9, '0') AS c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM '{src}'"""
    if table == "supplier":
        return f"""
            SELECT s_suppkey + {s} AS s_suppkey,
                   'Supplier#' || lpad(CAST(s_suppkey + {s} AS VARCHAR), 9, '0') AS s_name,
                   s_nationkey, s_acctbal
            FROM '{src}'"""
    if table == "part":
        return f"""
            SELECT p_partkey + {s} AS p_partkey, p_name, p_brand, p_type,
                   p_size, p_retailprice
            FROM '{src}'"""
    if table == "orders":
        return f"""
            SELECT o_orderkey + {s} AS o_orderkey,
                   o_custkey + {s} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM '{src}'"""
    if table == "lineitem":
        return f"""
            SELECT l_orderkey + {s} AS l_orderkey,
                   l_partkey + {s} AS l_partkey,
                   l_suppkey + {s} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM '{src}'"""
    if table == "events":
        return f"""
            SELECT event_id + {s} AS event_id, ts,
                   user_id + {s} AS user_id,
                   event_type, value, props
            FROM '{src}'"""
    if table == "documents":
        salt = _salt_alphabet(k)
        return f"""
            SELECT doc_id + {s} AS doc_id,
                   translate(text, '{string.ascii_lowercase}', '{salt}') AS text,
                   lang, source, n_chars
            FROM '{src}'"""
    if table == "embeddings":
        if k == 0:
            return f"SELECT vec_id, embedding, label FROM '{src}'"
        # circular shift, exact float pass-through; the effective shift is
        # folded into [1, dim-1] so replicas k >= dim (embedding dim is 64)
        # never degenerate to a zero shift — a shift of exactly `dim` would
        # slice an empty head and clamp the tail to the whole list,
        # reintroducing the duplicate-content artifact the salt prevents
        shift = ((k - 1) % 63) + 1
        return f"""
            SELECT vec_id + {s} AS vec_id,
                   (embedding[{shift + 1}:] || embedding[1:{shift}])::FLOAT[] AS embedding,
                   label
            FROM '{src}'"""
    raise ValueError(table)


def make_stress_corpus(
    out_dir: str,
    src_dir: str = "/root/testdata/sf0.1",
    replicas: int = 10,
    tables: list[str] | None = None,
) -> str:
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for table in tables if tables is not None else TABLES:
        src = f"{src_dir}/{table}.parquet"
        out = f"{out_dir}/{table}.parquet"
        if table in ("region", "nation"):
            sql = f"SELECT * FROM '{src}'"
        else:
            sql = "\nUNION ALL\n".join(
                _replica_sql(table, src, k) for k in range(replicas)
            )
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT COUNT(*) FROM '{out}'").fetchone()[0]
        print(f"{table}: {n} rows -> {out}", file=sys.stderr)
    con.close()
    return out_dir


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit("usage: python -m bakery_big_data_spark.sources.stress OUT_DIR [K]")
    make_stress_corpus(
        sys.argv[1], replicas=int(sys.argv[2]) if len(sys.argv) > 2 else 10
    )
