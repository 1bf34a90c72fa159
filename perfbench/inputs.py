"""Seeded input generation for the lakehouse benchmark.

Every input a workload sees is a pure function of ``(seed, scale)``:

- the TPC-H-ish star tables plus ``events`` and ``documents``,
  in the shapes and value domains of the package's test tables (so every
  registered oracle applies unchanged);
- the ``serving_mix`` request sequence (seeded permutations of the whole
  query set, so every run covers every query equally often);
- the ``medallion_incremental`` arrival order of the day-chunks;
- the unseen ``curation_fresh`` corpora (each a key-shifted corpus drawn
  from its own sub-seed, so no corpus is ever seen twice by a session).

Tables are written with pyarrow, so the same seed gives byte-identical
parquet files.  Importing this module does no I/O.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts at scale 1.0 (the shape of the package's sf0.1 test tables).
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "users": 1_500,
    "documents": 5_000,
}

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "old", "red", "small", "tiny")
PART_NOUN = ("bolt", "gear", "nut", "pin", "plate", "ring", "screw", "valve")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)

#: Days the events span.
EVENT_DAYS = 30

#: Key stride between generated curation corpora (stays a multiple of 25,
#: so the benchmark-slice rule ``doc_id % 25 == 0`` keeps its share).
CORPUS_STRIDE = 1_000_000

_DAY_US = 86_400_000_000
_EVENTS_START = datetime(2024, 1, 1)
_ORDER_START = datetime(1995, 1, 1)
_ORDER_DAYS = 2404  # through 2001-08-01
_SHIP_START = datetime(1995, 1, 2)
_SHIP_DAYS = 2498  # through 2001-11-04


def _rows(name: str, scale: float) -> int:
    return max(1, int(round(BASE_ROWS[name] * scale)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, as integer cents over 100 (exact in both engines)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: datetime, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, n_days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _write(table: pa.Table, out_dir: str, name: str) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy")
    return path


def star_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem."""
    rng = np.random.default_rng([seed, 1])
    n_c, n_s, n_p = _rows("customer", scale), _rows("supplier", scale), _rows("part", scale)
    n_o, n_l = _rows("orders", scale), _rows("lineitem", scale)
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    ck = np.arange(n_c, dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)],
        }
    )
    sk = np.arange(n_s, dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }
    )
    pk = np.arange(n_p, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.array(names)[rng.integers(0, len(names), n_p)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_p)],
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_o),
            "o_orderdate": _days(rng, _ORDER_START, _ORDER_DAYS, n_o),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_o, n_l),
            "l_partkey": rng.integers(0, n_p, n_l),
            "l_suppkey": rng.integers(0, n_s, n_l),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
            "l_shipdate": _days(rng, _SHIP_START, _SHIP_DAYS, n_l),
        }
    )
    return out


def events_table(seed: int, scale: float, days: int = EVENT_DAYS) -> pa.Table:
    """``days`` days of events from 2024-01-01, ``ts`` ascending with
    ``event_id``."""
    rng = np.random.default_rng([seed, 2])
    n = _rows("events", scale)
    offs = np.sort(rng.integers(0, days * _DAY_US, n))
    ts = np.datetime64(_EVENTS_START, "us") + offs.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, _rows("users", scale), n),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n) * 100) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_table(seed: int, scale: float, key_offset: int = 0) -> pa.Table:
    """Word-salad corpus over a 30-word vocabulary; 5% of the documents are
    another document plus a ``dup`` suffix (the near-duplicates dedup finds)."""
    rng = np.random.default_rng([seed, 3, key_offset])
    n = _rows("documents", scale)
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64) + key_offset
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{k % 20}" for k in ids],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def write_tables(
    out_dir: str, seed: int, scale: float, names: tuple[str, ...], days: int = EVENT_DAYS
) -> int:
    """Write the named tables under ``out_dir``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    if any(n in STAR_TABLES for n in names):
        tables.update(star_tables(seed, scale))
    if "events" in names:
        tables["events"] = events_table(seed, scale, days)
    if "documents" in names:
        tables["documents"] = documents_table(seed, scale)
    return sum(os.path.getsize(_write(tables[n], out_dir, n)) for n in names)


def write_corpus(out_dir: str, seed: int, scale: float, index: int) -> int:
    """One unseen curation corpus: ``documents`` drawn from sub-seed
    ``index``, keys shifted by ``index * CORPUS_STRIDE``."""
    os.makedirs(out_dir, exist_ok=True)
    table = documents_table(seed, scale, key_offset=index * CORPUS_STRIDE)
    return os.path.getsize(_write(table, out_dir, "documents"))


def request_round(seed: int, names: list[str], k: int) -> list[str]:
    """Round ``k`` of the request sequence: a seeded permutation of
    ``names``, so every query appears once per round in an order only the
    seed decides."""
    rng = np.random.default_rng([seed, 5, k])
    ordered = sorted(names)
    return [ordered[i] for i in rng.permutation(len(ordered))]


def arrival_order(seed: int, n_chunks: int) -> list[int]:
    """Seeded permutation of the day-chunk indices."""
    rng = np.random.default_rng([seed, 6])
    return [int(i) for i in rng.permutation(n_chunks)]
