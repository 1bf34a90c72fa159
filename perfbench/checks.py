"""Output checks: Spark results against DuckDB restatements.

Every check compares an order-insensitive multiset of normalized rows over
the sorted column names (the package's oracle convention: doubles compare
at full precision, because aggregates follow the decimal-sum rule).  The
oracle SQL is the catalog's own registered ``Query.oracle`` wherever one
exists; the few medallion tables without a registered row are restated
over the registered silver oracles.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb

Multiset = tuple[tuple[str, ...], Counter]


def norm(v) -> str:
    """Engine-neutral text of one value (dates, timestamps and decimals
    print alike from both engines' Python values)."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def multiset(columns: list[str], rows) -> Multiset:
    """Rows (tuples or Spark Rows, in ``columns`` order) as a multiset over
    the sorted column names."""
    cols = tuple(sorted(columns))
    idx = [list(columns).index(c) for c in cols]
    return cols, Counter(tuple(norm(r[i]) for i in idx) for r in rows)


def spark_multiset(df) -> Multiset:
    return multiset(df.columns, df.collect())


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per parquet table present in ``sf_dir``."""
    con = duckdb.connect()
    for fn in sorted(os.listdir(sf_dir)):
        if fn.endswith(".parquet"):
            path = os.path.join(sf_dir, fn).replace("'", "''")
            con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM '{path}'")
    return con


def oracle_multiset(con: duckdb.DuckDBPyConnection, sql: str) -> Multiset:
    res = con.execute(sql)
    return multiset([d[0] for d in res.description], res.fetchall())


def mismatch(got: Multiset, want: Multiset) -> str | None:
    """None when equal, else a short description of the difference."""
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if got[1] != want[1]:
        extra = list((got[1] - want[1]).items())[:2]
        missing = list((want[1] - got[1]).items())[:2]
        n_got, n_want = sum(got[1].values()), sum(want[1].values())
        return f"rows {n_got} vs {n_want}; unexpected {extra}; missing {missing}"
    return None


def medallion_oracles(registry) -> dict[str, str]:
    """Oracle SQL per checked medallion table (over an ``events`` view)."""
    silver = registry["medallion_silver_transform"].oracle
    fb_silver = registry["medallion_feedback_silver"].oracle
    return {
        "gold_fact_daily": registry["medallion_gold_daily_fact"].oracle,
        "gold_fact_feedback_daily": f"""
            SELECT feedback_date AS event_date, COUNT(*) AS n_feedback,
                   CAST(SUM(rating) AS DOUBLE) / COUNT(*) AS avg_rating,
                   CAST(SUM(CASE WHEN verified_purchase THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_verified
            FROM ({fb_silver}) GROUP BY feedback_date""",
        "gold_fact_user_daily": f"""
            SELECT event_date, user_id, COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
                   COUNT(DISTINCT event_type) AS n_types
            FROM ({silver}) GROUP BY event_date, user_id""",
        "gold_dim_user": f"""
            SELECT user_id, MIN(event_date) AS first_seen_date,
                   MAX(event_date) AS last_seen_date,
                   COUNT(DISTINCT event_type) AS n_event_types
            FROM ({silver}) GROUP BY user_id""",
        "gold_dim_type_stats": f"""
            SELECT event_type,
                   CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
                     AS avg_value_type,
                   COUNT(DISTINCT user_id) AS n_users_type
            FROM ({silver}) GROUP BY event_type""",
        # the open (is_current) SCD2 versions of a run over the full history
        "open_scd2": f"""
            SELECT user_id,
                   CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,6))) / COUNT(*) / 10)
                        AS INT) AS value_band,
                   MIN(event_date) AS first_seen_date
            FROM ({silver}) GROUP BY user_id""",
    }
