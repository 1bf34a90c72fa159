"""The output checker accepts the oracle's own result and rejects
deliberately corrupted ones."""

import pytest

from perfbench import checks, inputs
from perfbench.trace import Tracer
from perfbench.workloads import Context, Cycle, MedallionIncremental


@pytest.fixture(scope="module")
def events_con(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("inputs"))
    inputs.write_tables(d, 4, 0.01, ("events",))
    con = checks.connect(d)
    yield con
    con.close()


@pytest.fixture(scope="module")
def oracle_sql():
    from bakery_big_data_spark.plans import REGISTRY

    return checks.medallion_oracles(REGISTRY)


def _rows(con, sql):
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def test_oracle_agrees_with_itself(events_con, oracle_sql):
    for name, sql in oracle_sql.items():
        want = checks.oracle_multiset(events_con, sql)
        assert sum(want[1].values()) > 0, name
        cols, rows = _rows(events_con, sql)
        assert checks.mismatch(checks.multiset(cols, rows), want) is None, name


def test_corrupted_value_dropped_row_and_renamed_column_are_rejected(events_con, oracle_sql):
    sql = oracle_sql["gold_fact_daily"]
    want = checks.oracle_multiset(events_con, sql)
    cols, rows = _rows(events_con, sql)
    i = cols.index("total_value")
    bumped = [tuple(r) for r in rows]
    bumped[0] = bumped[0][:i] + (bumped[0][i] + 0.01,) + bumped[0][i + 1 :]
    assert checks.mismatch(checks.multiset(cols, bumped), want) is not None
    assert checks.mismatch(checks.multiset(cols, rows[1:]), want) is not None
    renamed = ["n_rows" if c == "n_events" else c for c in cols]
    assert checks.mismatch(checks.multiset(renamed, rows), want).startswith("columns")


def test_workload_counts_a_corrupted_result_as_failed(tmp_path, events_con, oracle_sql):
    ctx = Context(spark=None, seed=1, work=str(tmp_path), tracer=Tracer(enabled=False))
    wl = MedallionIncremental(ctx)
    want = checks.oracle_multiset(events_con, oracle_sql["open_scd2"])
    cols, rows = _rows(events_con, oracle_sql["open_scd2"])
    c = Cycle()
    wl._check(c, "open_scd2", lambda: checks.multiset(cols, rows), want)
    wl._check(c, "open_scd2", lambda: checks.multiset(cols, rows[:-1]), want)
    wl._check(c, "open_scd2", lambda: 1 / 0, want)
    assert (c.checks, c.failed_checks) == (3, 2)


def test_norm_is_engine_neutral():
    from datetime import date, datetime
    from decimal import Decimal

    assert checks.norm(None) == "∅"
    assert checks.norm(float("nan")) == "NaN"
    assert checks.norm(0.1 + 0.2) == repr(0.1 + 0.2)
    assert checks.norm(date(2024, 1, 2)) == "2024-01-02"
    assert checks.norm(datetime(2024, 1, 2, 3, 4, 5, 6)) == "2024-01-02 03:04:05.000006"
    assert checks.norm(Decimal("1.500000")) == "1.500000"
