"""Retry + streaming health-check/restart semantics (orchestration.py;
reference bakery_batch_etl.py task retries and
bakery_streaming_manager.py:27-34 hourly restart loop)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bakery_big_data_spark.orchestration import StreamSupervisor, run_with_retries
from bakery_big_data_spark.sources.tables import load_table
from bakery_big_data_spark.streaming.ingest import (
    JSON_OPTIONS,
    read_json_stream,
    start_append_sink,
)


def test_retries_then_succeeds():
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    waits = []
    events = []
    out = run_with_retries(
        flaky,
        max_retries=3,
        delay_s=1.0,
        backoff=2.0,
        on_attempt=lambda i, exc: events.append((i, exc is None)),
        sleep=waits.append,
    )
    assert out == "ok"
    assert len(calls) == 3
    assert waits == [1.0, 2.0]  # backed-off delays between failures
    assert events == [(0, False), (1, False), (2, True)]


def test_retries_exhausted_reraises():
    def always_fails():
        raise ValueError("permanent")

    with pytest.raises(ValueError, match="permanent"):
        run_with_retries(always_fails, max_retries=2, sleep=lambda _: None)


def test_supervisor_restarts_dead_query(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("orch"))
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    ev.select(
        F.to_json(F.struct(*ev.columns), JSON_OPTIONS).alias("value")
    ).coalesce(1).write.mode("overwrite").text(src)

    def factory():
        return start_append_sink(
            read_json_stream(spark, src), out, ckpt,
            available_now=False, processing_time="1 seconds",
            query_name="supervised",
        )

    events = []
    sup = StreamSupervisor(max_restarts_per_query=1, on_event=lambda n, e: events.append(e))
    q = sup.register("ingest", factory)
    assert sup.check() == {"ingest": "running"}

    q.stop()  # simulate a crash
    q.awaitTermination()
    assert sup.check() == {"ingest": "restarted"}
    statuses = sup.check()
    assert statuses["ingest"] == "running"

    # budget exhausted → gives up instead of hot-spinning
    sup.stop_all()
    assert sup.check() == {"ingest": "gave_up"}
    assert events[0] == "started" and "restarted" in events and "gave_up" in events
