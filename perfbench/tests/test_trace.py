"""Span bookkeeping and self-time arithmetic (no Spark session needed)."""

import pytest

from perfbench.trace import Span, Tracer, covered, descendants, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_child_coverage_only():
    spans = [
        Span(0, "root", None, "op1", 0.0, 10.0),
        Span(1, "a", 0, "op1", 1.0, 3.0),
        Span(2, "b", 0, "op1", 2.0, 5.0),  # overlaps a: counted once
        Span(3, "c", 2, "op1", 2.5, 4.5),  # grandchild: only b loses it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(2.0)
    assert sum(st.values()) == pytest.approx(11.0)  # root wall + the a/b overlap


def test_nested_spans_record_parent_and_operation():
    tracer = Tracer(enabled=True)
    with tracer.span("op", op_id="r0.1"):
        with tracer.span("plans.build"):
            pass
        with tracer.span("plans.exec"):
            with tracer.span("sources.tables.load_table"):
                pass
    with tracer.span("session.warmup"):
        pass
    op, build, exe, load, warm = tracer.spans
    assert (build.parent_id, exe.parent_id, load.parent_id) == (0, 0, 2)
    assert {s.op_id for s in (op, build, exe, load)} == {"r0.1"}
    assert warm.parent_id is None and warm.op_id is None
    assert [s.span_id for s in descendants(tracer.spans, op)] == [0, 2, 3, 1]
    assert all(s.end >= s.start for s in tracer.spans)


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    with tracer.span("op", op_id="x") as s:
        assert s is None
    tracer.install()
    assert tracer.spans == []


def test_install_patches_every_binding_and_uninstall_restores():
    import bakery_big_data_spark.pipeline.medallion as medallion
    import bakery_big_data_spark.sources.sinks as sinks

    orig = sinks.overwrite_partitions
    assert medallion.overwrite_partitions is orig
    tracer = Tracer(enabled=True)
    tracer.install()
    try:
        assert sinks.overwrite_partitions is not orig
        assert medallion.overwrite_partitions is not orig
        assert medallion.overwrite_partitions.__wrapped__ is orig
    finally:
        tracer.uninstall()
    assert sinks.overwrite_partitions is orig
    assert medallion.overwrite_partitions is orig
