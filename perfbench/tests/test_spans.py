"""The job counter, span job groups and the event-log reader, on tiny
known queries in a session of their own."""

from __future__ import annotations

import threading
import time

import pytest

import catalog_inputs
from spans import Tracer, busy_share, count_jobs, event_log_conf, read_event_log


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """Run the scenario once, stop the session so the event log is
    complete, and hand the tracer, log and counts to the tests."""
    import bench  # noqa: F401 - registers the catalog entries
    from idh_etl_demo_spark.catalog import ENTRIES
    from idh_etl_demo_spark.session import get_spark

    tmp = tmp_path_factory.mktemp("spans")
    log_dir = str(tmp / "eventlog")
    inputs = str(tmp / "inputs")
    catalog_inputs.build(inputs, seed=3, tables=["lineitem"])
    spark = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false", **event_log_conf(log_dir)},
    )
    sc = spark.sparkContext
    tracer = Tracer(sc)
    counts = {}
    try:
        df = ENTRIES["pricing_summary"].spark(spark, inputs)
        sc.setJobGroup("pricing_summary.action", "action")
        df.write.format("noop").mode("overwrite").save()
        counts["pricing_summary"] = count_jobs(sc, "pricing_summary.action")
        sc.setLocalProperty("spark.jobGroup.id", None)

        t0 = time.time()
        with tracer.span("outer") as outer:
            with tracer.span("groupby") as inner:
                spark.range(1000).selectExpr("id % 3 as k").groupBy("k").count().collect()
            spark.range(10).count()  # back in the outer span's group
            # a plain thread does not inherit the job group
            t = threading.Thread(target=lambda: spark.range(5).collect())
            t.start()
            t.join(timeout=120)
            assert not t.is_alive()
        window = (t0, time.time())
    finally:
        spark.stop()
    return tracer, read_event_log(log_dir), counts, outer, inner, read_event_log(log_dir, [window])


def test_job_counter_sees_pricing_summary_jobs(traced):
    _, _, counts, _, _, _ = traced
    assert counts["pricing_summary"] > 0


def test_groupby_attributed_to_its_span(traced):
    tracer, log, _, outer, inner, _ = traced
    t = log.totals({inner.sid})
    assert t.jobs >= 1 and t.stages >= 2 and t.shuffle_write_bytes > 0
    assert inner.parent == outer.sid and inner.jobs == t.jobs
    assert outer.jobs == log.totals({outer.sid}).jobs >= 1
    assert tracer.subtree_jobs()[outer.sid] == outer.jobs + inner.jobs


def test_jobs_that_lose_their_group_are_counted(traced):
    _, log, _, _, _, _ = traced
    assert log.totals({None}).jobs >= 1


def test_window_keeps_only_the_jobs_submitted_inside_it(traced):
    _, log, _, outer, inner, windowed = traced
    assert log.totals({"pricing_summary.action"}).jobs > 0
    assert windowed.totals({"pricing_summary.action"}).jobs == 0
    for sid in (outer.sid, inner.sid):
        assert windowed.totals({sid}).jobs == log.totals({sid}).jobs
    assert windowed.totals({inner.sid}).shuffle_write_bytes == log.totals({inner.sid}).shuffle_write_bytes


def test_busy_share_merges_overlaps():
    assert busy_share([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(0.4)
    assert busy_share([(-5, 1)], 0, 2) == pytest.approx(0.5)
    assert busy_share([], 0, 1) == 0.0
