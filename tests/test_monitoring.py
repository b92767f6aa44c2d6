"""Per-step monitoring (StepMonitor): engine-side observe() counters —
the reference's monitor_steps analog (`stepist/flow/workers/adapters/
simple_queue.py:69-88`), certified against exact row counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from stepist_spark.monitoring import StepMonitor
from stepist_spark.pipeline import Pipeline, Step


def test_step_monitor_counts_rows_per_step(spark):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("k")
    )
    pipe = (
        Pipeline()
        .add(lambda d: d.filter(F.col("id") >= 40), name="gate")
        .add(lambda d: d.groupBy("k").count(), name="agg")
    )
    mon = StepMonitor()
    out = mon.instrument(pipe).run(mon.observe_source(df))
    assert out.count() == 10
    s = mon.stats()
    assert s["source"]["rows_out"] == 100
    assert s["gate"]["rows_out"] == 60
    assert s["agg"]["rows_out"] == 10


def test_step_monitor_with_step_objects(spark):
    df = spark.range(50)
    pipe = Pipeline().add(
        Step(lambda d: d.filter(F.col("id") < 5), name="head5"), name="head5"
    )
    mon = StepMonitor()
    out = mon.instrument(pipe).run(df)
    rows = out.collect()
    assert len(rows) == 5
    assert mon.stats()["head5"]["rows_out"] == 5


def test_steps_keep_their_own_names(spark):
    # two lambda Steps share the __name__ "<lambda>"; each stage must be
    # named, and counted, by its Step's name
    pipe = Pipeline(
        [
            Step(lambda d: d.filter(F.col("id") < 30), name="a"),
            Step(lambda d: d.filter(F.col("id") < 7), name="b"),
        ]
    )
    mon = StepMonitor()
    mon.instrument(pipe).run(spark.range(50)).collect()
    s = mon.stats()
    assert set(s) == {"a", "b"}
    assert (s["a"]["rows_out"], s["b"]["rows_out"]) == (30, 7)


def test_monitor_adds_no_extra_jobs(spark):
    """observe() metrics ride the existing action: the instrumented run
    must not launch more jobs than the plain run."""
    sc = spark.sparkContext
    df = spark.range(10000).select(F.col("id"), (F.col("id") % 3).alias("k"))
    pipe = Pipeline().add(lambda d: d.groupBy("k").count(), name="agg")

    tracker = sc.statusTracker()
    sc.setJobGroup("mon_probe_plain", "plain run")
    try:
        pipe.run(df).collect()
    finally:
        sc.setJobGroup("", "")
    sc.setJobGroup("mon_probe", "monitored run")
    try:
        mon = StepMonitor()
        mon.instrument(pipe).run(df).collect()
        mon.stats()
    finally:
        sc.setJobGroup("", "")
    plain = tracker.getJobIdsForGroup("mon_probe_plain")
    monitored = tracker.getJobIdsForGroup("mon_probe")
    assert len(monitored) == len(plain), (monitored, plain)
