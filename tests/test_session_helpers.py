"""session.py helpers: the concurrent-build seam and spread()'s size probe."""

from __future__ import annotations

import threading
import time

import pytest

from stepist_spark.session import build_concurrently, spread


class TestBuildConcurrently:
    def test_jobs_carry_the_callers_job_group(self, spark):
        # a plain thread pool drops the caller's local properties, so
        # jobs run from its threads belong to no group
        sc = spark.sparkContext
        group = "build_concurrently_job_group"
        sc.setJobGroup(group, "seam test")
        try:
            build_concurrently(
                spark, [lambda: spark.range(10).count(), lambda: spark.range(20).count()]
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2

    def test_results_in_thunk_order(self, spark):
        def later(v, delay):
            return lambda: (time.sleep(delay), v)[1]

        thunks = [later("a", 0.3), later("b", 0.0), later("c", 0.1), later("d", 0.0)]
        assert build_concurrently(spark, thunks) == ["a", "b", "c", "d"]

    def test_first_failing_thunk_raises_after_all_finish(self, spark):
        finished = threading.Event()

        def slow_fail():
            time.sleep(0.2)
            raise KeyError("first")

        def fast_fail():
            raise ValueError("second")

        def slow_ok():
            time.sleep(0.3)
            finished.set()

        with pytest.raises(KeyError, match="first"):
            build_concurrently(spark, [slow_fail, fast_fail, slow_ok])
        assert finished.is_set()


def test_spread_sizes_percent_encoded_paths(spark, tmp_path):
    # inputFiles() returns URIs, so a directory named 'sp ace' comes back
    # as 'sp%20ace'; the size probe must still find the file and keep a
    # tiny table on one partition, exactly as from a plain path
    for name in ("plain", "sp ace"):
        path = str(tmp_path / name / "t")
        spark.range(1000).coalesce(1).write.parquet(path)
        small = spark.read.parquet(path)
        assert small.rdd.getNumPartitions() == 1
        assert spread(small).rdd.getNumPartitions() == 1, name
