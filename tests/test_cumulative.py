"""operators/cumulative.py — the scale-safe global-order primitives.

Every function must be BIT-IDENTICAL to the naive single-task window
it replaces (the round-6 verdict's at-scale finding: ungrouped
cumulative windows over value-counts frames collapse to one task at
100 TB; these re-platform them onto the partition-offset pattern).
"""

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from stepist_spark.operators.cumulative import (
    global_ntile,
    global_row_number,
    ordered_cumsum,
    whole_frame,
)


@pytest.fixture(scope="module")
def frame(spark):
    rng = random.Random(11)
    rows = [
        (k, rng.randint(0, 9), rng.randint(1, 50))
        for k in rng.sample(range(100000), 1213)
    ]
    return spark.createDataFrame(rows, "k bigint, a bigint, c bigint").repartition(7)


class TestOrderedCumsum:
    def test_matches_naive_window_with_totals(self, spark, frame):
        wo = Window.partitionBy().orderBy("k").rowsBetween(
            Window.unboundedPreceding, 0
        )
        ref = sorted(
            map(
                tuple,
                frame.select(
                    "k",
                    F.sum("c").over(wo).alias("cum_c"),
                    F.sum("a").over(wo).alias("cum_a"),
                    F.sum("c").over(Window.partitionBy()).alias("t_c"),
                    F.sum("a").over(Window.partitionBy()).alias("t_a"),
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                ordered_cumsum(frame, "k", ["c", "a"], tot_prefix="t_")
                .select("k", "cum_c", "cum_a", "t_c", "t_a")
                .collect(),
            )
        )
        assert got == ref

    def test_preserves_decimal_type(self, spark, frame):
        d = frame.select("k", F.col("c").cast("decimal(38,0)").alias("c"))
        out = ordered_cumsum(d, "k", ["c"], tot_prefix="t_")
        assert dict(out.dtypes)["cum_c"].startswith("decimal")

    def test_empty_input(self, spark, frame):
        assert ordered_cumsum(frame.filter("k < 0"), "k", ["c"]).count() == 0

    def test_plan_has_no_unpartitioned_window(self, spark, frame):
        """The whole point: every Window in the physical plan carries a
        partition spec (either _pid or the explicit bounded lit key)."""
        plan = (
            ordered_cumsum(frame, "k", ["c"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for line in plan.splitlines():
            if "Window [" in line:
                assert "windowspecdefinition(" in line
                spec = line.split("windowspecdefinition(")[1]
                # first element of the spec must be a partition key,
                # not the frame marker that an empty spec starts with
                assert not spec.startswith("specifiedwindowframe"), line


class TestGlobalRowNumber:
    def test_matches_naive_row_number(self, spark, frame):
        ref = sorted(
            map(
                tuple,
                frame.select(
                    "k",
                    F.row_number()
                    .over(Window.partitionBy().orderBy("k"))
                    .alias("rn"),
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                global_row_number(frame, "k", out_col="rn", tot_col="n")
                .select("k", "rn")
                .collect(),
            )
        )
        assert got == ref

    def test_total_column(self, spark, frame):
        n = frame.count()
        out = global_row_number(frame, "k", tot_col="n").select("n").distinct()
        assert [r["n"] for r in out.collect()] == [n]

    def test_multi_column_order(self, spark, frame):
        ref = sorted(
            map(
                tuple,
                frame.select(
                    "k",
                    F.row_number()
                    .over(Window.partitionBy().orderBy("a", "k"))
                    .alias("rn"),
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                global_row_number(frame, ["a", "k"], out_col="rn")
                .select("k", "rn")
                .collect(),
            )
        )
        assert got == ref


class TestGlobalNtile:
    @pytest.mark.parametrize("n", [1, 3, 4, 10, 1213, 2000])
    def test_matches_spark_ntile(self, spark, frame, n):
        ref = sorted(
            map(
                tuple,
                frame.select(
                    "k",
                    F.ntile(n).over(Window.partitionBy().orderBy("k")).alias("t"),
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                global_ntile(frame, "k", n, out_col="t").select("k", "t").collect(),
            )
        )
        assert got == ref


class TestWholeFrame:
    def test_keeps_partition_key_and_result(self, spark, frame):
        d = frame.limit(50)
        ref = d.select(F.sum("c").over(Window.partitionBy()).alias("t"))
        got = d.select(F.sum("c").over(whole_frame()).alias("t"))
        assert sorted(r["t"] for r in got.collect()) == sorted(
            r["t"] for r in ref.collect()
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        # the explicit lit key must SURVIVE optimization (the session
        # excludes EliminateWindowPartitions) — that is what keeps
        # "WARN WindowExec: No Partition Defined" meaningful
        for line in plan.splitlines():
            if "Window [" in line:
                spec = line.split("windowspecdefinition(")[1]
                assert not spec.startswith("specifiedwindowframe"), line


class TestGroupedFrame:
    """Round-7 verdict #3: a caller-supplied EMPTY group list must not
    silently rebuild the bare unpartitioned window."""

    def test_empty_groups_route_to_lit_key(self, spark, frame):
        from stepist_spark.operators.cumulative import grouped_frame
        from stepist_spark.plans import unpartitioned_windows

        d = frame.limit(60)
        got = d.select(F.sum("c").over(grouped_frame([])).alias("t"))
        ref = d.select(F.sum("c").over(Window.partitionBy()).alias("t"))
        assert sorted(r["t"] for r in got.collect()) == sorted(
            r["t"] for r in ref.collect()
        )
        assert unpartitioned_windows(got) == []
        assert unpartitioned_windows(ref) == ["Window"]  # the shape we ban

    def test_nonempty_groups_unchanged(self, spark, frame):
        from stepist_spark.operators.cumulative import grouped_frame

        got = frame.select(
            "a", F.sum("c").over(grouped_frame(["a"], F.col("k").asc())).alias("s")
        )
        ref = frame.select(
            "a",
            F.sum("c")
            .over(Window.partitionBy("a").orderBy(F.col("k").asc()))
            .alias("s"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))

    def test_require_groups_raises_with_context(self):
        from stepist_spark.operators.cumulative import require_groups

        with pytest.raises(ValueError, match="myop.*ONE task"):
            require_groups([], "myop", "use the global twin")
        assert require_groups(("a", "b"), "myop", "-") == ["a", "b"]


class TestMaterializeSeam:
    """Round-7 verdict #4: the cumulative primitives expose how their
    multi-pass input is cached — a lazy localCheckpoint by default, or
    nothing when the caller already materialized it."""

    def test_none_skips_materialization(self, spark):
        fresh = spark.createDataFrame(
            [(i,) for i in range(977)], "k bigint"
        ).repartition(5)
        out = global_row_number(fresh, "k", materialize="none")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan and "Checkpoint" not in plan
        rns = sorted(r["rn"] for r in out.collect())
        assert rns == list(range(1, 978))

    def test_invalid_mode_raises(self, spark, frame):
        for mode in ("eager", "persist"):
            with pytest.raises(ValueError, match="materialize"):
                ordered_cumsum(frame, "k", ["c"], materialize=mode)
