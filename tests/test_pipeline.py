"""Pipeline/Step API semantics — the reference's five README flows
re-expressed over DataFrames (fixtures F1-F5, FIXTURES.md)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stepist_spark.pipeline import (
    Engine,
    FlowResult,
    Hub,
    Pipeline,
    StopFlowFlag,
)


@pytest.fixture()
def engine(spark):
    return Engine(spark)


def kv_numeric(spark):
    return spark.createDataFrame(
        [(1, 5, 5), (2, 3, 1), (3, -2, 4), (4, 0, 0)], "id long, a long, b long"
    )


class TestLinearFlow:
    """F1: arithmetic two-step flow (`README.markdown:48-64`):
    step1 → {a_plus_b, a_minus_b}; step2 → {result}."""

    def test_two_step_flow(self, engine, spark):
        @engine.step()
        def step2(df):
            return df.select(
                "id", (F.col("a_plus_b") * F.col("a_minus_b")).alias("result")
            )

        @engine.step(next_step=step2, save_result=True)
        def step1(df):
            return df.select(
                "id",
                (F.col("a") + F.col("b")).alias("a_plus_b"),
                (F.col("a") - F.col("b")).alias("a_minus_b"),
            )

        result = step1(kv_numeric(spark))
        assert isinstance(result, FlowResult)
        assert set(result) == {"step1", "step2"}
        rows = {r.id: r.result for r in result.step2.collect()}
        assert rows == {1: 0, 2: 8, 3: -12, 4: 0}
        # save_result grafts the intermediate (reference step.py:100-105)
        assert "a_plus_b" in result.step1.columns

    def test_flow_is_one_lazy_plan(self, engine, spark):
        """Chaining composes a single Catalyst plan: the final plan's
        parquet-free logical tree contains both steps' expressions."""

        @engine.step()
        def last(df):
            return df.filter(F.col("x") > 1)

        @engine.step(next_step=last)
        def first(df):
            return df.select((F.col("id") + 1).alias("x"))

        out = first(spark.range(10)).last
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        # filter on x>1 folds onto the projection — one plan, no barrier
        assert "Range" in plan


class TestFilterSemantics:
    """StopFlowFlag ≙ declarative filter (`stepist/flow/utils.py:8-12`)."""

    def test_stop_flow_flag(self, engine, spark):
        @engine.step()
        def drop_negatives(df):
            raise StopFlowFlag(F.col("a") < 0, reason="negative a")

        out = drop_negatives(kv_numeric(spark))
        assert [r.id for r in out.drop_negatives.orderBy("id").collect()] == [1, 2, 4]

    def test_stop_flow_flag_without_condition_raises(self, engine, spark):
        @engine.step()
        def bad(df):
            raise StopFlowFlag()

        with pytest.raises(ValueError):
            bad(kv_numeric(spark))


class TestHub:
    """F3: Hub fan-out (`stepist/flow/steps/hub.py:5-14`): branches see
    the same upstream; results merge with last-branch-wins."""

    def test_hub_branches(self, engine, spark):
        @engine.step()
        def sums(df):
            return df.select(F.sum("a").alias("total_a"))

        @engine.step()
        def counts(df):
            return df.select(F.count("id").alias("n"))

        @engine.step(next_step=Hub(sums, counts))
        def source(df):
            return df

        result = source(kv_numeric(spark))
        assert result.sums.collect()[0].total_a == 6
        assert result.counts.collect()[0].n == 4

    def test_hub_union(self, engine, spark):
        @engine.step()
        def tag_a(df):
            return df.select("id", F.lit("a").alias("branch"))

        @engine.step()
        def tag_b(df):
            return df.select("id", F.lit("b").alias("branch"))

        hub = Hub(tag_a, tag_b)
        merged = hub.union(kv_numeric(spark))
        assert merged.count() == 8

    def test_hub_collision_last_branch_wins(self, engine, spark):
        """dict.update merge semantics (`next_step.py:50-54`)."""

        @engine.step(name="same")
        def branch1(df):
            return df.select(F.lit(1).alias("v"))

        b2 = engine.step(name="same2")(lambda df: df.select(F.lit(2).alias("v")))
        b2.name = "same"  # simulate name collision
        result = Hub(branch1, b2)(kv_numeric(spark))
        assert result["same"].collect()[0].v == 2


class TestFactoryStep:
    """F2: factory/flatMap fan-out (`factory_step.py:19-31`)."""

    def test_explode_fanout(self, engine, spark):
        @engine.step()
        def count_tokens(df):
            return df.groupBy("token").agg(F.count(F.lit(1)).alias("n"))

        @engine.factory_step(explode_col="tokens", alias="token", next_step=count_tokens)
        def tokenize(df):
            return df.select(F.split(F.col("text"), " ").alias("tokens"))

        df = spark.createDataFrame([("a b a",), ("b c",)], "text string")
        out = tokenize(df).count_tokens
        counts = {r.token: r.n for r in out.collect()}
        assert counts == {"a": 2, "b": 2, "c": 1}


class TestReducer:
    """F3 barrier reduce: collect_list per hub_job_id; incomplete groups
    produce no row (`reducer_engine.py:21-80`, TTL-drop)."""

    def _hub_data(self, spark):
        rows = [
            ("job1:3", 0, "p0"), ("job1:3", 1, "p1"), ("job1:3", 2, "p2"),
            ("job2:3", 0, "q0"), ("job2:3", 1, "q1"),  # incomplete
        ]
        df = spark.createDataFrame(rows, "hub_job_id string, branch int, payload string")
        return df.withColumn(
            "expected_n",
            F.split(F.col("hub_job_id"), ":").getItem(1).cast("int"),
        )

    def test_barrier_drops_incomplete_groups(self, engine, spark):
        reducer = engine.reducer_step(
            "hub_job_id", payload_cols=["payload"], expected_count="expected_n"
        )
        out = reducer.transform(self._hub_data(spark))
        rows = out.collect()
        assert len(rows) == 1
        assert rows[0].hub_job_id == "job1:3"
        assert sorted(x.payload for x in rows[0].job_list) == ["p0", "p1", "p2"]

    def test_per_group_expected_count_column(self, engine, spark):
        """N read per group from a column, in the collecting aggregate
        (one shuffle, no second groupBy joined back): a group whose row
        count reaches its own N fires, one short of it does not, and a
        null N never fires."""
        rows = [
            ("a", 2, "a0"), ("a", 2, "a1"),              # complete at N=2
            ("b", 4, "b0"), ("b", 4, "b1"), ("b", 4, "b2"),  # 3 of 4
            ("c", None, "c0"),                           # unknown N
        ]
        df = spark.createDataFrame(rows, "job string, n int, payload string")
        reducer = engine.reducer_step("job", payload_cols=["payload"], expected_count="n")
        out = reducer.transform(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and plan.count("Exchange hashpartitioning") == 1, plan
        assert out.columns == ["job", "job_list"]
        got = {r.job: sorted(x.payload for x in r.job_list) for r in out.collect()}
        assert got == {"a": ["a0", "a1"]}

    def test_reduce_fn_applies_per_group(self, engine, spark):
        def reduce_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            # one row per complete group; vectorized over the batch
            return pd.DataFrame(
                {
                    "hub_job_id": pdf["hub_job_id"],
                    "joined": [
                        ",".join(sorted(p["payload"] for p in jl))
                        for jl in pdf["job_list"]
                    ],
                }
            )

        reducer = engine.reducer_step(
            "hub_job_id",
            payload_cols=["payload"],
            expected_count="expected_n",
            reduce_fn=reduce_fn,
            reduce_schema="hub_job_id string, joined string",
            name="reducer2",
        )
        out = reducer.transform(self._hub_data(spark)).collect()
        assert out[0].joined == "p0,p1,p2"

    def test_global_expected_count(self, engine, spark):
        reducer = engine.reducer_step(
            "hub_job_id", payload_cols=["payload"], expected_count=3, name="reducer3"
        )
        out = reducer.transform(self._hub_data(spark))
        assert out.count() == 1


class TestPipeline:
    def test_forward_composition(self, spark):
        pipe = (
            Pipeline()
            | (lambda df: df.filter(F.col("id") % 2 == 0))
            | (lambda df: df.select((F.col("id") * 10).alias("x")))
        )
        out = pipe.run(spark.range(10))
        assert sorted(r.x for r in out.collect()) == [0, 20, 40, 60, 80]

    def test_map_in_pandas_stage(self, spark):
        eng = Engine(spark)

        def double_gen(batches):
            for pdf in batches:
                pdf["doubled"] = pdf["id"] * 2
                yield pdf

        stage = eng.map_in_pandas(double_gen, schema="id long, doubled long")
        out = Pipeline([stage]).run(spark.range(5))
        assert sorted(r.doubled for r in out.collect()) == [0, 2, 4, 6, 8]


class TestMetaPropagation:
    """Reference: thread-local meta_data travels with every job
    (`stepist/flow/session.py:6-75`); here it's a struct column."""

    def test_meta_travels_through_transformations(self, spark):
        from stepist_spark.pipeline import meta_value, with_meta

        df = with_meta(spark.range(5), run_id="r1", attempt=1)
        out = (
            df.filter(F.col("id") > 1)
            .withColumn("double", F.col("id") * 2)
            .select("double", meta_value(df, "run_id").alias("rid"))
        )
        rows = out.collect()
        assert all(r["rid"] == "r1" for r in rows) and len(rows) == 3

    def test_meta_merge_later_wins(self, spark):
        from stepist_spark.pipeline import meta_value, with_meta

        df = with_meta(with_meta(spark.range(2), a="x", b="y"), b="z")
        (r, _) = df.select(meta_value(df, "a").alias("a"), meta_value(df, "b").alias("b")).collect()
        assert (r["a"], r["b"]) == ("x", "z")


class TestHubPruningPassthrough:
    def test_filter_branch_keeps_passthrough_columns(self, spark):
        """A branch that only filters outputs EVERY upstream column."""
        from pyspark.sql import functions as F

        from stepist_spark.pipeline import Hub, Step

        up = spark.createDataFrame(
            [(1, 2, "x"), (5, 6, "y")], "a long, b long, c string"
        )
        hub = Hub(
            Step(lambda d: d.filter(F.col("a") > 2), name="filt"),
            Step(lambda d: d.groupBy("b").count(), name="agg"),
        )
        res = hub(up)
        assert res["filt"].columns == ["a", "b", "c"]
        assert [tuple(r) for r in res["filt"].collect()] == [(5, 6, "y")]

    def test_nested_hub_probe_does_not_pin(self, spark):
        """A Hub inside another Hub's branch computes its branches on the
        upstream it is handed, and nothing is cached."""
        from stepist_spark import pipeline as P

        up = spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")
        inner = P.Hub(
            P.Step(lambda d: d.select("a"), name="ia"),
            P.Step(lambda d: d.select("b"), name="ib"),
        )

        def outer_branch(d):
            r = inner(d)
            return r["ia"].unionByName(r["ib"].withColumnRenamed("b", "a"))

        outer = P.Hub(
            P.Step(outer_branch, name="nest"),
            P.Step(lambda d: d.groupBy().sum("a"), name="s"),
        )
        res = outer(up)
        assert res["nest"].count() == 4


class TestHubThreadSafety:
    """Two driver threads building Hub flows concurrently is a normal
    Spark pattern; the Hub holds no module-level state to race on."""

    def test_concurrent_hubs_keep_pin_list_consistent(self, spark):
        """N threads racing Hub invocations: every thread's flow must
        compute."""
        import threading

        from stepist_spark import pipeline as P

        errors: list = []

        def run(i: int):
            try:
                up = spark.range(50 + i).select(
                    (F.col("id") % 5).alias("k"), F.col("id").alias("v")
                )
                h = P.Hub(
                    P.Step(lambda d: d.groupBy("k").count(), name=f"c{i}"),
                    P.Step(lambda d: d.agg(F.sum("v").alias("s")), name=f"s{i}"),
                )
                out = h.union(up)
                assert out.count() == 6
            except Exception as e:  # pragma: no cover
                errors.append(e)

        threads = [threading.Thread(target=run, args=(i,)) for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
