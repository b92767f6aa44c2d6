"""session.py helpers: the concurrent-build seam and spread(), which is
called where a gate reads its source and nowhere else; and the one way
the library materializes a frame (localCheckpoint)."""

from __future__ import annotations

import ast
import pathlib
import threading
import time

import pytest
from pyspark.sql import functions as F

import stepist_spark
from stepist_spark import session
from stepist_spark.operators import dedup, similarity, skew
from stepist_spark.pipeline import Hub, Step
from stepist_spark.session import build_concurrently, load_table, spread


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

    def test_runs_unwrapped_when_threads_are_not_pinned(self, spark, monkeypatch):
        # with PYSPARK_PIN_THREAD=false, inheritable_thread_target hands
        # back what it was given: here the session, which is not callable
        monkeypatch.setattr(session, "inheritable_thread_target", lambda f=None: f)
        assert build_concurrently(spark, [lambda: "a", lambda: "b"]) == ["a", "b"]


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


class TestSpreadAtTheSource:
    def test_operators_and_functions_never_spread(self):
        # spread() sees only input files, not a repartition already in the
        # plan: an operator that spreads its input re-shuffles a spread frame
        pkg = pathlib.Path(stepist_spark.__file__).parent
        offenders = []
        for sub in ("functions", "operators"):
            for path in sorted((pkg / sub).rglob("*.py")):
                for node in ast.walk(ast.parse(path.read_text())):
                    if isinstance(node, ast.alias):  # an import
                        name = node.name
                    elif isinstance(node, ast.Name):
                        name = node.id
                    elif isinstance(node, ast.Attribute):  # session.spread
                        name = node.attr
                    else:
                        continue
                    if name == "spread":
                        offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
        assert offenders == []

    def test_banded_signatures_plans_one_round_robin(self, spark, tmp_path):
        # one parquet file over 2 x 64 KiB: spread() repartitions it on
        # any session with 2+ cores, and the operator must not add more
        path = str(tmp_path / "docs")
        words = [F.md5((F.col("id") * 7 + i).cast("string")) for i in range(8)]
        spark.range(3000).select(
            F.col("id").alias("doc_id"), F.concat_ws(" ", *words).alias("text")
        ).coalesce(1).write.parquet(path)
        (data,) = pathlib.Path(path).glob("*.parquet")
        assert data.stat().st_size > 128 * 1024
        out = dedup.banded_signatures(spread(spark.read.parquet(path)), "doc_id", "text")
        assert len(out.collect()) == 3000 * 4  # one row per (doc, band)
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("RoundRobinPartitioning") == 1, final


class TestMaterializeAtTheSource:
    def test_persist_only_in_incremental(self):
        # persist() needs a known release point; the streaming batch's
        # try/finally is the only one, everything else localCheckpoints
        pkg = pathlib.Path(stepist_spark.__file__).parent
        offenders = []
        for path in sorted(pkg.rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "cache")
                ):
                    offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
        assert [o.split(":")[0] for o in offenders] == ["streaming/incremental.py"], offenders

    def test_operators_leave_the_cache_manager_empty(self, spark, sf_dir):
        # a persisted frame stays registered with the CacheManager until
        # someone unpersists it, across runs; a localCheckpoint does not
        cache = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        li = load_table(spark, sf_dir, "lineitem")
        docs = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        runs = {
            "Hub.union": lambda: Hub(
                Step(lambda d: d.groupBy("l_returnflag").count(), name="c"),
                Step(lambda d: d.agg(F.sum("l_quantity").alias("q")), name="q"),
            ).union(li),
            "skew_report": lambda: skew.skew_report(li, "l_suppkey"),
            "minhash_lsh_candidates": lambda: dedup.minhash_lsh_candidates(
                docs, "doc_id", "text"
            ),
            "embedding_near_dups": lambda: similarity.embedding_near_dups(emb),
        }
        for name, run in runs.items():
            run().collect()
            assert cache.isEmpty(), name


class TestDrainInOnePlace:
    @staticmethod
    def _attribute_sites(*attrs: str) -> dict[str, set[str]]:
        pkg = pathlib.Path(stepist_spark.__file__).parent
        sites: dict[str, set[str]] = {}
        for path in sorted(pkg.rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, ast.Attribute):
                    name = node.attr
                    if name == "sleep" and not (
                        isinstance(node.value, ast.Name) and node.value.id == "time"
                    ):
                        continue
                elif isinstance(node, ast.alias) and node.name == "sleep":
                    name = "sleep"  # from time import sleep
                else:
                    continue
                if name in attrs:
                    sites.setdefault(name, set()).add(str(path.relative_to(pkg)))
        return sites

    def test_streams_are_waited_on_only_in_runtime(self):
        # runtime.drain / stop_when are the one wait loop: a hand-rolled
        # poll elsewhere loses the loud timeout and the stop-the-rest
        sites = self._attribute_sites(
            "awaitTermination", "isActive", "recentProgress", "lastProgress", "sleep"
        )
        offenders = {f for files in sites.values() for f in files}
        assert offenders == {"streaming/runtime.py"}, sites

    def test_sinks_start_only_in_writers_and_runtime(self):
        sites = self._attribute_sites("writeStream")
        assert sites["writeStream"] == {"sources/writers.py", "streaming/runtime.py"}


class TestRankInOnePlace:
    def test_ranks_are_cut_only_in_grouped_topk(self):
        # operators.topk.grouped_topk is the one rank-and-cut: a chain
        # written out elsewhere drifts in tiebreak and in the rank's type
        # (a cast rank hides the cut from Spark's WindowGroupLimit). Flags
        # .filter/.where called directly on a .withColumn(name, expr)
        # whose expr contains row_number
        pkg = pathlib.Path(stepist_spark.__file__).parent
        sites = []
        for path in sorted(pkg.rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                inner = getattr(node, "func", None)
                if not (
                    isinstance(inner, ast.Attribute) and inner.attr in ("filter", "where")
                ):
                    continue
                wc = inner.value
                if (
                    isinstance(wc, ast.Call)
                    and isinstance(wc.func, ast.Attribute)
                    and wc.func.attr == "withColumn"
                    and len(wc.args) >= 2
                    and any(
                        getattr(n, "attr", getattr(n, "id", None)) == "row_number"
                        for n in ast.walk(wc.args[1])
                    )
                ):
                    sites.append(f"{path.relative_to(pkg)}:{node.lineno}")
        assert [s.split(":")[0] for s in sites] == ["operators/topk.py"], sites
