"""Physical-plan regression tests: pin the plan SHAPES that make the
headline queries scale — broadcast dimension joins, predicate pushdown
into the parquet scan, column pruning, map-side partial aggregation,
per-partition top-k. A refactor that silently turns the star join into
a sort-merge join or widens a scan fails here, long before it fails a
100 TB run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stepist_spark import plans
from stepist_spark.queries import all_queries
from stepist_spark.session import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return all_queries()


class TestHubScanWidth:
    def test_branch_scans_prune_columns(self, spark):
        """The Hub caches nothing, so each branch's scan reads only the
        columns that branch uses — the full-width fact table is never
        read or stored for a two-column fan-out."""
        from stepist_spark.pipeline import Hub, Step

        li = load_table(spark, SF, "lineitem")
        qty = Step(
            lambda df: df.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q")),
            name="q",
        )
        cnt = Step(lambda df: df.groupBy("l_returnflag").count(), name="c")
        out = Hub(qty, cnt).union(li)
        assert "InMemoryTableScan" not in plans.explain_str(out)
        scans = sorted(sorted(c) for c in plans.scan_columns(out))
        assert scans == [["l_quantity", "l_returnflag"], ["l_returnflag"]], scans
        got = {r["l_returnflag"]: r["q"] for r in out.filter(F.col("q").isNotNull()).collect()}
        want = {
            r["l_returnflag"]: r["want"]
            for r in li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("want")).collect()
        }
        assert got == want


class TestJoinStrategies:
    def test_star_join_broadcasts_dimensions(self, spark, qs):
        """q03 joins lineitem against 4 dimension tables — every one of
        those joins must be a broadcast, never a shuffle of the fact."""
        from stepist_spark.queries.relational import q03_revenue_by_nation

        df = q03_revenue_by_nation(spark, SF)
        strategies = plans.join_strategies(df)
        assert strategies, "expected joins in the q03 plan"
        assert all(s == "BroadcastHashJoin" for s in strategies), strategies

    def test_topk_uses_per_partition_heaps(self, spark, qs):
        """orderBy().limit(k) must plan as TakeOrderedAndProject (local
        heaps + single merge), not a global sort."""
        from stepist_spark.queries.relational import q02_top_orders

        summary = plans.plan_summary(q02_top_orders(spark, SF))
        assert summary["has_take_ordered"], summary

    def test_lsh_self_join_is_equi_join(self, spark):
        """The LSH candidate join must be hash-based on the band key —
        a nested-loop or cartesian plan would be |docs|² at scale."""
        from stepist_spark.operators import dedup
        from stepist_spark.queries.llm_text import BANDS, N_HASHES, _docs_with_near_dups

        cands = dedup.minhash_lsh_candidates(
            _docs_with_near_dups(spark, SF), "doc_id", "text", N_HASHES, BANDS
        )
        strategies = plans.join_strategies(cands)
        assert strategies
        assert not any(
            s in ("BroadcastNestedLoopJoin", "CartesianProduct") for s in strategies
        ), strategies

    def test_vector_lsh_self_join_is_equi_join(self, spark):
        """The banded sign-LSH candidate self-join (embedding near-dups)
        must hash-join on (band, sig) — the round-1 single-table form
        risked quadratic within-bucket blowup; the banded plan must
        stay an equi-join, and the signatures must come from ONE
        vectorized Arrow eval, not per-plane interpreted dots."""
        from stepist_spark.operators import similarity

        emb = load_table(spark, SF, "embeddings")
        nd = similarity.embedding_near_dups(emb, "vec_id", "embedding")
        strategies = plans.join_strategies(nd)
        assert strategies
        assert not any(
            s in ("BroadcastNestedLoopJoin", "CartesianProduct") for s in strategies
        ), strategies
        # the banded frame is checkpointed, so its Arrow eval lives in
        # the signature frame's plan, under the checkpoint boundary
        assert "ExistingRDD" in plans.explain_str(nd)
        sigs = similarity.lsh_band_signatures(emb, "vec_id", "embedding", 4, 16)
        phys = sigs._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in phys, "banded signatures should be one Arrow eval"


class TestScanHygiene:
    def test_filter_pushdown_reaches_scan(self, spark):
        li = load_table(spark, SF, "lineitem")
        df = li.filter(F.col("l_quantity") > 30).select("l_orderkey")
        pushed = plans.pushed_filters(df)
        assert any("l_quantity" in p for p in pushed), pushed

    def test_column_pruning_reaches_scan(self, spark):
        li = load_table(spark, SF, "lineitem")
        df = li.select("l_orderkey", "l_quantity")
        (cols,) = plans.scan_columns(df)
        assert set(cols) == {"l_orderkey", "l_quantity"}, cols

    def test_q06_scan_reads_only_needed_columns(self, spark, qs):
        """TPC-H Q6 touches 4 columns; the scan must not read the other
        12 — at 100 TB that's the difference between 25 TB and 100 TB
        of IO."""
        from stepist_spark.queries.relational import q06_forecast_revenue

        df = q06_forecast_revenue(spark, SF)
        scans = plans.scan_columns(df)
        assert scans and all(len(c) <= 4 for c in scans), scans


class TestAggregation:
    def test_partial_aggregation_before_shuffle(self, spark, qs):
        assert plans.has_partial_aggregate(qs["q01_pricing_summary"].spark(spark, SF))

    def test_pipeline_flow_is_single_plan(self, spark):
        """Chaining steps must compose one Catalyst plan: the filter
        declared in a LATER step reaches the scan of the first."""
        from stepist_spark.pipeline import Pipeline

        li = load_table(spark, SF, "lineitem")
        pipe = (
            Pipeline()
            .add(lambda df: df.select("l_orderkey", "l_quantity", "l_returnflag"))
            .add(lambda df: df.filter(F.col("l_quantity") > 30))
            .add(lambda df: df.groupBy("l_returnflag").count())
        )
        out = pipe.run(li)
        pushed = plans.pushed_filters(out)
        assert any("l_quantity" in p for p in pushed), pushed
        (cols,) = plans.scan_columns(out)
        assert set(cols) == {"l_orderkey", "l_quantity", "l_returnflag"} or set(cols) == {
            "l_quantity",
            "l_returnflag",
        }, cols


class TestBucketing:
    def test_bucketed_tables_join_without_shuffle(self, spark, tmp_path):
        """Two tables bucketed identically on the join key must join
        with NO exchange — the layout lever `sources.write(bucket_by=)`
        exists for. At 100 TB this is the difference between re-shuffling
        both sides per join and reading pre-shuffled data."""
        from stepist_spark.sources import write

        li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
        orders = (
            load_table(spark, SF, "orders")
            .select("o_orderkey", "o_totalprice")
            .withColumnRenamed("o_orderkey", "l_orderkey")
        )
        for name, df in [("t_bkt_li", li), ("t_bkt_ord", orders)]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            write(
                df,
                path=str(tmp_path / name),
                mode="overwrite",
                bucket_by=(4, "l_orderkey"),
                sort_by="l_orderkey",
                table=name,
            )
        # force the shuffle path (tiny test tables would broadcast and
        # hide the bucketing effect we're asserting)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_bkt_li").join(spark.table("t_bkt_ord"), "l_orderkey")
            plan = plans.explain_str(joined)
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            # sanity: the join still computes the right thing
            expected = li.join(orders, "l_orderkey").count()
            assert joined.count() == expected
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


class TestCatalogHygiene:
    """Sweep EVERY registered query's physical plan for the operators
    that do not survive scale. CartesianProduct is |n|×|m| with no
    pruning; BroadcastNestedLoopJoin is acceptable ONLY where a query
    deliberately scans the corpus against a broadcast side (brute-force
    similarity, range-band joins)."""

    # queries whose semantics genuinely need a nested-loop against a
    # broadcast side (documented scale story: small side is broadcast)
    BNLJ_ALLOWED = {
        "v01_cosine_topk",      # brute-force baseline: corpus × broadcast queries
        "c02_knn_label_vote",   # built on the same brute-force baseline (v01)
        "q18_temporal_joins",   # band dim broadcast range + as-of broadcast dim
        "v05_ivf_topk",         # centroid cross-score: corpus × broadcast centroids
        "v07_pq_topk",          # ADC table build: queries × broadcast codebook
        "v08_semantic_dedup",   # ivf_assign: corpus × broadcast centroids
        "q24_subquery_suite",   # NOT-IN-with-NULL = null-aware anti-join, planned
                                # as BNLJ against the broadcast (tiny) subquery side
        "t23_model_gates",      # broadcast 1-row vocab-size cross join
        "t25_resample_shuffle", # broadcast 1-row group-min cross join
        "t16_vocabulary",       # BM25: broadcast 1-row corpus-stats cross join
        "t19_frequent_tokens",  # coverage_curve: |ks| probes × broadcast 1-row
                                # vocab-total cross join (the probe join itself
                                # is a broadcast HASH equi-join)
        "q04_semi_anti_join",   # fk_report: broadcast 1-row count cross joins
        "q36_salted_agg",       # skew_report: broadcast 1-row grand-total cross
                                # join onto the ≤top_n heavy-hitter rows (the
                                # round-7 TakeOrdered re-platform of the old
                                # single-task ranking window)
        "q21_approx_sketches",  # hll_pair_intersections: |labels|² pair build
                                # (≤ tens of rows) + broadcast 1-row totals
        "q09_grouping_multi",   # target_encode: broadcast 1-row global-prior
                                # cross join onto the |categories| frame
        "q25_percentile_histogram",  # psi_drift: broadcast ≤n_bins edge table
                                     # range-joined onto comparison value counts
        "v03_embedding_near_dups",   # mutual-NN: brute_force_topk's broadcast
                                     # queries × spread corpus scan (v01 shape)
        # t18 deliberately NOT listed: bloom_probe's word-table probes
        # are broadcast HASH joins — the hygiene sweep guards that
    }

    def test_no_cartesian_products_anywhere(self, spark, qs):
        offenders = []
        for name, spec in sorted(qs.items()):
            if name.startswith("s0"):
                continue  # starts a streaming query; shape covered in test_streaming
            strategies = plans.join_strategies(spec.spark(spark, SF))
            if "CartesianProduct" in strategies:
                offenders.append(name)
        assert not offenders, offenders

    def test_nested_loop_joins_only_where_allowed(self, spark, qs):
        offenders = []
        for name, spec in sorted(qs.items()):
            if name.startswith("s0") or name in self.BNLJ_ALLOWED:
                continue
            strategies = plans.join_strategies(spec.spark(spark, SF))
            if "BroadcastNestedLoopJoin" in strategies:
                offenders.append(name)
        assert not offenders, offenders


def _bare_partitionby_sites(source: str, path: str = "<str>") -> list[str]:
    """AST-level lint: every ``Window.partitionBy()`` call with zero
    arguments (docstrings/comments don't count — the AST sees only
    code). The runtime empty-splat variant (``partitionBy(*[])``) is
    covered by grouped_frame/require_groups unit tests instead."""
    import ast

    sites = []
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "partitionBy"
            and not node.args
            and not node.keywords
        ):
            v = node.func.value
            base = getattr(v, "id", None) or getattr(v, "attr", None)
            if base == "Window":
                sites.append(f"{path}:{node.lineno}")
    return sites


class TestWindowHygiene:
    """Round-7 verdict #2: make the 'zero bare Window.partitionBy()'
    invariant a TEST, not a grep — (a) a source lint over the package,
    (b) a plan sweep asserting every Window node in every registered
    gate carries a partition spec, (c) planted regressions proving
    both detectors fire."""

    def test_no_bare_window_partitionby_in_source(self):
        import pathlib

        root = pathlib.Path(__file__).resolve().parents[1] / "stepist_spark"
        offenders = []
        for path in sorted(root.rglob("*.py")):
            offenders += _bare_partitionby_sites(path.read_text(), str(path))
        assert not offenders, offenders

    def test_lint_flags_planted_regression(self):
        planted = (
            "from pyspark.sql import Window\n"
            "w = Window.partitionBy().orderBy('x')\n"
            "ok = Window.partitionBy('k').orderBy('x')\n"
            's = "Window.partitionBy() in a string does not count"\n'
        )
        assert _bare_partitionby_sites(planted) == ["<str>:2"]

    def test_all_gates_windows_carry_partition_spec(self, spark, qs):
        """Every Window/WindowGroupLimit node across every registered
        batch gate must carry a partition spec — the runtime twin of
        the source lint (catches empty-splat and third-party shapes
        the AST pass can't see)."""
        offenders = []
        for name, spec in sorted(qs.items()):
            if name.startswith("s0"):
                continue  # starts streaming queries; covered in test_streaming
            bad = plans.unpartitioned_windows(spec.spark(spark, SF))
            if bad:
                offenders.append((name, bad))
        assert not offenders, offenders

    def test_plan_detector_flags_planted_regression(self, spark):
        from pyspark.sql import Window

        bad = spark.range(32).withColumn(
            "rn", F.row_number().over(Window.partitionBy().orderBy("id"))
        )
        assert plans.unpartitioned_windows(bad) == ["Window"]
        good = spark.range(32).withColumn(
            "rn",
            F.row_number().over(Window.partitionBy(F.lit(0)).orderBy("id")),
        )
        assert plans.unpartitioned_windows(good) == []


class TestRound5PlanShapes:
    def test_skyline_prefilter_stages_two_windows(self, spark):
        """The scale path: a partition-local dominance pass (windowed by
        (group, partition id)) must precede the global per-group pass,
        and disabling the prefilter must leave exactly one Window."""
        from stepist_spark.operators.skyline import skyline
        from stepist_spark.plans.inspect import explain_str

        pts = load_table(spark, SF, "orders").select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_custkey").alias("x"),
            F.col("o_orderkey").alias("y"),
        )
        pre = explain_str(skyline(pts, "x", "y", ["o_orderpriority"]))
        assert pre.count("Window") >= 2
        flat = explain_str(
            skyline(pts, "x", "y", ["o_orderpriority"], prefilter=False)
        )
        assert flat.count("Window") < pre.count("Window")

    def test_rolling_actives_partial_aggregates(self, spark):
        """The forward-contribution plan must partial-aggregate map-side
        (count distinct compiles to two-phase aggregation) and never
        self-join the event table."""
        from stepist_spark.operators.sessions import rolling_active_users
        from stepist_spark.plans.inspect import explain_str, has_partial_aggregate

        ev = load_table(spark, SF, "events")
        df = rolling_active_users(ev, "user_id", "ts", 7)
        assert has_partial_aggregate(df)
        assert "CartesianProduct" not in explain_str(df)

    def test_hard_negatives_broadcasts_anchors(self, spark):
        from stepist_spark.operators.similarity import hard_negatives
        from stepist_spark.plans.inspect import explain_str

        emb = load_table(spark, SF, "embeddings")
        anchors = emb.filter(F.col("vec_id") < 4)
        plan = explain_str(hard_negatives(emb, anchors, "vec_id", "embedding", "label"))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        # the label-mismatch predicate must sit in the join, before topk
        assert "query_label" in plan

    def test_session_stats_single_exchange(self, spark):
        """sessionize's window and the per-session aggregate hash on
        user-prefixed keys: the plan must contain exactly ONE exchange
        over the events input (the agg reuses the window's sort)."""
        from stepist_spark.operators.sessions import session_stats
        from stepist_spark.plans.inspect import explain_str

        import re

        ev = load_table(spark, SF, "events")
        plan = explain_str(session_stats(ev, "user_id", "ts", 1800, "event_id"))
        # one hashpartitioning of the raw events; the groupBy must not
        # introduce a second full shuffle of the event rows
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1

    def test_time_weighted_avg_partial_aggregates(self, spark):
        from stepist_spark.operators.timeseries import time_weighted_avg
        from stepist_spark.plans.inspect import explain_str

        ev = load_table(spark, SF, "events")
        plan = explain_str(
            time_weighted_avg(ev, ["event_type"], "ts", "value", "event_id")
        )
        assert "partial" in plan.lower() or "Exchange" in plan
        assert "CartesianProduct" not in plan


class TestRound6PlanShapes:
    def test_jl_topk_prunes_and_broadcasts(self, spark):
        """The JL projection must prune the scan to (vec_id, embedding)
        — the label column never reaches the plan — and the query side
        must broadcast (corpus never shuffles for the probe)."""
        from stepist_spark.operators.similarity import jl_topk

        emb = load_table(spark, SF, "embeddings")  # has a label column
        df = jl_topk(emb, emb.filter("vec_id < 4"), k=3, out_dims=4)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "label" not in plan, "column pruning lost the projection"
        assert "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan

    def test_rerank_exact_single_corpus_scan_no_shuffle_join(self, spark):
        """Funnel stage 2: queries and candidates broadcast onto ONE
        corpus pass — no sort-merge join, no corpus shuffle."""
        from stepist_spark.operators.similarity import jl_topk, rerank_exact

        emb = load_table(spark, SF, "embeddings")
        anchors = emb.filter("vec_id < 4")
        cand = jl_topk(emb, anchors, k=12, out_dims=4)
        df = rerank_exact(emb, anchors, cand, k=3)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastExchange") >= 2

    def test_rrf_fuse_never_touches_a_table(self, spark):
        """Fusion is pure relational work over the top-k lists — its
        plan must contain no file scan at all when fed list frames."""
        from stepist_spark.operators.ranking import rrf_fuse

        a = spark.createDataFrame(
            [(1, 10, 1)], "query_id bigint, doc_id bigint, rank bigint"
        )
        b = spark.createDataFrame(
            [(1, 11, 1)], "query_id bigint, doc_id bigint, rank bigint"
        )
        plan = rrf_fuse([a, b])._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan
