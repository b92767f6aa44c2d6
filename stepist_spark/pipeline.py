"""Pipeline / Step API — the stepist-shaped composition surface.

The reference chains Python handlers into a backwards-declared DAG
(`@app.step(next_step=...)`, reference `stepist/app.py:116-141`) where
each handler maps one record-dict to the next, a ``Hub`` fans a record
out to N branches (`stepist/flow/steps/hub.py:5-14`), generator handlers
fan out per-record (`stepist/flow/steps/step.py:90-98`), a
``ReducerStep`` barrier-collects branch results per ``hub_job_id``
(`stepist/flow/workers/reducer_engine.py:21-80`), and ``StopFlowFlag``
drops a record (`stepist/flow/utils.py:8-12`).

Here the unit of data is a DataFrame, not a record: a Step is a lazy
``DataFrame -> DataFrame`` transformation, chaining composes one
Catalyst plan (so column pruning / predicate pushdown span the whole
flow — the reference's kwargs-pruning, `stepist/flow/utils.py:30-45`,
is subsumed by Catalyst), Hub applies each branch to the upstream it
is given, the Reducer is a ``groupBy().agg(collect_list())``, and
StopFlowFlag is translated to a declarative ``filter``.

Scale notes: nothing here collects to the driver and nothing here
materializes — a flow whose upstream is expensive to recompute per Hub
branch checkpoints it at the source (``localCheckpoint``); the reducer
is a single shuffle with map-side partial aggregation.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class StopFlowFlag(Exception):
    """API-parity with the reference's record-drop signal
    (`stepist/flow/utils.py:8-12`).

    In a declarative engine records are dropped by ``filter``; a step
    body may still ``raise StopFlowFlag(condition)`` with a Column to
    have the framework translate it — kept so flows written against the
    reference's mental model port cleanly.
    """

    def __init__(self, condition: Column | None = None, reason: str = ""):
        self.condition = condition
        self.reason = reason
        super().__init__(reason)


class FlowResult(dict):
    """Terminal result of a flow: named final (and saved) DataFrames.

    Mirrors the reference's attribute-accessible result dict keyed by
    final step name (`stepist/flow/steps/step.py:25-26,87-88`). Values
    are lazy DataFrames — call ``.collect()``/``.write`` yourself.
    """

    def __getattr__(self, item: str) -> DataFrame:
        try:
            return self[item]
        except KeyError as exc:  # pragma: no cover
            raise AttributeError(item) from exc


class Hub:
    """Fan one upstream DataFrame out to N successor branches.

    Reference: `stepist/flow/steps/hub.py:5-14` (deep-copied record per
    branch, `stepist/flow/steps/next_step.py:49`) — DataFrames are
    immutable so isolation is free, and like the reference the Hub
    caches nothing: each branch is applied to the upstream it is given,
    so Catalyst prunes every branch's scan to the columns that branch
    uses. An upstream that is expensive to recompute per branch is
    materialized at its source (``localCheckpoint``), as the gates do.

    Branch results merge into one FlowResult; on key collision the
    later branch wins — the reference's ``dict.update`` merge semantics
    (`stepist/flow/steps/next_step.py:50-54`), documented here
    explicitly per SURVEY.md §7.4.
    """

    def __init__(self, *steps: "Step"):
        if not steps:
            raise ValueError("Hub needs at least one branch step")
        self.steps = list(steps)

    def __call__(self, df: DataFrame) -> FlowResult:
        out = FlowResult()
        for branch in self.steps:
            out.update(branch(df))
        return out

    def union(self, df: DataFrame) -> DataFrame:
        """Alternative fan-out/fan-in: run branches and union the result
        rows (by name, missing columns null-filled)."""
        results = self(df)
        frames = list(results.values())
        merged = frames[0]
        for other in frames[1:]:
            merged = merged.unionByName(other, allowMissingColumns=True)
        return merged


class Step:
    """One named, lazy transformation in a flow.

    ``fn`` is ``DataFrame -> DataFrame`` (or returns a Column predicate
    via StopFlowFlag). ``next_step`` may be a Step, a Hub, or None
    (terminal). ``save_result=True`` grafts this step's output into the
    FlowResult under the step name (reference
    `stepist/flow/steps/step.py:100-105`). ``columns`` optionally
    projects the input first — the explicit analog of the reference's
    kwargs pruning (`stepist/flow/utils.py:30-45`); normally
    unnecessary because Catalyst prunes columns end-to-end.
    """

    def __init__(
        self,
        fn: Callable[[DataFrame], DataFrame],
        name: str | None = None,
        next_step: "Step | Hub | None" = None,
        save_result: bool = False,
        columns: Sequence[str] | None = None,
    ):
        self.fn = fn
        self.name = name or fn.__name__
        self.next_step = next_step
        self.save_result = save_result
        self.columns = list(columns) if columns else None
        functools.update_wrapper(self, fn)

    def transform(self, df: DataFrame) -> DataFrame:
        """Apply only this step's transformation (no routing)."""
        if self.columns:
            df = df.select(*self.columns)
        try:
            out = self.fn(df)
        except StopFlowFlag as flag:
            if flag.condition is None:
                raise ValueError(
                    "StopFlowFlag raised without a Column condition; "
                    "use `raise StopFlowFlag(~predicate)` to drop rows"
                ) from flag
            return df.filter(~flag.condition)
        if not isinstance(out, DataFrame):
            raise TypeError(
                f"step '{self.name}' must return a DataFrame, got {type(out).__name__}"
            )
        return out

    def __call__(self, df: DataFrame) -> FlowResult:
        out = self.transform(df)
        if self.next_step is None:
            result = FlowResult({self.name: out})
        else:
            result = self.next_step(out)
        if self.save_result and self.name not in result:
            result[self.name] = out
        return result

    def __repr__(self) -> str:  # pragma: no cover
        nxt = getattr(self.next_step, "name", type(self.next_step).__name__ if self.next_step else None)
        return f"Step({self.name!r}, next={nxt!r})"


class FactoryStep(Step):
    """Per-record fan-out (the reference's generator handlers /
    FactoryStep, `stepist/flow/steps/factory_step.py:19-31`).

    Declarative path: ``fn`` returns a DataFrame containing an array
    column named by ``explode_col``; the framework explodes it so each
    element becomes an independent downstream row. For general Python
    generators, use ``Engine.map_in_pandas`` instead (schema required).
    """

    def __init__(self, fn, explode_col: str, alias: str | None = None, **kwargs):
        super().__init__(fn, **kwargs)
        self.explode_col = explode_col
        self.alias = alias or explode_col

    def transform(self, df: DataFrame) -> DataFrame:
        out = super().transform(df)
        others = [c for c in out.columns if c != self.explode_col]
        return out.select(*others, F.explode(F.col(self.explode_col)).alias(self.alias))


class ReducerStep(Step):
    """Barrier reduce: collect all rows per group, then apply a reduce.

    The reference implements this as a Redis count-barrier keyed by
    ``hub_job_id`` with a 30s TTL
    (`stepist/flow/workers/reducer_engine.py:21-80`); the batch analog
    is a single shuffle: ``groupBy(key).agg(collect_list(...))``. The
    reference fires the handler only when all N branch results arrived
    (N encoded in the key, `stepist/flow/steps/hub.py:12-14`) —
    ``expected_count`` reproduces that completeness gate: groups with
    fewer rows are dropped, the declarative version of the TTL-drop.

    ``reduce_fn(pdf) -> pdf`` receives a pandas DataFrame where EACH
    ROW is one complete group (group keys + ``job_list``) and must
    return one output row per input row — vectorize over the batch
    where possible. (The reference's handler sees one group per call,
    `reducer_engine.py:69-78`; batching groups is the Arrow-era
    restatement.)

    The streaming analog (true timeout semantics) lives in
    ``stepist_spark.streaming.barrier_reduce``.
    """

    def __init__(
        self,
        group_key: str | Sequence[str],
        payload_cols: Sequence[str] | None = None,
        expected_count: int | str | None = None,
        reduce_fn: Callable | None = None,
        reduce_schema: str | None = None,
        name: str = "reducer",
        **kwargs,
    ):
        super().__init__(fn=lambda df: df, name=name, **kwargs)
        self.group_key = [group_key] if isinstance(group_key, str) else list(group_key)
        self.payload_cols = list(payload_cols) if payload_cols else None
        self.expected_count = expected_count
        self.reduce_fn = reduce_fn
        self.reduce_schema = reduce_schema

    def transform(self, df: DataFrame) -> DataFrame:
        payload = self.payload_cols or [c for c in df.columns if c not in self.group_key]
        # Completeness barrier: only fire for full groups. An int is a
        # global N; a str names a column carrying per-group N (the
        # reference encodes N in the hub_job_id suffix), read in the
        # same aggregate — a null N never equals the count, so its
        # group is dropped.
        n = self.expected_count
        aggs = [
            F.collect_list(F.struct(*payload)).alias("job_list"),
            F.count(F.lit(1)).alias("_n"),
        ]
        if isinstance(n, str):
            aggs.append(F.max(F.col(n)).alias("_expected"))
        collected = df.groupBy(*self.group_key).agg(*aggs)
        if n is not None:
            expected = F.col("_expected") if isinstance(n, str) else F.lit(n)
            collected = collected.filter(F.col("_n") == expected)
        collected = collected.drop("_n", "_expected")
        if self.reduce_fn is not None:
            if self.reduce_schema is None:
                raise ValueError("reduce_fn requires reduce_schema (output schema DDL)")
            # The collected frame is already one row per group, so the
            # reduce runs as Arrow-batched mapInPandas: many groups per
            # pandas batch, no second shuffle, no per-group Python call
            # (a groupBy().applyInPandas here re-shuffles and pays a
            # pandas-frame construction per group — measured 4× slower
            # with many small groups).
            fn = self.reduce_fn
            def _batch_apply(batches):
                for pdf in batches:
                    if len(pdf):
                        yield fn(pdf)
            return collected.mapInPandas(_batch_apply, schema=self.reduce_schema)
        return collected


def with_meta(df: DataFrame, **values: Any) -> DataFrame:
    """Attach framework metadata that travels with every row.

    The reference propagates a thread-local ``meta_data`` dict across
    process hops inside the StepData envelope
    (`stepist/flow/session.py:6-75`, carried at
    `stepist/flow/steps/step.py:126-127`); in a declarative engine the
    lineage itself replaces most of that, and what must travel rides as
    an ordinary struct column — visible to Catalyst, shuffled with the
    data, no side channel. Repeated calls merge keys (later wins, the
    reference's ``update_meta_data`` semantics).
    """
    existing: dict[str, Column] = {}
    if "_meta" in df.columns:
        meta_type = df.schema["_meta"].dataType
        existing = {f.name: F.col(f"_meta.{f.name}") for f in meta_type.fields}
    merged = {**existing, **{k: F.lit(v) for k, v in values.items()}}
    return df.withColumn(
        "_meta", F.struct(*[c.alias(k) for k, c in merged.items()])
    )


def meta_value(df: DataFrame, key: str) -> Column:
    """Read one metadata field attached by :func:`with_meta`."""
    return F.col(f"_meta.{key}")


class Pipeline:
    """Forward-declared linear flow: fold ``stage(df) -> df`` callables
    into one lazy plan. The ergonomic alternative to backwards
    ``next_step`` declaration; both produce a single Catalyst plan.
    """

    def __init__(self, stages: Sequence[Callable[[DataFrame], DataFrame]] | None = None):
        self.stages: list[tuple[str, Callable]] = []
        for s in stages or []:
            self.add(s)

    def add(self, fn: Callable[[DataFrame], DataFrame], name: str | None = None) -> "Pipeline":
        """Append a stage. A :class:`Step` applies only its
        transformation (no routing) and keeps its own name; any other
        callable is named by ``name`` or its ``__name__``."""
        if isinstance(fn, Step):
            name, fn = name or fn.name, fn.transform
        self.stages.append((name or getattr(fn, "__name__", f"stage{len(self.stages)}"), fn))
        return self

    def __or__(self, fn) -> "Pipeline":
        return self.add(fn)

    def run(self, df: DataFrame) -> DataFrame:
        for _, fn in self.stages:
            df = fn(df)
            if not isinstance(df, DataFrame):
                raise TypeError("pipeline stage must return a DataFrame")
        return df

    def explain(self, df: DataFrame, mode: str = "formatted") -> None:
        self.run(df).explain(mode)


class Engine:
    """App container — the analog of the reference's ``App``
    (`stepist/app.py:31-63`): holds the session, registers steps,
    provides decorators. No queue config, no worker processes — Spark's
    scheduler is the runtime.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.steps: dict[str, Step] = {}

    # -- decorators (reference: app.py:116-187) --------------------------
    def step(
        self,
        next_step: Step | Hub | None = None,
        save_result: bool = False,
        name: str | None = None,
        columns: Sequence[str] | None = None,
    ) -> Callable[[Callable], Step]:
        def decorator(fn: Callable) -> Step:
            s = Step(fn, name=name, next_step=next_step, save_result=save_result, columns=columns)
            self._register(s)
            return s

        return decorator

    def factory_step(
        self,
        explode_col: str,
        next_step: Step | Hub | None = None,
        alias: str | None = None,
        name: str | None = None,
    ) -> Callable[[Callable], FactoryStep]:
        def decorator(fn: Callable) -> FactoryStep:
            s = FactoryStep(fn, explode_col, alias=alias, name=name, next_step=next_step)
            self._register(s)
            return s

        return decorator

    def reducer_step(self, group_key, **kwargs) -> ReducerStep:
        s = ReducerStep(group_key, **kwargs)
        self._register(s)
        return s

    def _register(self, s: Step) -> None:
        if s.name in self.steps:
            raise ValueError(f"duplicate step name: {s.name}")
        self.steps[s.name] = s

    # -- streaming runtime (the reference's app.run worker loop,
    # `stepist/app.py:56-63`) ----------------------------------------------
    def stream(self, source: DataFrame, pipeline=None):
        """Wire an unbounded source through a pipeline/step — returns a
        :class:`stepist_spark.streaming.StreamFlow` to attach a sink."""
        from stepist_spark.streaming import StreamFlow

        return StreamFlow(source, pipeline)

    # -- escape hatch -----------------------------------------------------
    def map_in_pandas(self, fn: Callable, schema: str) -> Callable[[DataFrame], DataFrame]:
        """Arbitrary-Python step (the reference's whole handler surface,
        `stepist/flow/steps/step.py:120`): Arrow-batched ``mapInPandas``
        with a mandatory output schema — never row-at-a-time."""

        def stage(df: DataFrame) -> DataFrame:
            return df.mapInPandas(fn, schema=schema)

        stage.__name__ = getattr(fn, "__name__", "map_in_pandas")
        return stage
