"""Per-step flow metrics — the analog of the reference's step monitor.

The reference taps every handler call through a MONITOR counter
(`stepist/flow/workers/adapters/utils.py:24-56`) and exposes per-step
totals via ``monitor_steps`` (`stepist/flow/workers/adapters/
simple_queue.py:69-88`): jobs processed per named step.

Here the unit is rows, and the counters are computed BY THE ENGINE
inside the same job via ``DataFrame.observe`` (an ``Observation`` per
step): no extra actions, no second scan — the aggregates ride the
existing physical plan, which is the only per-step tap that stays free
at 100 TB. ``rows_out`` per step is exact regardless of partitioning;
``rows_in`` of step k is step k-1's ``rows_out`` (the flow is one lazy
plan, so there is no materialized boundary to count separately —
``source_rows`` covers the first step's input).

Streaming flows report through ``StreamFlow.status()`` (QueryProgress)
instead — ``observe`` metrics on a stream surface per micro-batch.
"""

from __future__ import annotations

import itertools
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from stepist_spark.pipeline import Pipeline

_MON_IDS = itertools.count()


class StepMonitor:
    """Instrument a :class:`Pipeline` with per-step row counters.

    Usage::

        mon = StepMonitor()
        out = mon.instrument(pipe).run(df)
        out.collect()            # any action
        mon.stats()              # {"source": {"rows": n}, "step1": {"rows_out": ...}, ...}

    Each ``Observation`` binds to the FIRST action on the instrumented
    frame (engine semantics); build a fresh monitor per run.
    """

    def __init__(self) -> None:
        self._observations: list[tuple[str, Observation]] = []
        self._uid = next(_MON_IDS)

    # -- instrumentation ---------------------------------------------------
    def observe_source(self, df: DataFrame) -> DataFrame:
        """Count the rows entering the flow (first step's rows_in)."""
        return self._tap(df, "source")

    def instrument(self, pipeline: Pipeline) -> Pipeline:
        """A new Pipeline whose every stage output is row-counted."""
        out = Pipeline()
        for name, fn in pipeline.stages:
            out.add(self._wrap(name, fn), name=name)
        return out

    def _wrap(self, name: str, fn):
        def stage(df: DataFrame) -> DataFrame:
            return self._tap(fn(df), name)

        stage.__name__ = name
        return stage

    def _tap(self, df: DataFrame, name: str) -> DataFrame:
        obs = Observation(f"stepist:{self._uid}:{name}")
        self._observations.append((name, obs))
        return df.observe(obs, F.count(F.lit(1)).alias("rows_out"))

    # -- results -----------------------------------------------------------
    def stats(self) -> dict[str, dict[str, Any]]:
        """Per-step metrics after an action has run (blocks until the
        observed action completes, engine-side)."""
        return {name: dict(obs.get) for name, obs in self._observations}
