"""StreamFlow: run a Pipeline over an unbounded source.

The replacement for the reference's ``app.run(steps)`` worker loop
(`stepist/app.py:56-63` → `stepist/flow/libs/simple_queue.py:15-47`).
One StreamFlow = one StreamingQuery; parallelism comes from Spark
tasks, not ``just_do_it(n)`` OS processes
(`stepist/workers/__init__.py:10-19`).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Mapping
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from stepist_spark.pipeline import Pipeline, Step
from stepist_spark.sources.writers import write_stream


#: how often drain()/stop_when() re-read a query's state
_POLL_S = 0.05


def drain(
    starts: Mapping[str, Callable[[], StreamingQuery]], timeout: float = 300.0
) -> dict[str, dict[str, float]]:
    """Start queries that end on their own (availableNow) and wait until
    every one has — the analog of the reference's ``die_when_empty``
    (`stepist/flow/libs/simple_queue.py:34-36`), for N concurrent queries.

    ``starts`` maps a part name to a thunk that starts its query; the
    thunks run in order. Returns ``{name: {"start": s, "done": s}}``,
    seconds from the first start. Both offsets are kept because a cheap
    part that happens to finish last would otherwise absorb the group's
    wall clock. Polling ``isActive`` instead of ``awaitTermination``
    records each query's own completion, not the awaiter's.

    Fails loudly: a thunk that raises, a query that fails, or a query
    still running after ``timeout`` stops every query started here and
    re-raises — the caller never reads a partially-filled sink."""
    t0 = time.perf_counter()
    offsets: dict[str, dict[str, float]] = {}
    queries: dict[str, StreamingQuery] = {}
    try:
        for name, start in starts.items():
            offsets[name] = {"start": time.perf_counter() - t0}
            queries[name] = start()
        deadline = time.perf_counter() + timeout
        pending = dict(queries)
        while pending:
            for name, q in list(pending.items()):
                if not q.isActive:
                    q.awaitTermination(5)  # raises the query's own failure
                    offsets[name]["done"] = time.perf_counter() - t0
                    del pending[name]
            if pending:
                if time.perf_counter() > deadline:
                    raise TimeoutError(
                        f"streaming queries still running at +{timeout}s: {sorted(pending)}"
                    )
                time.sleep(_POLL_S)
    except BaseException:
        for q in queries.values():
            q.stop()
        raise
    return offsets


def stop_when(
    q: StreamingQuery,
    ready: Callable[[list[dict]], bool],
    timeout: float = 120.0,
) -> None:
    """Stop ``q`` once ``ready(q.recentProgress)`` holds — for queries
    that never end on their own (a rate source) or that a caller kills
    mid-input (a restart test). Raises ``TimeoutError`` (after stopping
    the query) when ``ready`` still fails at ``timeout``, and
    ``RuntimeError`` when the query ends first without it holding."""
    deadline = time.perf_counter() + timeout
    while True:
        active = q.isActive  # read before the progress a final batch leaves
        if ready(q.recentProgress):
            break
        if not active:
            q.awaitTermination(5)  # raises the query's own failure
            raise RuntimeError(
                f"streaming query {q.name or q.id} ended before its stop condition held"
            )
        if time.perf_counter() > deadline:
            q.stop()
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not reach its stop condition "
                f"within {timeout}s (last progress: {q.lastProgress})"
            )
        time.sleep(_POLL_S)
    q.stop()


#: provider name -> Spark state-store provider class. "hdfs" is
#: Spark's default in-JVM-heap map (fine for test-scale state);
#: "rocksdb" is the bundled RocksDB provider — off-heap + on-disk, the
#: scale path once interval-join/dedup state outgrows executor heap
#: (at 100 TB the in-memory provider is the first streaming OOM).
STATE_STORE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


@contextmanager
def state_store_provider(spark: SparkSession, provider: str | None):
    """Temporarily select the state-store provider while a streaming
    query STARTS. Like the shuffle-partition count, the provider is
    fixed per query at its first micro-batch and recorded in the
    checkpoint — restarting an existing checkpoint under a different
    provider is an error Spark itself raises, so set this BEFORE the
    first start, not mid-flight."""
    if provider is None:
        yield
        return
    try:
        cls = STATE_STORE_PROVIDERS[provider]
    except KeyError:
        raise ValueError(
            f"unknown state_store {provider!r}; one of {sorted(STATE_STORE_PROVIDERS)}"
        ) from None
    old = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, cls)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, old)


@contextmanager
def stream_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily set ``spark.sql.shuffle.partitions`` while a
    streaming query STARTS (the value at the first micro-batch fixes
    the state-store partition count for the query's whole life — it is
    recorded in the checkpoint and cannot change later).

    Stateful operators pay a per-trigger commit per state partition,
    so a small-state query behind 32 default partitions spends most of
    each micro-batch on empty-partition commits. Size this to expected
    state volume: a handful for test-scale gates, hundreds for a real
    100 TB keyspace. Batch queries are unaffected (AQE re-coalesces).
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


class StreamFlow:
    """Wire an unbounded DataFrame through a pipeline into a sink.

    ``pipeline`` may be a ``Pipeline``, a single ``Step``, or any
    ``DataFrame -> DataFrame`` callable — the same composition surface
    as batch, applied per-micro-batch by the engine (NOT per-record:
    the reference processes one dict per BRPOP round-trip,
    `simple_queue.py:62-77`; a micro-batch amortizes scheduling over
    thousands of rows).

    Sinks:
    - ``to_memory(name)``   — queryable in-session table (tests/demos)
    - ``to_files(path,...)``— checkpointed exactly-once file sink
    - ``to_foreach_batch(fn)`` — arbitrary fan-out ``(df, epoch_id)``;
      the streaming Hub: write one micro-batch to N destinations
    - ``drain()``           — availableNow: process backlog, then stop
      (the reference's ``die_when_empty``, `simple_queue.py:34-36`)
    """

    def __init__(
        self,
        source: DataFrame,
        pipeline: Pipeline | Step | Callable[[DataFrame], DataFrame] | None = None,
        state_store: str | None = None,
    ):
        if not source.isStreaming:
            raise ValueError("StreamFlow needs a streaming DataFrame (spark.readStream)")
        if state_store is not None and state_store not in STATE_STORE_PROVIDERS:
            raise ValueError(
                f"unknown state_store {state_store!r}; "
                f"one of {sorted(STATE_STORE_PROVIDERS)}"
            )
        self.source = source
        if pipeline is not None and not isinstance(pipeline, Pipeline):
            pipeline = Pipeline([pipeline])
        self.pipeline = pipeline
        self.state_store = state_store
        self._query: StreamingQuery | None = None

    def _start(self, writer) -> StreamingQuery:
        """Start a configured writer under this flow's state-store
        provider (a start-time session conf, captured per query)."""
        with state_store_provider(self.source.sparkSession, self.state_store):
            return writer()

    def _transformed(self) -> DataFrame:
        return self.source if self.pipeline is None else self.pipeline.run(self.source)

    # -- sinks ------------------------------------------------------------
    def to_memory(
        self,
        name: str,
        output_mode: str = "append",
        trigger: dict[str, Any] | None = None,
    ) -> StreamingQuery:
        self._query = self._start(
            self._transformed()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(**(trigger or {"availableNow": True}))
            .start
        )
        return self._query

    def to_files(
        self,
        path: str,
        checkpoint: str,
        fmt: str = "parquet",
        output_mode: str = "append",
        trigger: dict[str, Any] | None = None,
        **options: str,
    ) -> StreamingQuery:
        df = self._transformed()
        self._query = self._start(
            lambda: write_stream(
                df, checkpoint, path, fmt, output_mode, trigger=trigger, **options
            )
        )
        return self._query

    def to_foreach_batch(
        self,
        fn: Callable[[DataFrame, int], None],
        checkpoint: str,
        trigger: dict[str, Any] | None = None,
    ) -> StreamingQuery:
        df = self._transformed()
        self._query = self._start(
            lambda: write_stream(df, checkpoint, trigger=trigger, foreach_batch=fn)
        )
        return self._query

    # -- lifecycle ----------------------------------------------------------
    def drain(self, sink_name: str, output_mode: str = "append", timeout: float = 120.0) -> None:
        """Process everything currently available into a memory sink,
        then stop — batch-mode termination for a streaming flow."""
        drain({sink_name: lambda: self.to_memory(sink_name, output_mode)}, timeout)

    @property
    def query(self) -> StreamingQuery | None:
        return self._query

    def status(self) -> dict:
        """Progress introspection — the analog of the reference's
        ``jobs_count``/``monitor_steps`` (`stepist/flow/steps/
        step.py:154-164`, `adapters/simple_queue.py:69-88`)."""
        if self._query is None:
            return {"active": False}
        lp = self._query.lastProgress
        total_in = sum(p["numInputRows"] for p in self._query.recentProgress)
        # state-store rollup (round-10 verdict #4): rows/memory across
        # the query's stateful operators from the LAST progress — the
        # numbers that say whether interval-join/dedup state is growing
        # toward the provider's limit (pair with state_store="rocksdb"
        # once they outgrow executor heap)
        so = (lp or {}).get("stateOperators") or []
        return {
            "active": self._query.isActive,
            "status": self._query.status,
            "rows_per_sec": (lp or {}).get("processedRowsPerSecond"),
            "batch_id": (lp or {}).get("batchId"),
            "input_rows": total_in,
            "state_rows": sum(int(s.get("numRowsTotal") or 0) for s in so) if so else None,
            "state_rows_updated": (
                sum(int(s.get("numRowsUpdated") or 0) for s in so) if so else None
            ),
            "state_memory_bytes": (
                sum(int(s.get("memoryUsedBytes") or 0) for s in so) if so else None
            ),
        }

    def stop(self) -> None:
        if self._query is not None and self._query.isActive:
            self._query.stop()
