"""SparkSession factory with scale-aware defaults.

Local-mode settings are tuned for the test harness (local[N] on one
host); the same builder flags are what we would ship on a real
multi-executor cluster — AQE on (runtime re-plan, skew-join handling,
partition coalescing), Arrow for every Python<->JVM hop, UTC session
timezone so results are comparable across engines.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import SparkSession, functions as F
from pyspark.util import inheritable_thread_target

# Shuffle-partition default: ~cores locally. On a real cluster this is
# overridden (or left to AQE's coalescing, which shrinks post-shuffle
# partitions to `advisoryPartitionSizeInBytes` automatically).
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# Runtime-settable confs every query path depends on, applied even when
# the caller (e.g. the external driver) built its own SparkSession with
# different builder-time settings. All are dynamic SQL confs.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # InferFiltersFromGenerate duplicates the generator expression
    # into a pre-Generate filter. For interpreted higher-order
    # expressions (tokenize->shingle pipelines) that filter re-runs
    # the whole expression tree per row — and lands BELOW the
    # repartition, on the raw scan's few partitions. Measured 10×+
    # slowdown on the LSH path; the rows it would skip (empty
    # arrays) are a vanishing fraction of a text corpus.
    # EliminateWindowPartitions (Spark 4) folds constant window
    # partition keys away, silently turning our EXPLICIT
    # bounded-frame windows (Window.partitionBy(lit(0)) over
    # provably-tiny frames — see operators/cumulative.whole_frame)
    # back into unpartitioned windows. Excluding it keeps the
    # explicit key, so any remaining "WARN WindowExec: No Partition
    # Defined" in a log is a REAL unbounded single-task window, not
    # an annotated bounded one.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate,"
        "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions"
    ),
}


def get_spark(
    app_name: str = "stepist_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    The configuration favors the declarative path: AQE enabled so the
    physical plan adapts to runtime statistics (broadcast-join demotion/
    promotion, skew splitting, partition coalescing), Arrow enabled so
    the pandas-UDF escape hatch pays batch — not per-row — serde costs.
    """
    n = cpus or _DEFAULT_CPUS
    conf = {
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        **_RUNTIME_CONF,
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # 128 MiB input splits — the at-scale default; at 100 TB this
        # yields ~800k map tasks, the right granularity for 1000 execs.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.master(f"local[{n}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def warehouse_root(spark: SparkSession) -> str:
    """The session's warehouse dir as a local filesystem path (the
    'file:' URI prefix stripped) — the single place that rule lives."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return wh.removeprefix("file://").removeprefix("file:")


def scratch_dir(spark: SparkSession, name: str) -> str:
    """A writable scratch directory for gates with filesystem side
    effects (sink round-trips, streaming checkpoints).

    Resolution order: ``SPARK_GRAFT_SCRATCH`` env var, else the
    session's ``spark.sql.warehouse.dir`` — NOT ``/tmp``, which a
    locked-down driver environment may mount read-only. Keyed by pid so
    concurrent drivers never collide; created eagerly so callers can
    hand the path straight to a writer."""
    base = os.environ.get("SPARK_GRAFT_SCRATCH") or warehouse_root(spark)
    path = os.path.join(base, "stepist_scratch", f"pid{os.getpid()}", name)
    os.makedirs(path, exist_ok=True)
    return path


def ensure_runtime_tuning(spark: SparkSession) -> None:
    """Idempotently apply the engine's dynamic confs to any session.

    The applied-marker lives IN the session's conf (not a driver-side
    memo keyed by object identity, which a recycled id() could alias),
    so it dies with the session.
    """
    if spark.conf.get("spark.stepist.tuned", None) == "1":
        return
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # non-settable on some deployments: keep going
            pass
    spark.conf.set("spark.stepist.tuned", "1")


def build_concurrently(
    spark: SparkSession, thunks: Sequence[Callable[[], Any]]
) -> list:
    """Run independent plan-building thunks from a small thread pool.

    A ``localCheckpoint`` on an AQE plan runs its upstream jobs while
    the plan is being BUILT, so independent build chains (a Hub's
    branches, a gate's families) overlap only when they build from
    threads. Each thunk runs under ``inheritable_thread_target``, so its
    jobs carry the caller's job group and local properties. Results come
    back in thunk order; once every thread has finished, the error of the
    first failing thunk (in thunk order) is re-raised. Four workers cover
    every caller: the widest builds seven families, the rest give each
    thunk a thread. With ``PYSPARK_PIN_THREAD=false`` there are no
    thread-local properties to carry and the thunks run unwrapped.
    """
    wrap = inheritable_thread_target(spark)  # the session itself when unpinned
    targets = thunks if wrap is spark else [wrap(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=min(len(thunks), 4)) as pool:
        futures = [pool.submit(t) for t in targets]
    return [f.result() for f in futures]


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-provided parquet tables.

    Plain `spark.read.parquet` — column pruning and predicate pushdown
    reach the scan via Catalyst, so callers should select/filter on the
    returned DataFrame rather than materialize it.

    TIMESTAMP(NANOS) handling: Spark has no nanosecond timestamp type
    and refuses NANOS parquet columns outright (the driver's events.ts
    is NANOS). We read them as raw longs (`nanosAsLong`) and convert to
    TIMESTAMP_NTZ at microsecond precision — lossless for this data
    (all values are µs-aligned) and identical to what DuckDB sees.
    Note: filters on a converted column are evaluated post-scan (the
    cast defeats parquet predicate pushdown on that one column); filter
    on the raw long when pruning matters at scale.
    """
    ensure_runtime_tuning(spark)
    return read_parquet_nanos_safe(spark, table_path(sf_dir, name))


def read_parquet_nanos_safe(spark: SparkSession, path: str, options: dict | None = None):
    """Parquet read that tolerates TIMESTAMP(NANOS) columns (see
    :func:`load_table`); a plain ``spark.read.parquet`` otherwise.

    When the footer cannot be probed (remote FS), the plain read is
    attempted and a nanos-typed file surfaces as a CLEAR error naming
    the fix, instead of Spark's raw PARQUET_TYPE_ILLEGAL."""
    nanos_cols = _nanos_timestamp_cols(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.options(**(options or {})).parquet(path)
        df.schema  # force schema resolution so a nanos failure lands here
    except Exception as exc:
        if nanos_cols is None and _is_nanos_error(exc):
            raise RuntimeError(
                f"{path} has TIMESTAMP(NANOS) columns but its parquet footer "
                "could not be inspected locally to locate them; read it with "
                "spark.sql.legacy.parquet.nanosAsLong=true and convert the "
                "nanos columns yourself (see session.load_table)"
            ) from exc
        raise
    for c in nanos_cols or []:
        df = df.withColumn(
            c, F.expr(f"cast(timestamp_micros({c} div 1000) as timestamp_ntz)")
        )
    return df


def _is_nanos_error(exc: Exception) -> bool:
    msg = str(exc)
    return "NANOS" in msg.upper() or "nanosAsLong" in msg


def stream_events(spark: SparkSession, sf_dir: str):
    """File-source STREAM over the events table, footer-aware like
    :func:`read_parquet_nanos_safe`: if events.ts is TIMESTAMP(NANOS)
    it is read as a raw long and converted to µs TIMESTAMP_NTZ; if the
    driver generated µs timestamps (round-2 testdata) it streams with a
    TIMESTAMP_NTZ schema directly. Either way `ts` comes out
    TIMESTAMP_NTZ at µs precision — identical to the batch loader and
    to what DuckDB sees."""
    path = table_path(sf_dir, "events")
    nanos = _nanos_timestamp_cols(path)
    if nanos is None:
        # footer unprobeable (remote FS) — let Spark's own batch reader
        # decide: a NANOS ts either throws the legacy-flag error here
        # (→ nanos path) or, if the legacy flag is already set, comes
        # back as LongType (→ nanos path too); a native µs file resolves
        # to a timestamp type (→ native path)
        from pyspark.sql.types import LongType

        try:
            batch_schema = spark.read.parquet(path).schema
            nanos = ["ts"] if isinstance(batch_schema["ts"].dataType, LongType) else []
        except Exception as exc:
            if _is_nanos_error(exc):
                nanos = ["ts"]
            else:
                raise
    ts_type = "long" if "ts" in nanos else "timestamp_ntz"
    schema = (
        f"event_id long, ts {ts_type}, user_id long, event_type string, "
        "value double, props string"
    )
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if os.path.isdir(path):
        # directory-shaped table (multi-file parquet): stream it
        # directly — a pathGlobFilter on the literal table name would
        # match no LEAF file and silently stream zero rows
        src = spark.readStream.schema(schema).parquet(path)
    else:
        src = (
            spark.readStream.schema(schema)
            # the file source wants a directory; the testdata table is
            # a single file, so stream the parent dir with a pinned glob
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if "ts" in nanos:
        src = src.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return src


#: Size floor for one spread() task: one task per this many INPUT file
#: bytes (compressed parquet; text expands ~4× in memory, so this is
#: ~¼ MB of in-flight data plus the CPU-dense derived work per task).
#: Round-12 anti-scaling fix: a fixed defaultParallelism target put
#: ~18 KB/task under the sub-MB corpora at test SFs — 32 task launches
#: per stage for microseconds of work each, which is why four gates ran
#: ~2× FASTER on 8 cores than 32 (r11 verdict #7). Deriving the target
#: from input SIZE (capped at defaultParallelism) removes that floor
#: while staying a no-op at real scale, where the cap always binds.
_SPREAD_BYTES_PER_TASK = 64 * 1024


def spread(df):
    """Round-robin repartition ONLY when the input is under-partitioned.

    CPU-dense operators (per-shingle hashing, per-token scoring) choke
    when a small parquet scan yields 1-2 input partitions: the explode
    multiplies rows ~100× but the work stays on 2 cores. At real scale
    the scan already has thousands of partitions and this is a no-op —
    it never *reduces* partitioning.

    Call it where a gate reads its source, never inside an operator: the
    probe sees only the input FILES, not a repartition already in the
    plan, so spreading an already-spread frame plans another shuffle.

    The fan-out target is SIZE-ADAPTIVE: one partition per
    ``_SPREAD_BYTES_PER_TASK`` input bytes, capped at
    ``defaultParallelism``.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # cheap under-partitioning proxy: input file count ([] for frames
    # with no file scan). Avoids the full plan→RDD conversion
    # getNumPartitions() would force; errs toward repartitioning (a
    # small shuffle) when files are few but large, and no-ops when the
    # scan already fans out.
    files = df.inputFiles()
    if len(files) >= target:
        return df
    if files:
        # inputFiles() returns URIs ('file:///a/sp%20ace/x.parquet'):
        # decode them, or the size probe misses every quoted path
        uris = [urlparse(f) for f in files]
        # a remote filesystem (hdfs://, s3a://) keeps the parallelism target
        if all(u.scheme in ("", "file") for u in uris):
            total = sum(os.path.getsize(unquote(u.path)) for u in uris)
            target = min(target, max(1, -(-total // _SPREAD_BYTES_PER_TASK)))
    if len(files) >= target:
        return df
    return df.repartition(target)


def _nanos_timestamp_cols(path: str) -> list[str] | None:
    """Column names annotated TIMESTAMP(NANOS) in the parquet footer.

    For a directory (partitioned dataset), one fragment's footer is
    representative — Spark requires consistent types across fragments
    anyway. Returns ``None`` (NOT ``[]``) when the footer cannot be
    inspected (remote path, pyarrow failure) so callers can distinguish
    "probed clean" from "could not probe" — conflating the two made a
    nanos file on an unprobeable path fail at stream time (round-2
    ADVICE).
    """
    import glob
    import os

    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        frags = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if not frags:
            return None
        probe = frags[0]
    try:
        schema = pq.ParquetFile(probe).schema
    except Exception:
        return None
    out = []
    for col in schema:
        lt = getattr(col, "logical_type", None)
        if lt is not None and "Timestamp" in str(lt) and "nanoseconds" in str(lt):
            out.append(col.name)
    return out
