"""Streaming-runtime correctness gates beyond s01's tumbling drain:
sliding windows, stream-stream interval joins, and a non-file
(rate-micro-batch) source driven through StreamFlow.

Each query EXECUTES as a real StreamingQuery (micro-batches, state
store, sink) and must hash-match a batch SQL oracle — certifying the
streaming machinery itself, not just the window expression:

- s02: overlapping event-time windows (every event lands in
  duration/slide windows) computed by the streaming engine in complete
  mode equals the batch grid oracle; tag-unioned with the streaming
  count-barrier (complete groups fire once, the deliberately
  incomplete group never) and, round 6, STREAMING session windows —
  the gap-merge state path vs the lag-based gaps-and-islands oracle;
  round 11 adds 'topk' — streaming grouped top-k on the
  transformWithState arbitrary-state API (O(k) RocksDB ListState per
  key) folded across three staged micro-batches vs the batch
  row_number oracle.
- s03: a stream-stream inner interval join — the state-store-buffered
  join with watermark eviction bounds — equals the batch range join.
- s04: the reference's queue-consumption path
  (`stepist/flow/libs/simple_queue.py:15-47` BRPOP loop) mapped to a
  generated non-file source: rate-micro-batch emits a deterministic
  (timestamp, value) grid (batch b carries values [b*R, (b+1)*R) all
  stamped startTimestamp + b*advance), so a windowed rollup over it
  has a closed-form oracle with no input table at all. rowsPerBatch is
  the per-trigger intake bound — the backpressure knob of a generated
  source, like maxFilesPerTrigger for files. Round 4 made it a
  MULTI-HOP topology (the reference chains one queue per step): hop 1
  lands the generated stream in a checkpointed file sink, an
  independent hop-2 worker consumes those files and windows them, and
  the post-drain status() introspection is gated as indicator bits.
"""

from __future__ import annotations

import functools
import glob
import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stepist_spark.queries import QuerySpec

_SINK_IDS = itertools.count()


def fresh_scratch(spark: SparkSession, name: str) -> str:
    """A CLEAN per-invocation scratch dir for gates that stage stream
    input files / checkpoints. bench.py runs each gate several times in
    one process, so a pid-keyed dir alone would replay a stale
    checkpoint against already-seen files and drain nothing — hence the
    run counter."""
    from stepist_spark.session import scratch_dir

    base = scratch_dir(spark, name)
    # previous invocations of THIS gate are complete by the time a new
    # one starts (gates run sequentially) — drop their staged files /
    # checkpoints so bench reruns don't grow disk without bound; the
    # run counter additionally isolates against pid reuse
    shutil.rmtree(base, ignore_errors=True)
    path = os.path.join(base, f"run{next(_SINK_IDS)}")
    os.makedirs(path, exist_ok=True)
    return path


def write_stream_file(df: DataFrame, dest_dir: str, name: str, mtime: float) -> str:
    """Materialize ``df`` as exactly ONE parquet file at
    ``dest_dir/name`` with a controlled modification time — the file
    streaming source processes files oldest-mtime-first, so staged
    mtimes give deterministic micro-batch order (the lever behind the
    late-data and history-dedup certifications)."""
    tmp = os.path.join(dest_dir, f"_tmp_{name}")
    # repartition(1), NOT coalesce(1): coalesce folds the whole
    # upstream (scan + filters) into the single write task — measured
    # 6.5s vs 0.95s staging a filtered events slice at sf0.1. The
    # exchange keeps the scan wide; only the file write is single-task.
    df.repartition(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dest = stage_part(part, os.path.join(dest_dir, name), mtime)
    shutil.rmtree(tmp)
    return dest


def stage_part(part_path: str, dest: str, mtime: float) -> str:
    """Move one written part file into a stream directory under a
    controlled mtime — the shared staging tail (ordering scheme lives
    in ONE place; s01's partitioned write and write_stream_file both
    end here)."""
    shutil.move(part_path, dest)
    os.utime(dest, (mtime, mtime))
    return dest


# fixed, arbitrary mtime epoch for staged stream files (any constant
# works — only the ORDER matters to the source)
_MTIME0 = 1_600_000_000.0


# --------------------------------------------------------------------------
# s02 — two stateful-grouping certifications in one tag-union gate:
# - 'slide':   sliding event-time windows computed BY THE STREAMING
#   RUNTIME (2-hour windows advancing hourly: every event lands in 2
#   windows), complete mode vs the batch grid oracle.
# - 'barrier': the streaming count-barrier (applyInPandasWithState,
#   streaming/barrier.py) fed the events stream keyed
#   "<event_type>:<N>" with N = the type's exact row count — except the
#   lexicographically FIRST type, deliberately short one arrival
#   (N = count+1). Complete groups fire exactly once with their count
#   and in-state payload reduction (sum of user_ids); the sabotaged
#   group must NEVER emit — the reference ReducerStep's
#   incomplete-barrier drop (`stepist/flow/workers/
#   reducer_engine.py:21-44`), driver-certified (round-3 VERDICT #2).
def s02_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.queries import record_part_wall
    from stepist_spark.session import build_concurrently, load_table, stream_events
    from stepist_spark.streaming import StreamFlow
    from stepist_spark.streaming.barrier import barrier_reduce
    from stepist_spark.streaming.runtime import drain, stream_shuffle_partitions
    from stepist_spark.streaming.topk import latest_topk, stream_topk
    from stepist_spark.streaming.windows import session_agg, sliding_agg

    # The four certifications are INDEPENDENT pipelines (separate
    # sources, sinks, state stores), so — the s05 discipline, applied
    # here in round 11 — all batch staging runs first, then the four
    # availableNow drains START TOGETHER and drain CONCURRENTLY: each
    # drain is mostly fixed per-trigger cost (planning, state commits,
    # sink commits), so sequential drains made this gate's wall the SUM
    # of four drains instead of their MAX (guide §2.6 overlap-
    # independent-jobs, restated for streaming queries).

    # ---- 'barrier' staging ------------------------------------------------
    sub = F.col("user_id") % 8 == 0
    ev = load_table(spark, sf, "events").filter(sub)

    # Round-11 optimization (guide §2.6, the s05/w01 pattern): the
    # 'barrier' count collect and the 'topk' checkpoint+stage writes
    # touch disjoint slices and share no lineage — run the two staging
    # stages from a thread pool; every stream still starts only after
    # BOTH have completed, exactly as before.
    def _stage_barrier() -> dict:
        # exact per-type counts: a bounded driver read (≤ |event types|
        # rows) that parameterizes the barrier keys, like p02's counters
        return {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    tdir = fresh_scratch(spark, "s02_topk")

    def _stage_topk() -> DataFrame:
        tev = (
            load_table(spark, sf, "events")
            .filter(F.col("user_id") % 4 == 0)
            .select("event_type", "event_id", "value")
            # one scan, three staged slices: each write_stream_file below
            # re-executes its input plan, so checkpoint the 3-column slice
            # once instead of re-scanning events per staged batch
            .localCheckpoint()
        )
        # mtime order WITHIN the stream dir is the micro-batch order —
        # sequential within the stage, independent of the barrier stage
        for i in range(3):
            write_stream_file(
                tev.filter(F.col("event_id") % 3 == i),
                tdir,
                f"b{i}.parquet",
                _MTIME0 + i,
            )
        return tev

    counts, tev = build_concurrently(spark, [_stage_barrier, _stage_topk])
    if not counts:
        # degenerate dataset (custom sf with no user_id % 8 == 0 rows):
        # fail loudly with context instead of min() of an empty dict
        raise ValueError(
            f"s02 barrier part: events at {sf!r} has no rows with "
            "user_id % 8 == 0 — the barrier discriminator needs a "
            "non-empty subset"
        )
    sabotaged = min(counts)  # this group stays one arrival short forever
    key = None
    for t, n in counts.items():
        expect = n + 1 if t == sabotaged else n
        branch = (F.col("event_type") == t, F.lit(f"{t}:{expect}"))
        key = F.when(*branch) if key is None else key.when(*branch)

    # ---- the four streaming queries ---------------------------------------
    # 'slide': overlapping event-time windows in complete mode vs the
    # batch grid oracle.
    agg = sliding_agg(
        stream_events(spark, sf),
        "ts",
        "2 hours",
        "1 hour",
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")],
        group_by=["event_type"],
    )
    # 'barrier': completeness, not expiry, decides; None (NoTimeout)
    # lets availableNow terminate instead of spinning no-data batches
    # against a pending wall-clock timer.
    src = (
        stream_events(spark, sf)
        .filter(sub)
        .select(key.alias("hub_job_id"), "user_id")
    )
    fired = barrier_reduce(
        src,
        group_key="hub_job_id",
        payload_cols=["user_id"],
        ttl_sec=None,
        reduce_fn=lambda gk, rows: {"total": sum(r["user_id"] for r in rows)},
    )
    # 'session' (round 6): gap-merged variable-length windows use a
    # DEDICATED state-store merge path that tumbling/sliding never
    # exercise; complete mode needs no watermark under availableNow.
    # Batch session semantics are q22's 'session' part — this certifies
    # the same gap-merge through the streaming engine.
    ssrc = stream_events(spark, sf).filter(F.col("user_id") % 16 == 0)
    sagg = session_agg(
        ssrc,
        "ts",
        "30 minutes",
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")],
        group_by=["user_id"],
    )
    # 'topk' (round 11): O(k) state per key folded across THREE
    # mtime-ordered staged micro-batches (maxFilesPerTrigger=1) — the
    # final standings must equal the batch row_number() <= 3, which
    # only holds if state genuinely carries and re-sorts across
    # batches. The drain runs under the RocksDB provider.
    tsrc = (
        spark.readStream.schema(tev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tdir)
    )
    tk = stream_topk(tsrc, "event_type", "value", 3, "event_id")

    sink = f"s02_sink_{next(_SINK_IDS)}"
    bsink = f"s02_barrier_{next(_SINK_IDS)}"
    ssink = f"s02_session_{next(_SINK_IDS)}"
    tsink = f"s02_topk_{next(_SINK_IDS)}"
    with stream_shuffle_partitions(spark, 8):
        part_wall = drain({
            "slide": lambda: StreamFlow(agg).to_memory(sink, "complete"),
            "barrier": lambda: StreamFlow(fired).to_memory(bsink),
            "session": lambda: StreamFlow(sagg).to_memory(ssink, "complete"),
            "topk": lambda: StreamFlow(tk, state_store="rocksdb").to_memory(tsink),
        })
    record_part_wall("s02_sliding_window", part_wall)

    ntz = spark.table(sink).schema["window_start"].dataType.simpleString()
    slide = spark.table(sink).select(
        F.lit("slide").alias("part"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "sum_value",
        "window_start",
        "window_end",
    )
    barrier = spark.table(bsink).select(
        F.lit("barrier").alias("part"),
        # strip ONLY the trailing ':<N>' segment — mirrors the
        # rsplit-based parse in barrier_reduce (a key whose id itself
        # contains ':' must survive intact)
        F.regexp_replace(F.col("group_key"), ":[0-9]+$", "").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        # in-state reduction result, proving payload delivery (exact:
        # integer user_id sums are far below 2^53)
        F.get_json_object(F.col("job_list")[0], "$.total")
        .cast("double")
        .alias("sum_value"),
        F.lit(None).cast(ntz).alias("window_start"),
        F.lit(None).cast(ntz).alias("window_end"),
    )
    session = spark.table(ssink).select(
        F.lit("session").alias("part"),
        F.col("user_id").cast("string").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        "sum_value",
        F.col("window_start").cast(ntz).alias("window_start"),
        F.col("window_end").cast(ntz).alias("window_end"),
    )
    topk = latest_topk(spark.table(tsink), "event_type").select(
        F.lit("topk").alias("part"),
        # leader identity certified alongside rank: key carries the id
        F.concat_ws(":", "event_type", F.col("event_id").cast("string")).alias(
            "event_type"
        ),
        F.col("rank").cast("bigint").alias("n"),
        # a single double passed through (no cross-row sum) — exact in
        # both engines, including through the Arrow/pandas hop
        F.col("value").alias("sum_value"),
        F.lit(None).cast(ntz).alias("window_start"),
        F.lit(None).cast(ntz).alias("window_end"),
    )
    return slide.unionByName(barrier).unionByName(session).unionByName(topk)


# Epoch-aligned 2h/1h sliding windows = the two hour-truncated starts
# (k ∈ {0,1}) whose [start, start+2h) covers the event; barrier part =
# per-type count + user_id sum over the same subset, minus the
# sabotaged (lexicographically first) type.
S02_SQL = """
SELECT 'slide' AS part, event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
       ws AS window_start, ws + INTERVAL 2 HOUR AS window_end
FROM (
    SELECT event_type, value,
           date_trunc('hour', ts::TIMESTAMP) - k * INTERVAL 1 HOUR AS ws
    FROM events, (SELECT unnest([0, 1]) AS k)
)
GROUP BY event_type, ws
UNION ALL
SELECT 'barrier', event_type, count(*) AS n, CAST(sum(user_id) AS DOUBLE),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP)
FROM events WHERE user_id % 8 = 0
GROUP BY event_type
HAVING event_type <> (SELECT min(event_type) FROM events WHERE user_id % 8 = 0)
UNION ALL
SELECT 'session', CAST(user_id AS VARCHAR), count(*), round(sum(value), 2),
       min(ts), max(ts) + INTERVAL 30 MINUTE
FROM (
    SELECT user_id, value, ts, sum(newsess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
    FROM (
        SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
               CASE WHEN lag(ts::TIMESTAMP) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts::TIMESTAMP) - epoch_us(lag(ts::TIMESTAMP) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
               THEN 1 ELSE 0 END AS newsess
        FROM events WHERE user_id % 16 = 0
    )
)
GROUP BY user_id, sess
UNION ALL
SELECT 'topk', event_type || ':' || CAST(event_id AS VARCHAR), rank, value,
       CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP)
FROM (
    SELECT event_type, event_id, value, row_number() OVER (
        PARTITION BY event_type ORDER BY value DESC, event_id) AS rank
    FROM events WHERE user_id % 4 = 0
)
WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# s03 — stream-stream LEFT OUTER interval join: purchases joined to
# signups within the 6 hours before each purchase. Both sides are
# unbounded streams buffered in the state store; the watermark +
# event-time range bound state eviction (streaming/joins.py). The
# OUTER upgrade (round 5) certifies strictly more than the former
# inner gate: matched rows reproduce the inner result, and every
# unmatched purchase must ALSO emit — with a null signup — once the
# watermark proves no match can still arrive. Outer emission only
# happens when the watermark passes each left row, so each staged
# input carries one far-future sentinel row (user_id -1): batch 0's
# event-time max lands 30 days past every real row, and the engine's
# no-data batch then flushes the whole unmatched set. The sentinels
# sit AT the watermark frontier and can never emit (and the matched
# sentinel pair is dropped from the SINK table — filtering user_id
# inside the streaming query would be pushed below the watermark
# operator and silently delete the sentinels at the scan).
def s03_stream_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.queries import record_part_wall
    from stepist_spark.session import load_table
    from stepist_spark.streaming import StreamFlow
    from stepist_spark.streaming.joins import interval_join
    from stepist_spark.streaming.runtime import drain, stream_shuffle_partitions

    ev = load_table(spark, sf, "events")

    # ONE events scan feeds all four staged frames (2 parts × 2
    # sides): the filtered union is cached, so the per-side writes
    # below read memory, not parquet — staging measured 5.1s → ~2.5s
    # at 10× sf0.1 with four separate scans vs one cached one.
    ev_f = (
        ev.filter(
            F.col("event_type").isin("purchase", "signup")
            & ((F.col("user_id") % 4).isin(0, 1))
        )
        .select(
            "event_id", "user_id", "event_type",
            F.col("ts").cast("timestamp").alias("ets"),
            F.col("value").cast("double").alias("value"),
        )
        .localCheckpoint(eager=False)
    )

    # withWatermark demands TIMESTAMP (ltz) event time; the session tz
    # is UTC, so casting the ntz column preserves the wall clock.
    # The user_id % 4 cohorts bound buffered state (the gate certifies
    # the join machinery, not full-corpus throughput — r01 subsets the
    # same way); each part's two sides and the oracle share a cohort.
    d = fresh_scratch(spark, "s03_outer")
    parts = {"lo": ("leftOuter", 0), "fo": ("fullOuter", 1)}
    dirs: dict[str, tuple[str, str]] = {}
    for tag in parts:
        pdir, sdir = (os.path.join(d, f"{x}_{tag}") for x in ("p", "s"))
        os.makedirs(pdir), os.makedirs(sdir)
        dirs[tag] = (pdir, sdir)
    # ONE partitioned write per SIDE stages BOTH parts' real files
    # (round 11, the s01 'late' staging trick): the cohort id is the
    # partition column, so two jobs over the cached union replace four
    # single-file writes that each re-read it. Partition columns are
    # stripped from the data files, so the staged schemas are unchanged.
    p_all = ev_f.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ets").alias("p_ts"), "value",
        (F.col("user_id") % 4).alias("_mod"),
    )
    s_all = ev_f.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ets").alias("s_ts"),
        (F.col("user_id") % 4).alias("_mod"),
    )
    p_schema = p_all.drop("_mod").schema
    s_schema = s_all.drop("_mod").schema
    import glob as _glob

    for side, frame in ((0, p_all), (1, s_all)):
        tmp = os.path.join(d, f"_staged_{side}")
        frame.repartition(1).write.partitionBy("_mod").parquet(tmp)
        for tag, (_how, mod) in parts.items():
            found = _glob.glob(os.path.join(tmp, f"_mod={mod}", "part-*.parquet"))
            dest_dir = dirs[tag][side]
            if found:
                stage_part(found[0], os.path.join(dest_dir, "real.parquet"), _MTIME0)
            else:  # degenerate cohort (no rows at this sf): keep the
                # former behavior of an empty staged file
                write_stream_file(
                    spark.createDataFrame([], p_schema if side == 0 else s_schema),
                    dest_dir, "real.parquet", _MTIME0,
                )
        shutil.rmtree(tmp)
    # The sentinel only needs to outrun the staged rows' max event
    # time, and the four staged frames PARTITION ev_f exactly — so one
    # aggregate over the cached union replaces the former four staged-
    # file read-backs. Sentinels are staged as second same-mtime files:
    # availableNow with no maxFilesPerTrigger reads the whole directory
    # in batch 0, so file layout within the batch is irrelevant.
    far = (
        ev_f.agg((F.max("ets") + F.expr("INTERVAL 30 DAYS")).alias("far"))
        .collect()[0]["far"]
    )
    # the per-stream watermark is the MIN across streams, so BOTH
    # sides of BOTH parts carry the sentinel. Each sentinel file is
    # WRITTEN once (one tiny Spark job per side) and file-copied into
    # the other part's directory — stage_part is pure filesystem, so
    # the 4 staged sentinels cost 2 jobs, not 4.
    first, rest = list(parts)[0], list(parts)[1:]
    write_stream_file(
        spark.createDataFrame(
            [(-1, -1, far, 0.0)],
            "event_id bigint, user_id bigint, p_ts timestamp, value double",
        ),
        dirs[first][0], "sentinel.parquet", _MTIME0,
    )
    write_stream_file(
        spark.createDataFrame([(-1, far)], "user_id bigint, s_ts timestamp"),
        dirs[first][1], "sentinel.parquet", _MTIME0,
    )
    for tag in rest:
        for side in (0, 1):
            # COPY (stage_part moves — it would steal the first
            # part's sentinel) then restamp the mtime
            dest = os.path.join(dirs[tag][side], "sentinel.parquet")
            shutil.copyfile(
                os.path.join(dirs[first][side], "sentinel.parquet"), dest
            )
            os.utime(dest, (_MTIME0, _MTIME0))

    # 'lo' — the round-5 LEFT OUTER certification: matched rows
    # reproduce the inner result AND every unmatched purchase emits a
    # null signup once the watermark proves no match can arrive.
    # 'fo' (round 8) — FULL OUTER on a disjoint cohort: the state
    # store must ALSO flush right-side signups that never matched any
    # purchase — a different eviction/emission branch than left-outer.
    # Both queries drain CONCURRENTLY (the s05 discipline).
    # 8 state partitions, measured: at 10× sf0.1 inputs, 8 and 16 tie
    # (~5.5s) and 32 is 1.5× WORSE — with 2-3 availableNow triggers the
    # per-partition state-store instances cost more than the extra
    # parallelism buys. A real cluster keyspace sizes this up via
    # stream_shuffle_partitions (state partitioning is fixed at first
    # trigger by the checkpoint).
    # State-store provider A/B (round 12, verdict #2): wrapping these
    # starts in state_store_provider(spark, "rocksdb") measured the
    # drains at 6.9-7.6s vs 3.5-5.4s on the default HDFS-backed store
    # (solo min-of-3, same session) — 8 partitions × 4 join state
    # stores × 2 queries pay the per-instance RocksDB open/cold-start
    # every availableNow run, and the join state never outgrows memory
    # at any bench SF. Default provider kept; RocksDB remains the
    # right call for LONG-RUNNING large-state deployments (s02's topk
    # documents that posture).
    sinks: dict[str, str] = {}
    starts = {}
    for tag, (how, _mod) in parts.items():
        pdir, sdir = dirs[tag]
        purchases = spark.readStream.schema(p_schema).parquet(pdir)
        signups = spark.readStream.schema(s_schema).parquet(sdir)
        joined = interval_join(
            purchases,
            signups,
            on="user_id",
            left_ts="p_ts",
            right_ts="s_ts",
            lower="6 hours",
            upper="0 seconds",
            watermark="6 hours",
            how=how,
        )
        out = joined.select(
            "event_id", "user_id", "p_ts", "s_ts",
            F.round("value", 2).alias("value"),
        )
        sinks[tag] = f"s03_{tag}_{next(_SINK_IDS)}"
        starts[tag] = functools.partial(StreamFlow(out).to_memory, sinks[tag])
    with stream_shuffle_partitions(spark, 8):
        part_wall = drain(starts)
    record_part_wall("s03_stream_interval_join", part_wall)
    # sentinel filter AFTER the sink: in-query it would push below the
    # watermark operator and delete the sentinels at the scan
    out = None
    for tag in parts:
        t = (
            spark.table(sinks[tag])
            .filter(F.col("user_id") >= 0)
            .select(F.lit(tag).alias("part"), "*")
        )
        out = t if out is None else out.unionByName(t)
    return out


S03_SQL = """
WITH p0 AS (SELECT event_id, user_id, ts::TIMESTAMP AS p_ts, value
            FROM events WHERE event_type = 'purchase' AND user_id % 4 = 0),
     s0 AS (SELECT user_id, ts::TIMESTAMP AS s_ts
            FROM events WHERE event_type = 'signup' AND user_id % 4 = 0),
     p1 AS (SELECT event_id, user_id, ts::TIMESTAMP AS p_ts, value
            FROM events WHERE event_type = 'purchase' AND user_id % 4 = 1),
     s1 AS (SELECT user_id, ts::TIMESTAMP AS s_ts
            FROM events WHERE event_type = 'signup' AND user_id % 4 = 1)
SELECT 'lo' AS part, p0.event_id, p0.user_id, p0.p_ts, s0.s_ts,
       round(p0.value, 2) AS value
FROM p0 LEFT JOIN s0 ON s0.user_id = p0.user_id
   AND s0.s_ts >= p0.p_ts - INTERVAL 6 HOUR AND s0.s_ts <= p0.p_ts
UNION ALL
SELECT 'fo', p1.event_id, coalesce(p1.user_id, s1.user_id), p1.p_ts, s1.s_ts,
       round(p1.value, 2)
FROM p1 FULL JOIN s1 ON s1.user_id = p1.user_id
   AND s1.s_ts >= p1.p_ts - INTERVAL 6 HOUR AND s1.s_ts <= p1.p_ts
"""


# --------------------------------------------------------------------------
# s04 — non-file streaming source through StreamFlow: rate-micro-batch
# emits a deterministic grid; the flow filters to 3 batches' worth of
# rows, windows them (2-minute tumbling) per value%3 key, and drains in
# complete mode once all 600 rows are accounted for. The oracle is
# closed-form integer arithmetic — no input table. (3 × 200-row batches
# still certify the multi-trigger loop; each extra trigger costs a full
# state commit round, so the gate doesn't buy coverage with more.)
def s04_rate_windows(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.pipeline import with_meta
    from stepist_spark.queries import record_part_wall
    from stepist_spark.session import load_table, stream_events
    from stepist_spark.sources.envelope import from_envelope, to_envelope
    from stepist_spark.streaming import StreamFlow
    from stepist_spark.streaming.runtime import drain, stop_when, stream_shuffle_partitions
    from stepist_spark.streaming.windows import tumbling_agg

    # Round-11 optimization (guide §2.6 overlap-independent-jobs): the
    # gate holds TWO independent two-hop topologies — the rate→files→
    # windows chain and the envelope producer→wire→consumer chain.
    # Within each chain hop 2 consumes hop 1's files (inherently
    # sequential), but ACROSS chains there is no dependency: both hop
    # 1s now run concurrently, then both hop 2s drain concurrently —
    # formerly all four ran back-to-back.

    d = fresh_scratch(spark, "s04_hop")
    hop_dir, ckpt1 = os.path.join(d, "hop"), os.path.join(d, "ckpt1")

    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 200)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60000)
        .option("numPartitions", 2)
        .load()
    )

    def bound(df: DataFrame) -> DataFrame:
        return df.filter(F.col("value") < 600).select(
            (F.col("value") % 3).cast("bigint").alias("k"),
            F.col("value"),
            F.col("timestamp").cast("timestamp_ntz").alias("ts"),
        )

    # env chain staging: the expected envelope count (bounded driver
    # read) that certifies hop A's exactly-once commit — computed AFTER
    # both hop-1 streams start, so the batch count job overlaps their
    # trigger loops (guide §2.6) instead of serializing ahead of them
    denv = fresh_scratch(spark, "s04_env")
    env_dir, eckpt = os.path.join(denv, "wire"), os.path.join(denv, "eckpt")

    def produce(df: DataFrame) -> DataFrame:
        sl = df.filter(F.col("event_id") % 37 == 0).select(
            "event_id",
            "user_id",
            # integers on the wire: a double's JSON round-trip is an
            # engine-specific shortest-repr question; cents are exact
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
        return to_envelope(with_meta(sl, hub_job_id="s04env"), key_col="user_id")

    # hop 1 (rate chain): generated source -> checkpointed exactly-once
    # FILE SINK. The value<600 filter caps the committed rows at
    # exactly 600, so the drain point is unambiguous no matter how many
    # extra rate batches fire before stop().
    # hop A (env chain): producer stream -> wire envelopes, started
    # CONCURRENTLY with hop 1 — its availableNow drain overlaps the
    # rate source's fixed-interval trigger loop.
    hop1 = StreamFlow(src, bound)
    hop_a = StreamFlow(stream_events(spark, sf), produce)
    with stream_shuffle_partitions(spark, 4):
        q1 = hop1.to_files(hop_dir, checkpoint=ckpt1, trigger={"processingTime": "0 seconds"})
        qa = hop_a.to_files(env_dir, checkpoint=eckpt, trigger={"availableNow": True})
        exp_rows = (
            load_table(spark, sf, "events").filter(F.col("event_id") % 37 == 0).count()
        )
        # Drain detection off the query's OWN progress counters: the
        # file sink reports numOutputRows=-1, but rate-micro-batch emits
        # values sequentially at 200 input rows per batch, so total
        # input ≥ 600 is exactly "batch 2 (values 400-599) committed" —
        # every value<600 row is in the sink. (A read.parquet().count()
        # job per poll against the live sink contended with the very
        # trigger loop it watched.) The file counts below gate the
        # commit by value.
        stop_when(q1, lambda ps: sum(p["numInputRows"] for p in ps) >= 600)
        drain({"env": lambda: qa})
    written = spark.read.parquet(hop_dir).count()
    if written != 600:
        raise TimeoutError(f"s04 hop-1 committed {written}/600 rows before timeout")
    committed = spark.read.parquet(env_dir).count()
    if committed != exp_rows:
        raise RuntimeError(f"s04 env hop-1 committed {committed}/{exp_rows} envelopes")

    # hop 2 (rate chain): an INDEPENDENT worker consumes hop 1's files
    # (the reference's chained-queue topology, one queue per step,
    # `stepist/flow/steps/next_step.py:22-31`) and windows them.
    # hop B (env chain): the consumer stream parses hop A's envelopes
    # back and aggregates; meta round-trip certified BY VALUE (the
    # consumer's group key collapses to -1 whenever `_meta.hub_job_id`
    # did not survive the wire, and the oracle never emits k=-1 —
    # round-6 verdict #2). Both second hops drain CONCURRENTLY.
    hop2_src = spark.readStream.schema("k bigint, value bigint, ts timestamp_ntz").parquet(hop_dir)
    flow2 = StreamFlow(
        hop2_src,
        lambda df: tumbling_agg(
            df,
            "ts",
            "2 minutes",
            [F.count(F.lit(1)).alias("n"), F.sum("value").cast("bigint").alias("sum_value")],
            group_by=["k"],
        ),
    )
    env_src = spark.readStream.schema("key string, value string").parquet(env_dir)

    def consume(df: DataFrame) -> DataFrame:
        parsed = from_envelope(
            df,
            "event_id BIGINT, user_id BIGINT, cents BIGINT",
            meta_schema="hub_job_id STRING",
        )
        k = (
            F.when(
                F.col("_meta.hub_job_id") == "s04env", F.col("user_id") % 10
            )
            .otherwise(F.lit(-1))
            .cast("bigint")
        )
        return parsed.groupBy(k.alias("k")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("sum_value"),
        )

    hop_b = StreamFlow(env_src, consume)
    sink = f"s04_sink_{next(_SINK_IDS)}"
    env_sink = f"s04_env_{next(_SINK_IDS)}"
    with stream_shuffle_partitions(spark, 4):
        part_wall = drain({
            "win": lambda: flow2.to_memory(sink, "complete"),
            "env": lambda: hop_b.to_memory(env_sink, "complete"),
        })
    record_part_wall("s04_rate_windows", part_wall)
    # introspection (reference `jobs_count`/`monitor_steps`,
    # `stepist/flow/steps/step.py:154-164`): after the drain the flow
    # must report inactive with a recorded final batch — deterministic
    # indicator bits, gated alongside the data
    st = flow2.status()
    # n packs (inactive-bit, exact total input rows): the introspection
    # counter must equal the 600 committed hop-1 rows — the
    # jobs_count-style metric is now value-gated, not just indicator-
    # gated (recentProgress numInputRows summed across batches)
    status = spark.createDataFrame(
        [(
            "status",
            0,
            int(not st["active"]) * 10_000 + int(st["input_rows"] or 0),
            int(st["batch_id"] is not None),
        ), (
            # 'state' (round 11): the state-store introspection VALUE-
            # gated — hop 2's complete-mode tumbling agg holds exactly
            # one state row per (k, window) group: 3 residues × 2 two-
            # minute windows over minutes 0-2 = 6; memory must be a
            # positive byte count (provider-dependent magnitude, so
            # gated as an indicator bit)
            "state",
            0,
            int(st["state_rows"] or 0),
            int((st["state_memory_bytes"] or 0) > 0),
        )],
        "part string, k bigint, n bigint, sum_value bigint",
    ).select(
        "part", "k", "n", "sum_value",
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    win = spark.table(sink).select(
        F.lit("win").alias("part"), "k", "n", "sum_value", "window_start", "window_end"
    )
    # 'env' — the reference's DEFINING deployment topology end-to-end
    # (producer -> queue -> worker, `stepist/flow/libs/simple_queue.py:
    # 49-77`, `stepist/flow/steps/step.py:125-152`), staged as hop A /
    # hop B above.
    env = spark.table(env_sink).select(
        F.lit("env").alias("part"),
        "k",
        "n",
        "sum_value",
        F.lit(None).cast("timestamp_ntz").alias("window_start"),
        F.lit(None).cast("timestamp_ntz").alias("window_end"),
    )
    return win.unionByName(status).unionByName(env)


S04_SQL = """
SELECT 'win' AS part, CAST(value % 3 AS BIGINT) AS k, count(*) AS n,
       CAST(sum(value) AS BIGINT) AS sum_value,
       epoch_ms((((value // 200) * 60000) // 120000) * 120000) AS window_start,
       epoch_ms(((((value // 200) * 60000) // 120000) * 120000) + 120000) AS window_end
FROM (SELECT unnest(generate_series(0, 599)) AS value)
GROUP BY 2, 5, 6
UNION ALL
SELECT 'status', 0, 10600, 1, NULL, NULL
UNION ALL
SELECT 'state', 0, 6, 1, NULL, NULL
UNION ALL
SELECT 'env' AS part, CAST(user_id % 10 AS BIGINT) AS k, count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value,
       NULL AS window_start, NULL AS window_end
FROM events WHERE event_id % 37 = 0
GROUP BY 2
"""


# --------------------------------------------------------------------------
# s05 — the EXACTLY-ONCE family, three certifications in one tag-union
# gate (reference operator #10: the re-push retry loop of
# `stepist/flow/libs/simple_queue.py:42-47`, upgraded):
# - 'dedup':   the events file stream unioned with ITSELF (every row
#   arrives exactly twice — deterministic planted duplicates) flows
#   through streaming.stream_dedup (dropDuplicates state) into an
#   append-mode memory sink; each event must land exactly once (2× row
#   count without the op — the oracle discriminates).
# - 'restart': a checkpointed FILE-SINK stream over 4 one-file batches
#   is KILLED mid-input, then restarted with the same checkpoint; the
#   final table must hold every row exactly once wherever the stop
#   landed (replayed epochs commit idempotently via _spark_metadata).
# - 'incr':    incremental HISTORY dedup (streaming/incremental.py):
#   micro-batch 2 replays batch 1's documents under shifted ids plus
#   novel ones; only first-seen content may reach the output table —
#   without the history anti-join the shifted copies land too.
def s05_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.queries import record_part_wall
    from stepist_spark.session import build_concurrently, load_table, stream_events
    from stepist_spark.sources.writers import write_stream
    from stepist_spark.streaming import StreamFlow
    from stepist_spark.streaming.dedup import stream_dedup
    from stepist_spark.streaming.incremental import dedup_against_history
    from stepist_spark.streaming.runtime import drain, stop_when, stream_shuffle_partitions

    # The four certifications are INDEPENDENT pipelines (separate
    # inputs, sinks, checkpoints), so after the batch staging writes
    # they all start at once and drain CONCURRENTLY — each availableNow
    # drain is mostly fixed per-trigger cost (planning, state commits,
    # sink commits), and running them back-to-back made this the
    # slowest gate at sf1 (round-7 verdict #1: ~30s of sequential
    # drains; overlapped, the wall is max(parts), not sum).

    # ---- staging (batch jobs, before any stream starts) --------------------
    # Round-11 optimization (guide §2.6 overlap-independent-jobs, the
    # w01 pattern): the three staged inputs target DISJOINT directories
    # and share no lineage, so their writes run from a small thread
    # pool instead of back-to-back; every stream still starts only
    # after ALL staging has completed, exactly as before.
    ev = (
        load_table(spark, sf, "events")
        .filter(F.col("user_id") % 4 == 2)
        .select("event_id", "ts", "event_type", F.round("value", 2).alias("value"))
    )
    d = fresh_scratch(spark, "s05_restart")
    in_dir, out_dir, ckpt = (os.path.join(d, p) for p in ("in", "out", "ckpt"))

    # 'incr' input: batch 2 replays batch 1's documents under shifted
    # ids plus novel ones; only first-seen content may land.
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    d1 = docs.filter(F.col("doc_id") % 4 == 0)
    batch2 = (
        d1.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        .unionByName(docs.filter(F.col("doc_id") % 4 == 1))
    )
    di = fresh_scratch(spark, "s05_incr")
    sdir = os.path.join(di, "stream")
    os.makedirs(sdir, exist_ok=True)

    # 'upsert' input: two micro-batches both touch most keys, so batch
    # 2's MERGE must OVERRIDE batch 1's partial totals — an append-
    # style sink would leave stale rows and fail the full-data oracle.
    e3 = (
        load_table(spark, sf, "events")
        .filter(F.col("user_id") % 4 == 3)
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
    )
    du = fresh_scratch(spark, "s05_upsert")
    udir = os.path.join(du, "in")
    os.makedirs(udir, exist_ok=True)

    def _stage_restart() -> None:
        ev.repartition(4).write.parquet(in_dir)

    def _stage_incr() -> None:
        # mtime order WITHIN the stream dir is the micro-batch order —
        # sequential within the stage, independent of the other stages
        write_stream_file(d1, sdir, "a.parquet", _MTIME0)
        write_stream_file(batch2, sdir, "b.parquet", _MTIME0 + 60)

    def _stage_upsert() -> None:
        write_stream_file(
            e3.filter(F.col("event_id") % 2 == 0), udir, "a.parquet", _MTIME0
        )
        write_stream_file(
            e3.filter(F.col("event_id") % 2 == 1), udir, "b.parquet", _MTIME0 + 60
        )

    build_concurrently(spark, [_stage_restart, _stage_incr, _stage_upsert])

    # ---- start all four pipelines, drain concurrently ----------------------
    now = {"availableNow": True}

    def start_run():
        rsrc = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        return StreamFlow(rsrc).to_files(out_dir, checkpoint=ckpt, trigger=now)

    def restart():
        # kill the first run MID-INPUT (after ≥2 of the 4 one-file
        # batches committed) while the other three drain, then resume
        # from the same checkpoint; the part's start offset stays the
        # killed run's, where the certification begins
        stop_when(start_run(), lambda ps: any(p["batchId"] >= 1 for p in ps))
        return start_run()

    from stepist_spark.operators import cdc as _cdc

    state = {"dir": None}

    def _merge_batch(batch_df, batch_id):
        if state["dir"] is None:
            prev = batch_df.sparkSession.createDataFrame(
                [], "event_type string, n bigint, cents bigint"
            )
        else:
            prev = batch_df.sparkSession.read.parquet(state["dir"])
        changes = batch_df.select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("cents").cast("bigint").alias("cents"),
            F.lit(int(batch_id)).alias("seq"),
            F.lit("U").alias("op"),
        )
        merged = _cdc.apply_changes(prev, changes, ["event_type"], "seq", "op")
        out = os.path.join(du, f"tgt_{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        state["dir"] = out

    dd = fresh_scratch(spark, "s05_dedup")
    ddir, dckpt = os.path.join(dd, "out"), os.path.join(dd, "ckpt")
    # 'dedup': the events stream unioned with ITSELF (every row arrives
    # exactly twice) through dropDuplicates state. File sink, not
    # memory: the memory sink collects every deduped row onto the
    # driver (1.28M rows at sf1 — Spark warns on the oversized
    # local-scan tasks), which is exactly the driver bottleneck this
    # engine avoids elsewhere.
    src = stream_events(spark, sf)
    deduped = stream_dedup(src.unionByName(src), ["event_id"]).select(
        "event_id", "ts", "event_type", F.round("value", 2).alias("value")
    )
    # 'incr': incremental HISTORY dedup (streaming/incremental.py)
    isrc = (
        spark.readStream.schema(d1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    # 'upsert': update-mode aggregate -> foreachBatch MERGE
    uagg = (
        spark.readStream.schema(e3.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(udir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    # 'restart': wherever the kill lands, the checkpointed file sink
    # must make the resumed run land every row EXACTLY ONCE — reference
    # operator #10's at-least-once upgraded to exactly-once
    # (`stepist/flow/libs/simple_queue.py:42-47`)
    with stream_shuffle_partitions(spark, 8):
        part_wall = drain({
            "dedup": lambda: StreamFlow(deduped).to_files(
                ddir, checkpoint=dckpt, trigger=now
            ),
            "incr": lambda: dedup_against_history(
                isrc,
                out_dir=os.path.join(di, "out"),
                history_dir=os.path.join(di, "hist"),
                checkpoint=os.path.join(di, "ckpt"),
                trigger=now,
            ),
            "upsert": lambda: write_stream(
                uagg,
                os.path.join(du, "ckpt"),
                output_mode="update",
                trigger=now,
                foreach_batch=_merge_batch,
            ),
            "restart": restart,
        })
    record_part_wall("s05_stream_dedup", part_wall)

    # ---- assemble the tag union off the materialized sinks -----------------
    dedup_part = spark.read.parquet(ddir).select(
        F.lit("dedup").alias("part"),
        F.col("event_id").alias("id"),
        "ts",
        F.col("event_type").alias("k"),
        "value",
    )
    restart_part = spark.read.parquet(out_dir).select(
        F.lit("restart").alias("part"),
        F.col("event_id").alias("id"),
        "ts",
        F.col("event_type").alias("k"),
        "value",
    )
    ts_type = ev.schema["ts"].dataType.simpleString()
    incr_part = spark.read.parquet(os.path.join(di, "out")).select(
        F.lit("incr").alias("part"),
        F.col("doc_id").alias("id"),
        F.lit(None).cast(ts_type).alias("ts"),
        F.md5(F.col("text")).alias("k"),
        F.lit(None).cast("double").alias("value"),
    )
    upsert_part = spark.read.parquet(state["dir"]).select(
        F.lit("upsert").alias("part"),
        F.col("n").alias("id"),
        F.lit(None).cast(ts_type).alias("ts"),
        F.col("event_type").alias("k"),
        F.col("cents").cast("double").alias("value"),
    )
    return (
        dedup_part.unionByName(restart_part)
        .unionByName(incr_part)
        .unionByName(upsert_part)
    )


# 'incr' mirror: first-seen batch wins, then min doc_id within the
# batch — texts already in batch 1 keep their batch-1 id; batch-2-only
# texts keep the min batch-2 id.
S05_SQL = """
WITH d1 AS (
    SELECT doc_id, md5(text) AS h, text FROM documents WHERE doc_id % 4 = 0
),
b2 AS (
    SELECT doc_id + 1000000 AS doc_id, md5(text) AS h FROM documents WHERE doc_id % 4 = 0
    UNION ALL
    SELECT doc_id, md5(text) FROM documents WHERE doc_id % 4 = 1
),
k1 AS (SELECT h, min(doc_id) AS doc_id FROM d1 GROUP BY h),
k2 AS (
    SELECT h, min(doc_id) AS doc_id FROM b2
    WHERE h NOT IN (SELECT h FROM k1) GROUP BY h
)
SELECT 'dedup' AS part, event_id AS id, ts::TIMESTAMP AS ts, event_type AS k,
       round(value, 2) AS value
FROM events
UNION ALL
SELECT 'restart', event_id, ts::TIMESTAMP, event_type, round(value, 2)
FROM events WHERE user_id % 4 = 2
UNION ALL
SELECT 'incr', doc_id, CAST(NULL AS TIMESTAMP), h, CAST(NULL AS DOUBLE)
FROM (SELECT h, doc_id FROM k1 UNION ALL SELECT h, doc_id FROM k2)
UNION ALL
-- upsert part: the foreachBatch-merged streaming MV must equal the
-- full-data aggregate (stale batch-1 partials would fail this)
SELECT 'upsert', count(*), CAST(NULL AS TIMESTAMP), event_type,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
FROM events WHERE user_id % 4 = 3 GROUP BY event_type
"""


QUERIES = [
    QuerySpec("s02_sliding_window", s02_sliding_window, S02_SQL, "streaming sliding windows + count-barrier drop + streaming session windows"),
    QuerySpec("s03_stream_interval_join", s03_stream_interval_join, S03_SQL, "stream-stream interval join vs batch range join"),
    QuerySpec("s04_rate_windows", s04_rate_windows, S04_SQL, "multi-hop StreamFlow (rate -> files -> windows) + introspection + two-hop wire-envelope topology (producer stream -> broker-shaped dir -> consumer stream, meta round-trip value-gated)"),
    QuerySpec("s05_stream_dedup", s05_stream_dedup, S05_SQL, "stream dedup + checkpoint-restart exactly-once + history dedup"),
]
