"""Incremental corpus ingestion: dedup each micro-batch against ALL
history, not just the stream's watermark horizon.

``stream_dedup`` bounds state by time — right for event streams, wrong
for corpus building, where a document ingested months ago must still
suppress today's copy. The scalable shape keeps the seen-keys set as a
PARQUET TABLE (columnar, partitioned, cheap to anti-join) rather than
in the state store: each micro-batch anti-joins the history, appends
the survivors to both the output and the history, and stays
exactly-once via the streaming checkpoint plus idempotent-by-content
appends.

At 100 TB the anti-join is hash-key vs hash-key (16-byte md5s, not
documents) and prunes with AQE; the history table can be bucketed on
the hash for a shuffle-free anti-join.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from stepist_spark.operators.topk import grouped_topk
from stepist_spark.sources.writers import write_stream

# error conditions of a history read that mean "nothing ingested yet"
_NO_HISTORY = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def dedup_against_history(
    src: DataFrame,
    out_dir: str,
    history_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start a streaming ingestion that keeps only first-seen documents.

    Per micro-batch: content-hash the batch, drop rows whose hash is
    already in ``history_dir`` (left-anti join) or duplicated within the
    batch (min-id wins), append survivors to ``out_dir`` and their
    hashes to ``history_dir``. Restart-safe: the checkpoint replays an
    epoch only if it didn't complete, and replaying is idempotent for
    the history (same hashes are anti-joined away... except the epoch's
    own partial append — callers needing strict exactly-once should
    write history under epoch-id paths; documented trade-off).
    """
    spark = src.sparkSession

    def ingest(batch: DataFrame, epoch_id: int) -> None:
        hashed = batch.withColumn("_h", F.md5(F.col(text_col)))
        # in-batch dedup: min id wins (deterministic)
        hashed = grouped_topk(hashed, ["_h"], [F.col(id_col)], 1, rank_col="_rn").drop("_rn")
        # probe history through Spark, not the driver's local filesystem
        # — history_dir may be s3://-style storage where os.path never
        # matches. Only "no history yet" (missing or empty directory:
        # the first epoch) means no history; any other read failure (a
        # corrupt file, lost permissions) re-raises, because swallowing
        # it would append the whole batch undeduplicated.
        try:
            seen = spark.read.parquet(history_dir)
            has_history = "content_hash" in seen.columns
        except AnalysisException as exc:
            if exc.getCondition() not in _NO_HISTORY:
                raise
            has_history = False
        if has_history:
            hashed = hashed.join(seen, hashed["_h"] == seen["content_hash"], "left_anti")
        fresh = hashed.persist()
        try:
            fresh.drop("_h").write.mode("append").parquet(out_dir)
            fresh.select(F.col("_h").alias("content_hash")).write.mode("append").parquet(
                history_dir
            )
        finally:
            fresh.unpersist()

    return write_stream(src, checkpoint, trigger=trigger, foreach_batch=ingest)
