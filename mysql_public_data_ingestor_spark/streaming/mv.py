"""Streaming materialized-view maintenance via ``foreachBatch``.

The streaming twin of the batch MV merges (`operators/advanced.py`:
``mv_incremental_agg_merge`` / ``mv_incremental_join_merge``): each
micro-batch's partial-aggregate state merges into the stored MV, so
the view stays fresh at O(delta) cost while history is never
rescanned. MV versions are epoch-keyed directories (the same
idempotency discipline as ``IdempotentParquetSink``): a
checkpoint-replayed epoch finds its version already present and
becomes a no-op, so restarts cannot double-count a batch.

At scale the merge input is |groups| + |batch groups| rows — the MV
refresh never depends on history size; the stored state is one tiny
parquet per version, and old versions are droppable retention.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MV_KEY = "o_orderpriority"


def _mv_state(df: DataFrame) -> DataFrame:
    """Mergeable partial-aggregate state: (count, exact cents sum)."""
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    return df.groupBy(MV_KEY).agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum(cents).alias("cents")
    )


def latest_epoch(mv_path: str) -> int | None:
    """Highest *committed* epoch: a version counts only once its
    ``_SUCCESS`` marker exists (same discipline as
    ``IdempotentParquetSink``). A crash mid-write leaves a partial
    ``epoch=N`` directory with no marker; it must not satisfy the
    replay guard, or the replayed batch would no-op and the data be
    lost while readers see a partial MV."""
    versions = glob.glob(os.path.join(mv_path, "epoch=*"))
    committed = (
        int(d.rsplit("=", 1)[1])
        for d in versions
        if os.path.exists(os.path.join(d, "_SUCCESS"))
    )
    return max(committed, default=None)


def read_mv(spark, mv_path: str) -> DataFrame:
    """Current MV contents (latest committed version)."""
    epoch = latest_epoch(mv_path)
    if epoch is None:
        raise FileNotFoundError(f"no MV version under {mv_path}")
    return spark.read.parquet(os.path.join(mv_path, f"epoch={epoch}"))


def _commit_epoch(batch_df: DataFrame, epoch_id: int, mv_path: str, state, merge) -> None:
    """The epoch commit both MVs share: skip an already-committed epoch,
    else write ``state(batch)`` (first epoch) or ``merge`` of the last
    committed version unioned with it as ``epoch=<epoch_id>``."""
    prev = latest_epoch(mv_path)
    if prev is not None and prev >= epoch_id:
        return  # replayed epoch: already committed, no-op
    delta = state(batch_df)
    if prev is None:
        merged = delta
    else:
        old = batch_df.sparkSession.read.parquet(
            os.path.join(mv_path, f"epoch={prev}")
        )
        merged = merge(old.unionByName(delta))
    merged.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(mv_path, f"epoch={epoch_id}")
    )


def _foreach_batch_query(
    stream: DataFrame, merge, mv_path: str, checkpoint_path: str, missing: str
):
    """writeStream query folding every micro-batch into the MV at
    ``mv_path`` with ``merge``; raises ``ValueError(missing)`` without a
    checkpoint (see ``maintain_priority_mv``)."""
    if not checkpoint_path:
        raise ValueError(missing)
    return (
        stream.writeStream.foreachBatch(lambda df, eid: merge(df, eid, mv_path))
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )


def merge_epoch(batch_df: DataFrame, epoch_id: int, mv_path: str) -> None:
    """Fold one micro-batch into the MV (idempotent per epoch).

    ``prev`` counts only committed (``_SUCCESS``-marked) versions, so a
    replay after a crash mid-write of this epoch re-runs the merge and
    ``mode("overwrite")`` replaces the partial directory.
    """
    _commit_epoch(
        batch_df, epoch_id, mv_path, _mv_state,
        lambda both: both.groupBy(MV_KEY).agg(
            F.sum("n_orders").alias("n_orders"), F.sum("cents").alias("cents")
        ),
    )


def maintain_priority_mv(stream_orders: DataFrame, mv_path: str, checkpoint_path: str):
    """writeStream query keeping the per-priority order MV fresh.

    ``checkpoint_path`` is REQUIRED: without a checkpoint, a restarted
    query re-numbers epochs from 0, every post-restart batch fails the
    ``prev >= epoch_id`` guard against the stale higher epoch, and data
    is silently dropped. With it, Structured Streaming resumes epoch
    ids monotonically and replays exactly the uncommitted batch.
    """
    return _foreach_batch_query(
        stream_orders, merge_epoch, mv_path, checkpoint_path,
        "maintain_priority_mv requires a checkpointLocation: restart "
        "without one restarts epoch ids at 0 and the epoch guard "
        "silently drops every post-restart batch",
    )


# --- user-bitmap MV: streaming-maintained exact distinct --------------------
#
# The streaming half of operators.sketches.sketch_bitmap_exact_distinct:
# per-(day, bucket) user bitmaps are EXACT mergeable partials, so a
# foreachBatch MV can fold each micro-batch in with bitmap_or_agg and
# any reader derives per-day or all-time distinct-user counts from the
# MV alone — the continuously-fresh COUNT(DISTINCT) that a 100 TB
# event stream cannot afford to recompute per query. Epoch commit
# discipline (_SUCCESS-gated, overwrite-on-replay) is shared with the
# priority MV above.

def _bitmap_state(events_df: DataFrame) -> DataFrame:
    return events_df.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
        F.bitmap_bit_position(F.col("user_id")).alias("pos"),
    ).groupBy("day", "bucket").agg(
        F.bitmap_construct_agg(F.col("pos")).alias("bm")
    )


def merge_bitmap_epoch(batch_df: DataFrame, epoch_id: int, mv_path: str) -> None:
    """Fold one micro-batch of events into the user-bitmap MV
    (idempotent per epoch; same commit rules as ``merge_epoch``)."""
    _commit_epoch(
        batch_df, epoch_id, mv_path, _bitmap_state,
        lambda both: both.groupBy("day", "bucket").agg(
            F.bitmap_or_agg(F.col("bm")).alias("bm")
        ),
    )


def maintain_user_bitmap_mv(stream_events: DataFrame, mv_path: str, checkpoint_path: str):
    """writeStream query keeping the daily user-bitmap MV fresh.
    ``checkpoint_path`` required for the same epoch-monotonicity reason
    as ``maintain_priority_mv``."""
    return _foreach_batch_query(
        stream_events, merge_bitmap_epoch, mv_path, checkpoint_path,
        "maintain_user_bitmap_mv requires a checkpointLocation (see "
        "maintain_priority_mv)",
    )


def read_bitmap_distinct(spark, mv_path: str) -> DataFrame:
    """Per-day exact distinct users + the all-days total, derived from
    the MV's bitmaps alone (total = OR-merge across days per bucket)."""
    mv = read_mv(spark, mv_path)
    per_day = mv.groupBy("day").agg(
        F.sum(F.bitmap_count(F.col("bm"))).cast("long").alias("n_users")
    )
    total = (
        mv.groupBy("bucket")
        .agg(F.bitmap_or_agg(F.col("bm")).alias("bm"))
        .agg(F.sum(F.bitmap_count(F.col("bm"))).cast("long").alias("n_users"))
        .select(F.lit(None).cast("timestamp").alias("day"), "n_users")
    )
    return per_day.unionByName(total)
