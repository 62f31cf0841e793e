"""Composability: the engine is both CDC SINK and SOURCE — table A's
native change feed (``readStream.format("laketable")``) drives a second
CdcPipeline into replica table B, and B converges to A's live state
across multiple commits and checkpointed restarts. This is the
replica-builder topology the reference cannot express (its consumers
poll warehouse tables); here it is one engine end-to-end:

    merge → LakeTable A → change feed → decode ops → merge → LakeTable B

A is a SOFT-DELETE table so deletes surface in the feed as tombstone
rows (``_sdc_deleted_at`` set) the downstream merge can apply as D ops
— the same contract the singer RECORD stream uses. CoW bucket rewrites
re-emit untouched rows of touched buckets; the LSN guard + last-per-key
dedup in B's merge absorb the re-emits (that is the bucket-level
changelog semantics documented in lake/stream_source.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.pipeline import CdcPipeline
from pipelinewise_spark.lake.stream_source import LakeTableStreamSource
from pipelinewise_spark.lake.table import LakeTable


def _sync(spark, a, pipe_b, ckpt):
    q = (
        spark.readStream.format("laketable")
        .option("path", a.path)
        .option("startingVersion", 0)
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: pipe_b.apply_batch(
                df.select(
                    "conv_id", "turn_idx", "role", "text", "tool", "ts",
                    F.col("_lsn").alias("lsn"),
                    F.when(F.col("_sdc_deleted_at").isNotNull(), "D")
                    .otherwise("U")
                    .alias("op"),
                ),
                batch_id=bid,
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)


def _live(t):
    return (
        t.refresh()
        .read()
        .where(F.col("_sdc_deleted_at").isNull())
        .select("conv_id", "turn_idx", "text", "_lsn")
    )


def test_feed_driven_replica_converges(spark, tmp_path):
    spark.dataSource.register(LakeTableStreamSource)
    ev = generate_change_events(
        spark, n_convs=20, turns_per_conv=3, n_updates=40, delete_pct=15
    ).persist()
    a = LakeTable.create(
        spark, str(tmp_path / "a"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=4, properties={"soft_delete": True},
    )
    b = LakeTable.create(
        spark, str(tmp_path / "b"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=4,
    )
    pipe_a = CdcPipeline(a, stream="src")
    pipe_b = CdcPipeline(b, stream="replica")
    ckpt = str(tmp_path / "ckpt")

    bounds = ev.agg(F.min("lsn"), F.max("lsn")).first()
    lo, hi = bounds[0], bounds[1]
    mid = (lo + hi) // 2

    # commit 1 into A, sync, compare
    pipe_a.apply_batch(ev.where(F.col("lsn") <= mid), batch_id=0)
    _sync(spark, a, pipe_b, ckpt)
    assert _live(a).exceptAll(_live(b)).count() == 0
    assert _live(b).exceptAll(_live(a)).count() == 0

    # commit 2 (updates + tombstones), restart the consumer from the
    # SAME checkpoint (kill/resume), converge again
    pipe_a.apply_batch(ev.where(F.col("lsn") > mid), batch_id=1)
    _sync(spark, a, pipe_b, ckpt)
    la, lb = _live(a), _live(b)
    assert la.exceptAll(lb).count() == 0
    assert lb.exceptAll(la).count() == 0
    # deletes actually flowed: A tombstoned rows are absent from B
    tombs = a.read().where(F.col("_sdc_deleted_at").isNotNull())
    n_tombs = tombs.count()
    assert n_tombs > 0
    assert (
        tombs.select("conv_id", "turn_idx")
        .join(b.read(), ["conv_id", "turn_idx"], "inner")
        .count()
        == 0
    )
    # idle re-run: nothing new, replica unchanged (exactly-once)
    v_before = b.refresh().version
    _sync(spark, a, pipe_b, ckpt)
    assert b.refresh().version == v_before
