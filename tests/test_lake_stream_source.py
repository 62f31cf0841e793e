"""LakeTable as a native Spark streaming source (Python Data Source
API): offsets = manifest versions; a checkpointed consumer tails the
commit log exactly-once."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.lake.stream_source import LakeTableStreamSource
from pipelinewise_spark.lake.table import LakeTable


def _run_feed(spark, path, ckpt, out_dir, starting=None):
    """availableNow run into a parquet sink (memory sink cannot recover
    from a checkpoint); returns ALL rows the sink has accumulated."""
    reader = spark.readStream.format("laketable").option("path", path)
    if starting is not None:
        reader = reader.option("startingVersion", starting)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.schema(
        spark.readStream.format("laketable").option("path", path).load().schema
    ).parquet(out_dir)


def test_lake_stream_source_tails_commits(spark, tmp_path):
    spark.dataSource.register(LakeTableStreamSource)
    ev = generate_change_events(spark, n_convs=10, turns_per_conv=3, n_updates=20).persist()
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=2,
    )
    merge_into(t, ev.where(F.col("lsn") <= 30), batch_id=0)

    # replay from the beginning: the feed carries batch 0's table state
    out = str(tmp_path / "out1")
    got = _run_feed(spark, t.path, str(tmp_path / "c1"), out, starting=0)
    want = t.read().count()
    assert got.count() == want
    assert set(got.columns) == set(t.read().columns)

    # a second commit: the SAME checkpoint picks up ONLY the new range
    before = got.count()
    merge_into(t, ev.where(F.col("lsn") > 30), batch_id=1)
    got_all = _run_feed(spark, t.path, str(tmp_path / "c1"), out, starting=0)
    # CoW re-emits rewritten buckets: the checkpointed resume added the
    # files batch 1 committed (bucket-level changelog), never re-read
    # batch 0's range — the sink grew by exactly the new commit's rows
    new_rows = got_all.count() - before
    assert new_rows > 0
    m1_rows = sum(
        e["rows"] for e in t.manifest["summary"]["added_files"]
    )
    assert new_rows == m1_rows
    # the latest state per re-emitted key matches the live table
    folded = got_all.groupBy("conv_id", "turn_idx").agg(F.max("_lsn").alias("l"))
    live = t.read().select("conv_id", "turn_idx", "_lsn")
    stale = folded.join(live, ["conv_id", "turn_idx"]).where(F.col("l") > F.col("_lsn"))
    assert stale.count() == 0


def test_lake_stream_source_default_offset_is_latest(spark, tmp_path):
    spark.dataSource.register(LakeTableStreamSource)
    ev = generate_change_events(spark, n_convs=6, turns_per_conv=2, n_updates=8)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=2,
    )
    merge_into(t, ev, batch_id=0)
    # no startingVersion → tail AFTER the current version: empty batch
    got = _run_feed(spark, t.path, str(tmp_path / "c2"), str(tmp_path / "out2"))
    assert got.count() == 0


def test_lake_stream_source_vacuumed_range_fails_loudly(spark, tmp_path):
    """A consumer lagging past the vacuum retention must get an ERROR,
    not a silently thinned feed."""
    import pytest

    from pipelinewise_spark.lake.stream_source import _LakeTableStreamReader

    ev = generate_change_events(spark, n_convs=6, turns_per_conv=2, n_updates=8)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=2,
    )
    merge_into(t, ev.where(F.col("lsn") <= 12), batch_id=0)
    merge_into(t, ev.where(F.col("lsn") > 12), batch_id=1)
    # v2's files were superseded by v4's bucket rewrite; vacuum removes them
    t.vacuum(keep_versions=1, min_age_sec=0)
    reader = _LakeTableStreamReader(t.read().schema, {"path": t.path})
    with pytest.raises(RuntimeError, match="vacuum"):
        reader.partitions({"version": 0}, {"version": 1})
    # the still-live range reads fine
    parts = reader.partitions({"version": 3}, {"version": 4})
    assert parts and all(list(reader.read(p)) for p in parts)


def test_lake_stream_source_plans_one_partition_per_file(spark, tmp_path):
    """The feed must be EXECUTOR-parallel: a commit that added N files
    plans N InputPartitions (per-file task reads), and the union of the
    per-partition reads equals the commit's added rows."""
    from pipelinewise_spark.lake.stream_source import _LakeTableStreamReader

    ev = generate_change_events(spark, n_convs=24, turns_per_conv=3, n_updates=0)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=8,
    )
    merge_into(t, ev, batch_id=0)
    reader = _LakeTableStreamReader(t.read().schema, {"path": t.path})
    added = t.refresh().manifest["summary"]["added_files"]
    assert len(added) > 1
    # default plan PACKS tiny files (partitions scale with bytes, not
    # file count); maxBytesPerPartition=1 degenerates to one per file
    packed = reader.partitions({"version": 1}, {"version": 2})
    assert 1 <= len(packed) < len(added)
    reader.max_bytes = 1
    parts = reader.partitions({"version": 1}, {"version": 2})
    assert len(parts) == len(added)
    # per-partition reads yield ARROW RECORD BATCHES (vectorized path)
    batches = [b for p in parts for b in reader.read(p)]
    n_rows = sum(b.num_rows for b in batches)
    assert n_rows == sum(e["rows"] for e in added)
    import pyarrow as pa

    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    # packed plan reads the same rows
    assert sum(b.num_rows for p in packed for b in reader.read(p)) == n_rows
    # and through the real engine: the streamed count matches, executed
    # as Spark tasks (driver-side decode is gone by construction)
    spark.dataSource.register(LakeTableStreamSource)
    got = _run_feed(
        spark, t.path, str(tmp_path / "c"), str(tmp_path / "out"), starting=0
    )
    assert got.count() == n_rows
