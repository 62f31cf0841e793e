"""Lineage/metrics DataFrames, CSV source metadata, compaction."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.lake.metrics import (
    commit_metrics_df,
    file_lineage_df,
    manifest_history,
)
from pipelinewise_spark.lake.table import LakeTable
from pipelinewise_spark.sources.files import read_csv_batch


def test_commit_metrics_and_lineage(spark, tmp_path):
    events = generate_change_events(
        spark, n_convs=10, turns_per_conv=4, n_updates=60, delete_pct=10
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, events.where(F.col("lsn") <= 50), batch_id=0, stream="s")
    merge_into(table, events.where(F.col("lsn") > 50), batch_id=1, stream="s")

    hist = manifest_history(table)
    assert [m["version"] for m in hist] == [0, 1, 2, 3, 4]

    mdf = commit_metrics_df(spark, table)
    rows = {r["version"]: r for r in mdf.collect()}
    assert rows[2]["operation"] == "merge" and rows[2]["inserted"] > 0
    assert rows[4]["updated"] >= 0 and rows[4]["rows_added"] > 0

    ldf = file_lineage_df(spark, table)
    lineage = ldf.collect()
    assert all(r["rows"] > 0 and r["bytes"] > 0 for r in lineage)
    # v1 files for buckets replaced in v2 are no longer live
    live_paths = {p for fl in table.manifest["buckets"].values() for p in fl}
    for r in lineage:
        assert r["live"] == (r["path"] in live_paths)
    # per-bucket lineage covers every live bucket
    assert {r["bucket"] for r in lineage if r["live"]} == {
        int(b) for b, fl in table.manifest["buckets"].items() if fl
    }


def test_file_lineage_marks_live_delta_files(spark, tmp_path):
    """Merge-on-read delta files the snapshot references are live; once
    compaction folds them into the base they are not."""
    events = generate_change_events(spark, n_convs=8, turns_per_conv=3, n_updates=30)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, events.where(F.col("lsn") <= 40), batch_id=0, stream="s")
    merge_into(table, events.where(F.col("lsn") > 40), batch_id=1, stream="s",
               mode="mor")

    def live():
        return {r["path"] for r in file_lineage_df(spark, table).collect() if r["live"]}

    base = {p for fl in table.manifest["buckets"].values() for p in fl}
    deltas = {p for fl in table.manifest["deltas"].values() for p in fl}
    assert deltas and live() == base | deltas
    table.compact()
    assert live() == {p for fl in table.manifest["buckets"].values() for p in fl}
    assert not live() & deltas


def test_compaction_bounds_file_chains(spark, tmp_path):
    events = generate_change_events(
        spark, n_convs=6, turns_per_conv=3, n_updates=40, delete_pct=0
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t2"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=2
    )
    # several appends to non-replaced buckets would grow chains; merges
    # replace buckets so chains stay at 1 — force growth via commit(add)
    merge_into(table, events, batch_id=0)
    before = table.read().count()
    df = table.read().withColumn("_bucket", table.bucket_expr())
    added = table.write_bucket_files(df.limit(0))  # no-op add, keeps files
    # simulate chain growth: re-add the same files as appends
    extra = table.write_bucket_files(df)
    # manually append (not replace) to grow chains — emulates many small loads
    table.commit(added=extra)
    assert any(len(fl) > 1 for fl in table.manifest["buckets"].values())
    table.compact(max_files_per_bucket=1)
    assert all(len(fl) <= 1 for fl in table.manifest["buckets"].values())
    # compaction preserves content (note: the append duplicated rows on
    # purpose; compact preserves whatever the table held)
    assert table.read().count() == before * 2


def test_csv_source_metadata(spark, tmp_path):
    src = tmp_path / "csv"
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, v string"
    ).coalesce(1).write.option("header", "true").mode("overwrite").csv(str(src))
    df = read_csv_batch(spark, str(src), schema=None)
    rows = df.collect()
    assert len(rows) == 2
    assert all(r["_sdc_source_file"].startswith("file://") for r in rows)
    assert "_sdc_source_bucket" in df.columns
