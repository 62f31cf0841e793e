"""Round-2 maintenance features: shuffle-free clustered compaction,
optimistic-concurrency merge retry, and time/spatial canonicalization
breadth (reference binlog.py:224-241)."""

from __future__ import annotations

import json
import struct

import pytest
from pyspark.sql import functions as F

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc import merge
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.functions import canonical
from pipelinewise_spark.lake.table import CommitConflict, LakeTable


def test_compact_file_count_uses_clustered_scan(spark, tmp_path):
    ev = generate_change_events(spark, n_convs=20, turns_per_conv=4, n_updates=60)
    # append-only (keyless) table: appends accumulate files per bucket
    # (no replacement), tripping the file-count compaction trigger
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, [],
                         num_buckets=2)
    merge_into(t, ev.where(F.col("lsn") <= 100), batch_id=0, stream="s")
    merge_into(t, ev.where(F.col("lsn") > 100), batch_id=1, stream="s")
    assert any(len(fl) > 1 for fl in t.manifest["buckets"].values())
    before = sorted(
        (r["conv_id"], r["turn_idx"], r["text"], r["_lsn"]) for r in t.read().collect()
    )
    m = t.compact(max_files_per_bucket=1)
    assert m is not None and m["summary"]["clustered"] is True
    after = sorted(
        (r["conv_id"], r["turn_idx"], r["text"], r["_lsn"]) for r in t.read().collect()
    )
    assert before == after
    assert all(len(fl) <= 1 for fl in t.manifest["buckets"].values())


def test_compact_with_deltas_is_clustered(spark, tmp_path):
    ev = generate_change_events(spark, n_convs=15, turns_per_conv=3, n_updates=30)
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                         TRANSCRIPT_KEY, num_buckets=4)
    merge_into(t, ev.where(F.col("lsn") <= 45), batch_id=0)
    expected = sorted(
        (r["conv_id"], r["turn_idx"], r["text"], r["_lsn"])
        for r in LakeTable(spark, str(tmp_path / "t")).read().collect()
    )
    # MoR deltas resolve per bucket inside the same clustered plan; an
    # older-LSN replay delta must fold away during compaction
    merge_into(t, ev.where(F.col("lsn") <= 20), batch_id="d", mode="mor",
               filter_applied_lsn=False)
    m = t.compact(max_files_per_bucket=64)
    assert m is not None and m["summary"]["clustered"] is True
    assert not any(t.manifest.get("deltas", {}).values())
    after = sorted(
        (r["conv_id"], r["turn_idx"], r["text"], r["_lsn"]) for r in t.read().collect()
    )
    assert after == expected


def test_merge_retries_on_commit_conflict(spark, tmp_path, monkeypatch):
    """Two writers, one table: the loser of the manifest CAS refreshes and
    re-applies (reference analog: warehouse MERGE transaction retry)."""
    ev = generate_change_events(spark, n_convs=15, turns_per_conv=3, n_updates=40)
    path = str(tmp_path / "t")
    h1 = LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4)
    h2 = LakeTable(spark, path)  # second handle, will go stale
    merge_into(h1, ev.where(F.col("lsn") <= 45), batch_id="a", stream="s")
    assert h2.version == 0  # stale
    with monkeypatch.context() as mp, pytest.raises(CommitConflict):
        mp.setattr(merge, "COMMIT_RETRIES", 0)
        merge_into(h2, ev.where(F.col("lsn") > 45), batch_id="b", stream="s")
    h2.refresh()  # the failed attempt left no manifest change
    m = merge_into(h2, ev.where(F.col("lsn") > 45), batch_id="b", stream="s")
    assert not m.get("skipped")
    # convergence: both batches applied exactly once
    from pipelinewise_spark.cdc.oracle import fold_events

    exp = fold_events(
        [r.asDict() for r in ev.select(
            "lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"
        ).collect()],
        TRANSCRIPT_KEY,
    )
    act = {(r["conv_id"], r["turn_idx"]): r for r in h2.read().collect()}
    assert set(act) == set(exp)
    # replay of an already-won batch id through a STALE handle: the retry
    # path refreshes and the batch-id guard turns it into a no-op
    h3 = LakeTable(spark, path)
    h1.refresh()
    merge_into(h1, ev.limit(0), batch_id="c", stream="s")  # advance version
    m2 = merge_into(h3, ev.where(F.col("lsn") > 45), batch_id="b", stream="s")
    assert m2.get("skipped")


def test_salted_write_spreads_hot_bucket(spark, tmp_path):
    """Read-locality layout (bucket_col='conv_id'): a hot conversation's
    rows land in ONE bucket; the salted repartition spreads that bucket
    over multiple writer tasks/files (north rule: skew-aware
    repartitioning of hot conv_id keys). Content is unchanged."""
    from pyspark.sql import functions as F2

    rows = spark.range(20000).select(
        F2.lit("hot-conv").alias("conv_id"),
        F2.col("id").cast("int").alias("turn_idx"),
        F2.lit("user").alias("role"),
        F2.concat(F2.lit("t"), F2.col("id").cast("string")).alias("text"),
        F2.lit(None).cast("string").alias("tool"),
        F2.timestamp_seconds(F2.lit(1704067200)).alias("ts"),
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        bucket_col="conv_id", num_buckets=8,
    )
    assert not t.buckets_aligned_with_keys  # unclustered (salted) write path
    t.overwrite(rows)
    files_per_bucket = {b: len(fl) for b, fl in t.manifest["buckets"].items() if fl}
    assert len(files_per_bucket) == 1  # one conv → one bucket
    assert max(files_per_bucket.values()) > 1  # ...written by >1 salted task
    assert t.read().count() == 20000


def test_time_canonicalization(spark):
    df = spark.createDataFrame([(3661,), (0,), (86399,), (90000,)], "sec int")
    rows = df.select(
        canonical.seconds_to_hms(F.col("sec")).alias("hms"),
        canonical.seconds_to_epoch_iso(F.col("sec")).alias("iso"),
    ).collect()
    got = {r["hms"]: r["iso"] for r in rows}
    assert "01:01:01" in got
    assert got["01:01:01"] == "1970-01-01T01:01:01.000000+00:00"
    assert got["00:00:00"] == "1970-01-01T00:00:00.000000+00:00"
    assert got["23:59:59"] == "1970-01-01T23:59:59.000000+00:00"
    assert "25:00:00" in got  # MySQL TIME exceeds 24h; hours not wrapped


def test_time_hms_edge_ranges(spark):
    """3-digit hours must not be lpad-truncated; negatives render
    MySQL-style '-HH:MM:SS' (full TIME range ±838:59:59)."""
    df = spark.createDataFrame(
        [(360000,), (3020399,), (-3661,), (-3020399,), (None,)], "sec long"
    )
    got = [r["hms"] for r in df.select(
        canonical.seconds_to_hms(F.col("sec")).alias("hms")
    ).collect()]
    assert set(got) == {"100:00:00", "838:59:59", "-01:01:01", "-838:59:59", None}


def _mysql_geom(wkb: bytes, srid: int = 4326) -> bytes:
    return srid.to_bytes(4, "little") + wkb


def test_wkb_to_geojson(spark):
    point = _mysql_geom(struct.pack("<BIdd", 1, 1, 19.04, 47.49))
    line = _mysql_geom(struct.pack("<BIIdddd", 1, 2, 2, 0.0, 0.0, 1.0, 2.0))
    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)]
    poly = _mysql_geom(
        struct.pack("<BII", 1, 3, 1)
        + struct.pack("<I", len(ring))
        + b"".join(struct.pack("<dd", *p) for p in ring)
    )
    truncated = _mysql_geom(struct.pack("<BI", 1, 1) + b"\x00" * 4)  # cut Point
    df = spark.createDataFrame(
        [(1, point), (2, line), (3, poly), (4, None), (5, b""),
         (6, b"\x01\x02"), (7, truncated)],
        "id int, g binary",
    )
    out = {
        r["id"]: (json.loads(r["gj"]) if r["gj"] else None)
        for r in df.select("id", canonical.wkb_to_geojson(F.col("g")).alias("gj")).collect()
    }
    assert out[1] == {"type": "Point", "coordinates": [19.04, 47.49]}
    assert out[2] == {"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 2.0]]}
    assert out[3]["type"] == "Polygon" and out[3]["coordinates"][0][1] == [4.0, 0.0]
    # NULL, empty, short, and truncated payloads all null out (permissive
    # convention) instead of crashing the executor task
    assert out[4] is None and out[5] is None and out[6] is None and out[7] is None
