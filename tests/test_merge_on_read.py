"""Merge-on-read mode: O(batch) delta commits, read-time resolution,
compaction folding, CoW/MoR interop."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.cdc.oracle import fold_events
from pipelinewise_spark.cdc.pipeline import CdcPipeline
from pipelinewise_spark.lake.table import LakeTable

EVENT_COLS = ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]


@pytest.fixture(scope="module")
def events(spark):
    df = generate_change_events(
        spark, n_convs=20, turns_per_conv=4, n_updates=120, delete_pct=12, dup_every=9
    ).persist()
    df.count()
    yield df
    df.unpersist()


def _expected(events, **kw):
    rows = [r.asDict() for r in events.select(*EVENT_COLS).collect()]
    return fold_events(rows, TRANSCRIPT_KEY, **kw)


def _assert_equal(table, expected):
    _assert_rows(table.read(), expected)


def _assert_rows(df, expected, cols=("text",)):
    actual = {(r["conv_id"], r["turn_idx"]): r.asDict() for r in df.collect()}
    assert set(actual) == set(expected)
    for k, exp in expected.items():
        for c in cols:
            assert actual[k][c] == exp.get(c), (k, c)


def _lsn_range(events, lo, hi):
    return events.where((F.col("lsn") > lo) & (F.col("lsn") <= hi))


def _link_dirs(table):
    return sorted(n for n in os.listdir(table.path) if n.startswith("_tmp-spj-"))


def test_mor_replay_matches_oracle_hard_delete(spark, tmp_path, events):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    pipe = CdcPipeline(table, stream="s", mode="mor")
    pipe.replay(events, n_batches=3)
    # deltas only — base never written
    assert not any(table.manifest["buckets"].values())
    assert any(table.manifest.get("deltas", {}).values())
    _assert_equal(table, _expected(events))
    assert table.bookmarks["s"]["lsn"] == 200


def test_mor_compaction_folds_and_drops_tombstones(spark, tmp_path, events):
    table = LakeTable.create(
        spark, str(tmp_path / "t2"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    CdcPipeline(table, stream="s", mode="mor").replay(events, n_batches=3)
    expected = _expected(events)
    table.compact()
    assert not any(table.manifest.get("deltas", {}).values())
    _assert_equal(table, expected)
    # tombstones physically gone: raw base read equals resolved read
    base_rows = table.read(resolve_deltas=False).count()
    assert base_rows == len(expected)


def test_mor_soft_delete_property(spark, tmp_path, events):
    table = LakeTable.create(
        spark, str(tmp_path / "t3"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=4, properties={"soft_delete": True},
    )
    CdcPipeline(table, stream="s", mode="mor").replay(events, n_batches=2)
    exp = _expected(events, soft_delete=True)
    actual = {(r["conv_id"], r["turn_idx"]): r.asDict() for r in table.read().collect()}
    assert set(actual) == set(exp)
    for k, e in exp.items():
        if e["_deleted"]:
            assert actual[k]["_sdc_deleted_at"] is not None, k


def test_mor_then_cow_interop(spark, tmp_path, events):
    """MoR deltas then a CoW merge: the CoW read resolves outstanding
    deltas and the rewrite clears them — one consistent result."""
    table = LakeTable.create(
        spark, str(tmp_path / "t4"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, events.where(F.col("lsn") <= 120), batch_id=0,
               stream="s", mode="mor")
    assert any(table.manifest["deltas"].values())
    merge_into(table, events.where(F.col("lsn") > 120), batch_id=1, stream="s")
    assert not any(table.manifest.get("deltas", {}).values())
    _assert_equal(table, _expected(events))


def test_delta_pressure_reads_only_the_manifest(spark, tmp_path, events, monkeypatch):
    """The pressure counts come from the manifest's file lists; no delta
    file is stat'ed."""
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    for i, (lo, hi) in enumerate([(0, 100), (100, 10**9)]):
        merge_into(table, _lsn_range(events, lo, hi), batch_id=i, stream="s",
                   mode="mor")
    deltas = table.manifest["deltas"]

    def no_stat(path):
        raise AssertionError(f"stat of {path}")

    monkeypatch.setattr(os.path, "getsize", no_stat)
    assert table.delta_pressure() == {
        "files": sum(len(fl) for fl in deltas.values()),
        "max_chain": max(len(fl) for fl in deltas.values()),
        "buckets": sum(1 for fl in deltas.values() if fl),
    }


def test_mor_batch_id_idempotence(spark, tmp_path, events):
    table = LakeTable.create(
        spark, str(tmp_path / "t5"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, events, batch_id=0, stream="s", mode="mor")
    v = table.version
    m = merge_into(table, events, batch_id=0, stream="s", mode="mor")
    assert m["skipped"] and table.version == v
    _assert_equal(table, _expected(events))


def _soft_delete_case(spark, path, events):
    table = LakeTable.create(
        spark, path, TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4,
        properties={"soft_delete": True},
    )
    CdcPipeline(table, stream="s", mode="mor").replay(events, n_batches=3)
    exp = _expected(events, soft_delete=True)
    for e in exp.values():
        e["deleted"] = e["_deleted"]
    df = table.read().withColumn("deleted", F.col("_sdc_deleted_at").isNotNull())
    return df, exp, ("text", "deleted")


def _evolved_case(spark, path, events):
    """Deltas written across an add, a version and a promote column: the
    bucket-local resolution must read every era's files under the
    manifest's physical names and widened types."""
    table = LakeTable.create(
        spark, path, TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, _lsn_range(events, 0, 100), batch_id=0, stream="s",
               mode="mor")
    table.evolve([
        {"action": "add_column", "name": "n_tokens", "type": "integer"},
        {"action": "add_column", "name": "score", "type": "integer"},
    ])
    merge_into(
        table,
        _lsn_range(events, 100, 150)
        .withColumn("n_tokens", F.length("text").cast("int"))
        .withColumn("score", (F.col("lsn") % 7).cast("int")),
        batch_id=1, stream="s", mode="mor",
    )
    table.evolve([
        {"action": "promote_column", "name": "n_tokens", "type": "long"},
        {"action": "version_column", "name": "score", "type": "string",
         "versioned_name": "score_v1"},
    ])
    merge_into(
        table,
        _lsn_range(events, 150, 10**9)
        .withColumn("n_tokens", (F.length("text") + 1000).cast("long"))
        .withColumn("score", F.concat(F.lit("s"), F.col("lsn").cast("string"))),
        batch_id=2, stream="s", mode="mor",
    )
    rows = []
    for r in events.select(*EVENT_COLS).collect():
        d = r.asDict()
        n = len(d["text"]) if d["text"] is not None else None
        if 100 < d["lsn"] <= 150:
            d.update(n_tokens=n, score_v1=d["lsn"] % 7)
        elif d["lsn"] > 150:
            d.update(n_tokens=None if n is None else n + 1000,
                     score=f"s{d['lsn']}")
        rows.append(d)
    exp = fold_events(rows, TRANSCRIPT_KEY)
    return table.read(), exp, ("text", "n_tokens", "score", "score_v1")


def _conv_bucket_case(spark, path, events):
    table = LakeTable.create(
        spark, path, TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4,
        bucket_col="conv_id",
    )
    CdcPipeline(table, stream="s", mode="mor").replay(events, n_batches=3)
    return table.read(), _expected(events), ("text",)


def _time_travel_case(spark, path, events):
    table = LakeTable.create(
        spark, path, TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, _lsn_range(events, 0, 100), batch_id=0, stream="s",
               mode="mor")
    merge_into(table, _lsn_range(events, 100, 150), batch_id=1, stream="s",
               mode="mor")
    v = table.version
    merge_into(table, _lsn_range(events, 150, 10**9), batch_id=2, stream="s",
               mode="mor")
    return (table.read(version=v), _expected(events.where(F.col("lsn") <= 150)),
            ("text",))


@pytest.mark.parametrize("case", [
    _soft_delete_case, _evolved_case, _conv_bucket_case, _time_travel_case,
], ids=["soft_delete", "evolved", "bucket_conv_id", "version"])
def test_bucket_local_read_matches_oracle(spark, tmp_path, events, case):
    df, expected, cols = case(spark, str(tmp_path / "t"), events)
    _assert_rows(df, expected, cols)


def test_lazy_mor_read_keeps_its_snapshot(spark, tmp_path, events):
    """A MoR read built before later commits and a compaction, executed
    after them, still returns the snapshot it was built on: its link dir
    pins that snapshot's files."""
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, _lsn_range(events, 0, 100), batch_id=0, stream="s",
               mode="mor")
    merge_into(table, _lsn_range(events, 100, 150), batch_id=1, stream="s",
               mode="mor")
    snap = table.read()  # built, not executed
    merge_into(table, _lsn_range(events, 150, 10**9), batch_id=2, stream="s",
               mode="mor")
    table.compact()
    assert not any(table.manifest["deltas"].values())
    _assert_rows(snap, _expected(events.where(F.col("lsn") <= 150)))
    _assert_equal(table, _expected(events))


def test_vacuum_ages_out_read_link_dirs(spark, tmp_path, events):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, _lsn_range(events, 0, 100), batch_id=0, stream="s",
               mode="mor")
    table.read().count()
    table.read().count()
    [old] = _link_dirs(table)  # a repeat read of a snapshot reuses its dir
    merge_into(table, _lsn_range(events, 100, 10**9), batch_id=1, stream="s",
               mode="mor")
    table.read().count()
    [young] = [d for d in _link_dirs(table) if d != old]
    past = time.time() - 7200
    os.utime(os.path.join(table.path, old), (past, past))
    table.vacuum(min_age_sec=3600)
    assert _link_dirs(table) == [young]
    _assert_equal(table, _expected(events))


def test_no_catalog_entry_survives_a_read(spark, tmp_path, events):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, _lsn_range(events, 0, 100), batch_id=0, stream="s")
    with table.scan_clustered() as df:
        assert df is not None
    merge_into(table, _lsn_range(events, 100, 10**9), batch_id=1, stream="s",
               mode="mor")
    table.read().count()
    table.compact()
    table.read().count()
    assert not [t.name for t in spark.catalog.listTables()
                if t.name.startswith("pw_")]


def test_read_of_missing_files_fails_without_leaving_a_link_dir(spark, tmp_path, events):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, _lsn_range(events, 0, 100), batch_id=0, stream="s",
               mode="mor")
    [rel, *_] = [r for fl in table.manifest["deltas"].values() for r in fl]
    os.unlink(os.path.join(table.path, rel))
    with pytest.raises(FileNotFoundError):
        table.read()
    assert _link_dirs(table) == []


def test_concurrent_compactions_keep_the_session_conf(spark, tmp_path, events):
    """Compactions of different tables overlap in the multi-stream
    fan-out. The bucketed-scan setting a compaction holds is
    session-wide: after every round of 4 concurrent compactions it is back
    to its value before, and each compacted bucket is one file."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    before = spark.conf.get(key)
    tables = [
        LakeTable.create(spark, str(tmp_path / f"t{i}"), TRANSCRIPT_SCHEMA,
                         TRANSCRIPT_KEY, num_buckets=4)
        for i in range(4)
    ]
    start = threading.Barrier(len(tables))

    def compact(t):
        start.wait()
        return t.compact()

    for rnd, (lo, hi) in enumerate([(0, 60), (60, 120), (120, 10**9)]):
        batch = events.where((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        for t in tables:
            merge_into(t, batch, batch_id=rnd, mode="mor")
        with ThreadPoolExecutor(len(tables)) as pool:
            list(pool.map(compact, tables))
        assert spark.conf.get(key) == before, rnd
        for t in tables:
            assert not any(t.manifest["deltas"].values())
            assert all(len(fl) == 1 for fl in t.manifest["buckets"].values() if fl)
    _assert_equal(tables[0], _expected(events))


def test_bucketed_scan_hold_is_reference_counted():
    """Overlapping holders of the compaction's bucketed-scan setting (more
    threads than cores, a short switch interval): it reads ``false`` while
    any holder is inside and is restored once the last one leaves."""
    import sys
    import threading
    from types import SimpleNamespace

    from pipelinewise_spark.lake.table import _bucketed_scans_forced

    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    conf = {key: "true"}
    session = SimpleNamespace(
        conf=SimpleNamespace(get=conf.__getitem__, set=conf.__setitem__)
    )
    seen = []

    def hold():
        for _ in range(200):
            with _bucketed_scans_forced(session):
                seen.append(conf[key])

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hold) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 16 * 200 and set(seen) == {"false"}
    assert conf[key] == "true"
