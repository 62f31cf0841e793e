"""E2E replay correctness: generated change stream → batched MERGE into a
LakeTable → final state equals the pure-Python LSN-order fold oracle
(reference analog: row-count + column assertions of
``tests/end_to_end/helpers/assertions.py:254-412``, strengthened to full
per-turn value equality per BASELINE.json)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.cdc.oracle import fold_events
from pipelinewise_spark.lake.table import LakeTable

EVENT_COLS = ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _expected(events_df, *, soft_delete=False):
    rows = [r.asDict() for r in events_df.select(*EVENT_COLS).collect()]
    return fold_events(rows, TRANSCRIPT_KEY, soft_delete=soft_delete)


def _actual(table):
    out = {}
    for r in table.read().collect():
        d = r.asDict()
        out[(d["conv_id"], d["turn_idx"])] = d
    return out


def _assert_state_equal(table, expected, *, soft_delete=False):
    actual = _actual(table)
    assert set(actual) == set(expected)
    for key, exp in expected.items():
        act = actual[key]
        if soft_delete and exp["_deleted"]:
            assert act["_sdc_deleted_at"] is not None, key
        else:
            assert act["text"] == exp["text"], key
            assert act["role"] == exp["role"], key
            assert act["tool"] == exp["tool"], key
            assert act["_sdc_deleted_at"] is None, key
        assert act["_lsn"] == exp["lsn"], key


@pytest.fixture(scope="module")
def events(spark):
    df = generate_change_events(
        spark, n_convs=40, turns_per_conv=6, n_updates=300,
        delete_pct=10, dup_every=7, skew_alpha=2.0,
    )
    df = df.persist()
    df.count()
    yield df
    df.unpersist()


def _new_table(spark, tmp_path, name, **kw):
    return LakeTable.create(
        spark, str(tmp_path / name), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=kw.pop("num_buckets", 8), **kw,
    )


def test_single_batch_hard_delete(spark, tmp_path, events):
    table = _new_table(spark, tmp_path, "t1")
    m = merge_into(table, events, batch_id=0, stream="public-transcripts")
    assert m["inserted"] > 0
    _assert_state_equal(table, _expected(events))
    assert table.bookmarks["public-transcripts"]["lsn"] == 540


def test_multi_batch_matches_single(spark, tmp_path, events):
    table = _new_table(spark, tmp_path, "t2")
    for i, (lo, hi) in enumerate([(0, 120), (120, 300), (300, 10**9)]):
        batch = events.where((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        merge_into(table, batch, batch_id=i)
    _assert_state_equal(table, _expected(events))


def test_replayed_batch_is_noop_by_batch_id(spark, tmp_path, events):
    table = _new_table(spark, tmp_path, "t3")
    merge_into(table, events, batch_id=0)
    v = table.version
    m = merge_into(table, events, batch_id=0)
    assert m["skipped"] is True
    assert table.version == v


def test_replayed_older_data_converges(spark, tmp_path, events):
    """At-least-once upstream: re-merging an OLD prefix after the full
    stream applied must not regress any row (monotonic LSN guard)."""
    table = _new_table(spark, tmp_path, "t4")
    merge_into(table, events, batch_id=0)
    old = events.where(F.col("lsn") <= 260)
    m = merge_into(table, old, batch_id=1)
    assert m.get("rows", 0) == 0 and "inserted" not in m
    _assert_state_equal(table, _expected(events))


def test_resume_overlapping_replay(spark, tmp_path, events):
    """Replay window [150, end] after bookmark=260: the ≤260 overlap is
    skipped, the 261..540 suffix applies — final state converges."""
    table = _new_table(spark, tmp_path, "t4b")
    merge_into(table, events.where(F.col("lsn") <= 260), batch_id=0)
    assert table.bookmarks["default"]["lsn"] == 260
    merge_into(table, events.where(F.col("lsn") > 150), batch_id=1)
    _assert_state_equal(table, _expected(events))


def test_soft_delete_tombstones(spark, tmp_path, events):
    table = LakeTable.create(
        spark, str(tmp_path / "t5"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=8, properties={"soft_delete": True},
    )
    merge_into(table, events, batch_id=0)
    exp = _expected(events, soft_delete=True)
    _assert_state_equal(table, exp, soft_delete=True)
    tomb = table.read().where(F.col("_sdc_deleted_at").isNotNull()).count()
    assert tomb == sum(1 for v in exp.values() if v["_deleted"])


def test_bucket_pruning_reads_only_affected(spark, tmp_path, events):
    table = _new_table(spark, tmp_path, "t6", num_buckets=16)
    merge_into(table, events, batch_id=0)
    one_key = events.where(F.col("op") == "I").limit(1)
    m = merge_into(table, one_key.withColumn("lsn", F.lit(10_000)), batch_id=1)
    assert m["affected_buckets"] == 1
    # untouched buckets keep their original files
    replaced = set(table.manifest["summary"]["replaced_buckets"])
    assert len(replaced) == 1


def test_lineage_and_metrics_in_manifest(spark, tmp_path, events):
    table = _new_table(spark, tmp_path, "t7")
    merge_into(table, events, batch_id=0)
    summ = table.manifest["summary"]
    assert summ["operation"] == "merge"
    files = summ["added_files"]
    assert files and all(f["rows"] is not None and f["bytes"] > 0 for f in files)
    assert sum(f["rows"] for f in files) == table.read().count()
    mets = summ["metrics"]
    assert set(mets) >= {"inserted", "updated", "deleted", "tombstoned", "stale", "carried"}


def test_exactly_once_window_eviction_guard(spark, tmp_path, events, monkeypatch):
    """Once batch ids fall out of the bounded replay-guard window, a merge
    that disables the LSN bookmark backstop (filter_applied_lsn=False)
    must refuse to run — with both guards off, a replay older than the
    window would double-apply (ADVICE r2)."""
    import pipelinewise_spark.lake.table as lt
    from pipelinewise_spark.cdc.merge import ExactlyOnceWindowError

    monkeypatch.setattr(lt, "MAX_APPLIED_BATCH_IDS", 2)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=4,
    )
    for i, (lo, hi) in enumerate([(0, 60), (60, 120), (120, 180)]):
        merge_into(
            t, events.where((F.col("lsn") > lo) & (F.col("lsn") <= hi)),
            batch_id=i, filter_applied_lsn=False,
        )
    # third commit evicted batch id 0 from the window of 2
    assert t.batch_ids_evicted("default") == 1
    assert t.applied_batch_ids("default") == {1, 2}
    with pytest.raises(ExactlyOnceWindowError):
        merge_into(
            t, events.where(F.col("lsn") > 180), batch_id=3,
            filter_applied_lsn=False,
        )
    # the LSN-filtered path still works after eviction (backstop intact)
    m = merge_into(t, events.where(F.col("lsn") > 180), batch_id=3)
    assert m.get("skipped") is None
    # and a replayed in-window id still short-circuits
    assert merge_into(t, events, batch_id=2, filter_applied_lsn=False)["skipped"]


def test_exactly_once_window_keyless_no_lsn_guard(spark, tmp_path, monkeypatch):
    """Keyless append-only source WITHOUT an lsn column has no bookmark
    backstop at all: allowed while the id window is complete, refused
    after eviction."""
    import pipelinewise_spark.lake.table as lt
    from pipelinewise_spark.cdc.merge import ExactlyOnceWindowError
    from pyspark.sql.types import StringType, StructField, StructType

    monkeypatch.setattr(lt, "MAX_APPLIED_BATCH_IDS", 2)
    schema = StructType([StructField("msg", StringType())])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=[], num_buckets=4,
        properties={"primary_key_required": False},
    )
    src = spark.createDataFrame([("a",), ("b",)], schema).withColumn(
        "op", F.lit("I")
    )
    for i in range(3):
        merge_into(t, src, batch_id=i)
    assert t.batch_ids_evicted("default") == 1
    with pytest.raises(ExactlyOnceWindowError):
        merge_into(t, src, batch_id=3)


@pytest.mark.parametrize("filter_applied_lsn", [False, True])
def test_keyless_append_honours_filter_applied_lsn(spark, tmp_path,
                                                   filter_applied_lsn):
    """A keyless batch below the committed bookmark: with the LSN filter
    off (a multi-partition Kafka topic, whose lagging partition carries
    lower LSNs) it is appended; with it on it is a replay and dropped —
    the same rule keyed merges follow."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField("msg", StringType())])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, key_cols=[],
                         num_buckets=4)

    def batch(msg, lsn):
        return spark.createDataFrame([(msg, lsn)], "msg string, lsn long") \
            .withColumn("op", F.lit("I"))

    merge_into(t, batch("ahead", 10), batch_id=0,
               filter_applied_lsn=filter_applied_lsn)
    m = merge_into(t, batch("lagging", 5), batch_id=1,
                   filter_applied_lsn=filter_applied_lsn)
    kept = ["ahead"] if filter_applied_lsn else ["ahead", "lagging"]
    assert m["inserted"] == len(kept) - 1
    assert sorted(r["msg"] for r in t.read().collect()) == kept
    assert t.bookmarks["default"]["lsn"] == 10


def test_merge_emptying_a_bucket_on_bucket_col_layout(spark, tmp_path):
    """Regression: on a non-aligned (bucket_col) layout the write adds a
    salted repartition AFTER the merge's CollectMetrics node; when the
    merge output is EMPTY (every surviving row of the affected buckets
    deleted) AQE's empty-relation propagation eliminated the metrics
    node and Observation.get crashed with a JVM toPyRow assertion. The
    fallback recomputes the same aggregates; data outcome (empty bucket)
    and metrics (deleted count, bookmark) must both hold."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("id", LongType()),
        StructField("band", IntegerType()),
        StructField("val", StringType()),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["id", "band"],
        num_buckets=4, bucket_col="id",
    )
    # ids 1..4 land doc 1 ALONE in its bucket (murmur3 placement) — the
    # shape that reproduced the crash; assert it stays that way so the
    # test keeps covering the empty-rewrite path
    t.overwrite(spark.createDataFrame(
        [(i, b, f"v{i}{b}") for i in range(1, 5) for b in range(4)], schema
    ))
    alone = (
        t.read().withColumn("_b", t.bucket_expr())
        .groupBy("_b").agg(F.count_distinct("id").alias("n"))
        .where("n = 1").count()
    )
    assert alone >= 1, "fixture no longer isolates a doc in its bucket"

    src = spark.createDataFrame(
        [(1, b) for b in range(4)], "id long, band int"
    ).withColumn("val", F.lit(None).cast("string")) \
     .withColumn("lsn", F.lit(int(t.version) + 1).cast("long")) \
     .withColumn("op", F.lit("D"))
    m = merge_into(t, src, stream="s")
    assert m["deleted"] == 4 and m["max_lsn"] is not None
    t = t.refresh()
    assert t.read().where("id = 1").count() == 0
    assert t.read().count() == 12
    assert t.bookmarks["s"]["lsn"] == m["max_lsn"]


def test_removed_apply_options_raise_type_error():
    """The table owns soft or hard delete, the envelope owns ``op`` and
    ``lsn``, and the merge has one read path (no SPJ switch): the apply
    path takes none of them as an option, so a stale caller fails loudly
    at the call instead of being silently ignored."""
    from pipelinewise_spark.cdc.partial import partial_sync
    from pipelinewise_spark.cdc.pipeline import CdcPipeline

    # the signature rejects the keyword before any argument is used
    with pytest.raises(TypeError):
        partial_sync(None, None, column="c", start=0, end=1, spj=True)
    with pytest.raises(TypeError):
        CdcPipeline(None, auto_evolve=True)
    with pytest.raises(TypeError):
        merge_into(None, None, soft_delete=True)
