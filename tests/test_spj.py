"""Storage-partitioned-join read path: the CoW merge must not re-shuffle
the target side when buckets are key-aligned (LakeTable.scan_clustered
registers the manifest's bucket files as a Spark bucketed table — same
murmur3 partitionIdExpression, so the declared layout is physically true).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from test_plan_invariants import _sql_plans

from pipelinewise_spark.cdc import merge
from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.lake.table import LakeTable


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _merge_write_plan(spark, merge) -> tuple[str, int]:
    """The executed plan of the merge's data write, as the SQL status
    store recorded it, and the number of hash-partitioning exchanges in
    its final (adaptive) plan."""
    [plan] = [p for p in _sql_plans(spark, merge)
              if "InsertIntoHadoopFsRelationCommand" in p]
    final = plan.split("== Initial Plan ==")[0]
    details = plan.split("\n\n")
    n_hash = sum(
        any(d.startswith(f"({i}) Exchange") and "Arguments: hashpartitioning" in d
            for d in details)
        for i in re.findall(r"Exchange \((\d+)\)", final)
    )
    return plan, n_hash


def test_scan_clustered_join_has_single_exchange(spark, tmp_path, events=None):
    ev = generate_change_events(spark, n_convs=30, turns_per_conv=4, n_updates=50)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, ev.where(F.col("lsn") <= 120), batch_id=0)
    src = ev.where(F.col("lsn") > 120).select("conv_id", "turn_idx", "lsn")
    with table.scan_clustered() as tgt:
        assert tgt is not None, "fast path must apply on a delta-free table"
        j = src.alias("s").join(
            tgt.alias("t"),
            (F.col("s.conv_id") == F.col("t.conv_id"))
            & (F.col("s.turn_idx") == F.col("t.turn_idx")),
            "full_outer",
        )
        plan = _executed_plan(j)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        # and the scan really reads the data
        assert j.count() >= ev.where(F.col("lsn") <= 120).select(
            "conv_id", "turn_idx"
        ).distinct().count()
    # temp table dropped on exit
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("pw_spj_")]


def test_scan_clustered_falls_back_on_deltas(spark, tmp_path, monkeypatch):
    ev = generate_change_events(spark, n_convs=10, turns_per_conv=3, n_updates=20)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, ev.where(F.col("lsn") <= 30), batch_id=0, mode="mor")
    with table.scan_clustered() as tgt:
        assert tgt is None  # outstanding deltas → no clustered contract
    # a forced-spj merge over those deltas falls back AND reports
    # truthfully (the metric must not claim the fast path ran)
    monkeypatch.setattr(merge, "SPJ", True)
    m = merge_into(table, ev.where(F.col("lsn") > 30), batch_id=1)
    assert m["spj"] is False


def test_merge_spj_equals_plain(spark, tmp_path, monkeypatch):
    ev = generate_change_events(
        spark, n_convs=25, turns_per_conv=4, n_updates=120, delete_pct=10,
        dup_every=5,
    ).persist()
    ta = LakeTable.create(spark, str(tmp_path / "a"), TRANSCRIPT_SCHEMA,
                          TRANSCRIPT_KEY, num_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "b"), TRANSCRIPT_SCHEMA,
                          TRANSCRIPT_KEY, num_buckets=4)
    for i, (lo, hi) in enumerate([(0, 100), (100, 170), (170, 10**9)]):
        batch = ev.where((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        monkeypatch.setattr(merge, "SPJ", True)
        ma = merge_into(ta, batch, batch_id=i)
        monkeypatch.setattr(merge, "SPJ", False)
        mb = merge_into(tb, batch, batch_id=i)
        # batch 0 hits an EMPTY table → no files → honest fallback
        assert ma["spj"] is (i > 0) and mb["spj"] is False
        for k in ("inserted", "updated", "deleted", "stale"):
            assert ma[k] == mb[k], (i, k, ma, mb)
    rows = lambda t: sorted(  # noqa: E731
        (r["conv_id"], r["turn_idx"], r["text"], r["_lsn"])
        for r in t.read().collect()
    )
    assert rows(ta) == rows(tb)
    ev.unpersist()


def test_merge_into_spj_plan_single_exchange(spark, tmp_path, monkeypatch):
    """The PRODUCTION merge join — not a hand-built one — must shuffle
    only the source batch when the SPJ read is active. Regression for the
    round-2 finding: eqNullSafe join keys are Coalesce-rewritten by
    Catalyst, which hides the bucketed scan's HashPartitioning and
    re-shuffles the target; plain == keys (sound: null PKs are rejected
    pre-commit) keep the single-exchange plan. The source-side dedup
    aggregate must also reuse the one pinned exchange rather than adding
    its own."""
    ev = generate_change_events(spark, n_convs=30, turns_per_conv=4, n_updates=50)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, ev.where(F.col("lsn") <= 120), batch_id=0)
    out = []
    monkeypatch.setattr(merge, "SPJ", True)
    plan, n_hash = _merge_write_plan(spark, lambda: out.append(merge_into(
        table, ev.where((F.col("lsn") > 120) & (F.col("lsn") <= 150)),
        batch_id=1,
    )))
    assert out[0]["spj"] is True
    assert n_hash == 1, plan
    assert "SelectedBucketsCount" in plan, plan
    monkeypatch.setattr(merge, "SPJ", False)
    plan, n_hash = _merge_write_plan(spark, lambda: merge_into(
        table, ev.where(F.col("lsn") > 150), batch_id=2,
    ))
    # the plain path pays the target-side exchange the SPJ path eliminates
    assert n_hash == 2, plan


def test_merge_rejects_null_primary_key(spark, tmp_path):
    """A NULL PK must fail BEFORE commit on both merge paths (EqualTo
    join keys would otherwise re-insert the row on every replay); the
    table state stays untouched."""
    import pytest

    from pipelinewise_spark.cdc.merge import NullKeyError

    ev = generate_change_events(spark, n_convs=8, turns_per_conv=3, n_updates=10)
    bad = ev.withColumn(
        "conv_id",
        F.when(F.col("lsn") % 7 == 0, F.lit(None)).otherwise(F.col("conv_id")),
    )
    for mode in ("cow", "mor"):
        t = LakeTable.create(
            spark, str(tmp_path / f"t-{mode}"), TRANSCRIPT_SCHEMA,
            TRANSCRIPT_KEY, num_buckets=4,
        )
        with pytest.raises(NullKeyError):
            merge_into(t, bad, batch_id=0, mode=mode)
        t.refresh()
        assert t.version == 0 and t.read().count() == 0
        # a clean batch still applies afterwards
        m = merge_into(t, ev, batch_id=1, mode=mode)
        assert m.get("skipped") is None
        assert t.read().count() > 0


def test_merge_spj_auto_gates_on_target_bytes(spark, tmp_path, monkeypatch):
    """auto mode: a tiny target (a few KB) keeps the plain read (the
    avoided shuffle is free, AQE flexibility wins); forcing a 0-byte
    threshold flips it to the clustered path."""
    ev = generate_change_events(spark, n_convs=10, turns_per_conv=3, n_updates=20)
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                         TRANSCRIPT_KEY, num_buckets=4)
    m0 = merge_into(t, ev.where(F.col("lsn") <= 30), batch_id=0)
    assert m0["spj"] is False  # default 256 MB threshold
    monkeypatch.setattr(merge, "SPJ_MIN_TARGET_BYTES", 0)
    m1 = merge_into(t, ev.where(F.col("lsn") > 30), batch_id=1)
    assert m1["spj"] is True
    assert t.bucket_bytes() > 0
