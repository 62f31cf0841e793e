"""Storage-partitioned read API: a join keyed on the bucket columns must
not re-shuffle the table side when buckets are key-aligned
(LakeTable.scan_clustered registers the manifest's bucket files as a
Spark bucketed table — same murmur3 partitionIdExpression, so the
declared layout is physically true). The copy-on-write merge's own
bucket-local fold is pinned in test_cow_fold.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.lake.table import LakeTable


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


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


def test_scan_clustered_falls_back_on_deltas(spark, tmp_path):
    ev = generate_change_events(spark, n_convs=10, turns_per_conv=3, n_updates=20)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    merge_into(table, ev.where(F.col("lsn") <= 30), batch_id=0, mode="mor")
    with table.scan_clustered() as tgt:
        assert tgt is None  # outstanding deltas → no clustered contract


def test_merge_rejects_null_primary_key(spark, tmp_path):
    """A NULL PK must fail BEFORE commit on both merge paths (EqualTo
    join keys would otherwise re-insert the row on every replay): the
    delta write that both run rejects it, and the table state stays
    untouched."""
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
