"""Physical-plan invariants for the contract queries — the plans we
audited with .explain(), frozen as regressions: column pruning reaches
the scan, filters push down to parquet, small dims broadcast, LSH joins
are equi-joins (no cartesian product), aggregates partial-aggregate
map-side, expressions stay inside whole-stage codegen, and merge-on-read
resolution (reads and delta compaction) runs bucket-locally with no
exchange."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.lake.table import LakeTable
from pipelinewise_spark.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _plan(spark, name: str, execute: bool = False) -> str:
    df = QUERIES[name](spark, SF_DIR)
    if execute:
        # force AQE to finalize: a query whose plan now contains an
        # exchange (r8: opt-in scan spreading) shows only
        # "AdaptiveSparkPlan isFinalPlan=false" before execution, with
        # the codegen stage markers hidden until stages materialize.
        # Must be an action on THIS DataFrame's queryExecution (a
        # write/noop would plan a fresh one) — sf0.001 rows are tiny.
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_t1_projection_prunes_scan(spark):
    plan = _plan(spark, "t1_projection_selected_columns")
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # only the 3 selected columns reach the parquet reader
    assert "o_orderkey" in scan and "o_orderdate" in scan and "o_totalprice" in scan
    assert "o_custkey" not in scan and "o_comment" not in scan


def test_s11_bookmark_filter_pushed_down(spark):
    plan = _plan(spark, "s11_incremental_scan")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "GreaterThan(event_id" in pushed[0]


def test_j6_small_dim_broadcasts(spark):
    plan = _plan(spark, "j6_partial_sync_range")
    assert "BroadcastHashJoin" in plan
    # and the date-range predicate reaches the orders scan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(o_orderdate" in plan


def test_lsh_joins_are_equijoins_not_cartesian(spark):
    for name in ("dedup_minhash_lsh", "ann_lsh_similar_pairs",
                 "ann_lsh_banded_pairs", "ann_lsh_topk"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or \
            "ShuffledHashJoin" in plan, name


def test_a3_aggregates_partially_map_side(spark):
    plan = _plan(spark, "a3_batch_metrics")
    # partial + final HashAggregate pair around one exchange: replay
    # duplicates / hot groups collapse before the shuffle
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_hot_path_stays_in_codegen(spark):
    """Transform/canonicalization queries run as built-in expressions
    inside WholeStageCodegen — no Python evaluation nodes."""
    for name in ("t2_canonicalize_ts", "t4_t6_masks_customer",
                 "t7_conditional_mask", "text_lang_id", "s8_lsn_arithmetic"):
        plan = _plan(spark, name, execute=True)
        # "*(n)" is toString's whole-stage-codegen stage marker
        assert "WholeStageCodegen" in plan or "*(" in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_python_only_where_sanctioned(spark):
    """mapInPandas appears ONLY in the multimodal queries (the declared
    Arrow-batched Python path); every other contract query is JVM-only."""
    for name, fn in QUERIES.items():
        plan = _plan(spark, name)
        has_python = ("MapInPandas" in plan or "BatchEvalPython" in plan
                      or "ArrowEvalPython" in plan)
        if name.startswith("multimodal"):
            assert "MapInPandas" in plan, name
        else:
            assert not has_python, f"{name} runs Python in the hot path"


@pytest.mark.parametrize("name", ["ann_cosine_topk", "ann_ivf_topk", "a5_max_pk_probe"])
def test_cross_joins_are_broadcast_only(spark, name):
    """The only sanctioned cross joins carry a broadcast scalar/centroid
    side — never a shuffled cartesian of two large inputs."""
    plan = _plan(spark, name)
    if "CartesianProduct" in plan:
        raise AssertionError(f"{name} plans a CartesianProduct")
    # any cross join must be the broadcast nested-loop form (small side
    # broadcast), never a shuffled one — plan strings print the join type
    # after the key lists, e.g. "SortMergeJoin [k], [k], Cross"
    for ln in plan.splitlines():
        if ", Cross" in ln or " Cross," in ln:
            assert "BroadcastNestedLoopJoin" in ln, f"{name}: shuffled cross join: {ln}"


def _sql_plans(spark, action) -> list[str]:
    """Physical plans of the SQL executions ``action`` runs, as the
    session's SQL status store recorded them (writes included)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id():
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    first = last_id()
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    n = store.executionsCount()
    ex = store.executionsList(max(0, n - 100), 100)
    return [
        ex.apply(i).physicalPlanDescription()
        for i in range(ex.size())
        if ex.apply(i).executionId() > first
    ]


def _mor_table(spark, path, **create_kw) -> LakeTable:
    """A CoW base plus two outstanding MoR delta batches."""
    ev = generate_change_events(spark, n_convs=20, turns_per_conv=4,
                                n_updates=80, delete_pct=10)
    t = LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
                         num_buckets=4, **create_kw)
    merge_into(t, ev.where(F.col("lsn") <= 80), batch_id=0, stream="s")
    merge_into(t, ev.where((F.col("lsn") > 80) & (F.col("lsn") <= 120)),
               batch_id=1, stream="s", mode="mor")
    merge_into(t, ev.where(F.col("lsn") > 120), batch_id=2, stream="s",
               mode="mor")
    assert t.delta_pressure()["max_chain"] >= 2
    return t


@pytest.mark.parametrize("create_kw", [{}, {"bucket_col": "conv_id"}],
                         ids=["key_buckets", "conv_id_buckets"])
def test_mor_read_resolves_without_exchange(spark, tmp_path, create_kw):
    t = _mor_table(spark, str(tmp_path / "t"), **create_kw)
    plans = _sql_plans(
        spark, lambda: t.read().write.format("noop").mode("overwrite").save()
    )
    [plan] = [p for p in plans if "Scan parquet" in p]
    assert "Bucketed: true" in plan, plan
    assert "Exchange" not in plan, plan


def test_delta_compaction_writes_without_exchange(spark, tmp_path):
    t = _mor_table(spark, str(tmp_path / "t"))
    plans = _sql_plans(spark, t.compact)
    [write] = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert "Bucketed: true" in write and "SortAggregate" in write, write
    assert not any("Exchange" in p for p in plans), plans
    assert not any(t.manifest["deltas"].values())
