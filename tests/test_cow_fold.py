"""Copy-on-write as commit first, fold second: a CoW batch is applied by
its delta commit and then folded into the buckets it touched. These tests
pin the boundary between the two commits (an error or a competing writer
in between), the fold's plans, and its answers against the LSN-order fold
oracle."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F
from test_merge_replay import _assert_state_equal, _expected
from test_plan_invariants import _sql_plans

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.lake.table import LakeTable


@pytest.fixture(scope="module")
def events(spark):
    df = generate_change_events(
        spark, n_convs=20, turns_per_conv=4, n_updates=120, delete_pct=10,
        dup_every=5,
    ).persist()
    df.count()
    yield df
    df.unpersist()


def _table(spark, tmp_path, name="t", **kw) -> LakeTable:
    return LakeTable.create(spark, str(tmp_path / name), TRANSCRIPT_SCHEMA,
                            TRANSCRIPT_KEY, num_buckets=4, **kw)


def _lsn(lo, hi=None):
    c = F.col("lsn") > lo
    return c if hi is None else c & (F.col("lsn") <= hi)


def _write_plans(spark, action) -> list[tuple[str, int]]:
    """Each data write ``action`` runs, in order: its executed plan as the
    SQL status store recorded it, and the number of hash-partitioning
    exchanges in its final (adaptive) plan."""
    out = []
    for plan in _sql_plans(spark, action):
        if "InsertIntoHadoopFsRelationCommand" not in plan:
            continue
        final = plan.split("== Initial Plan ==")[0]
        details = plan.split("\n\n")
        n_hash = sum(
            any(d.startswith(f"({i}) Exchange") and "Arguments: hashpartitioning" in d
                for d in details)
            for i in re.findall(r"Exchange \((\d+)\)", final)
        )
        out.append((plan, n_hash))
    return out


def test_cow_merge_plans_one_exchange_then_none(spark, tmp_path, events):
    """Key-aligned buckets: the batch's delta write pays one
    hash-partitioning exchange (the dedup's; the copy-on-write merge
    before the fold paid two), and the fold joins two bucketed relations
    and writes with none."""
    t = _table(spark, tmp_path)
    merge_into(t, events.where(F.col("lsn") <= 120), batch_id=0)
    out = []
    writes = _write_plans(spark, lambda: out.append(
        merge_into(t, events.where(_lsn(120, 150)), batch_id=1)))
    assert len(writes) == 2, [p for p, _ in writes]
    (batch_plan, batch_hash), (fold_plan, fold_hash) = writes
    assert batch_hash == 1, batch_plan
    assert fold_hash == 0 and "Exchange" not in fold_plan, fold_plan
    assert "SortMergeJoin" in fold_plan and "Bucketed: true" in fold_plan, fold_plan
    assert out[0]["affected_buckets"] == 4 and "folded" not in out[0]


def test_error_between_delta_and_fold_commit(spark, tmp_path, events, monkeypatch):
    """A failure after the delta commit leaves the batch applied: it reads
    as the oracle's fold, its replay skips, and the next batch folds the
    leftover deltas of the buckets it touches."""
    t = _table(spark, tmp_path)
    merge_into(t, events.where(F.col("lsn") <= 80), batch_id=0, stream="s")

    def fail(*a, **kw):
        raise RuntimeError("fold failed")

    monkeypatch.setattr(LakeTable, "fold", fail)
    with pytest.raises(RuntimeError, match="fold failed"):
        merge_into(t, events.where(_lsn(80, 160)), batch_id=1, stream="s")
    monkeypatch.undo()

    t = LakeTable(spark, t.path)
    assert t.manifest["summary"]["operation"] == "merge_delta"
    assert any(t.manifest["deltas"].values())
    assert t.bookmarks["s"]["lsn"] == 160
    _assert_state_equal(t, _expected(events.where(F.col("lsn") <= 160)))

    v = t.version
    assert merge_into(t, events.where(_lsn(80, 160)), batch_id=1, stream="s") == {
        "skipped": True, "batch_id": 1}
    assert t.version == v

    m = merge_into(t, events.where(_lsn(160)), batch_id=2, stream="s")
    assert m["inserted"] + m["updated"] > 0
    touched = t.manifest["summary"]["affected_buckets"]
    assert touched and not any(t.manifest["deltas"].get(str(b)) for b in touched)
    _assert_state_equal(t, _expected(events))


def test_lost_fold_commit_keeps_batch_and_winner(spark, tmp_path, events, monkeypatch):
    """Another writer commits between the delta commit and the fold
    commit: the fold loses without failing the merge or re-applying the
    batch, the bookmark and the winner's commit stand, and vacuum
    reclaims the lost fold's files."""
    t = _table(spark, tmp_path)
    merge_into(t, events.where(F.col("lsn") <= 80), batch_id=0, stream="s")
    fold, lost = LakeTable.fold, []

    def fold_then_other_writer(self, *a, **kw):
        out = fold(self, *a, **kw)
        lost.extend(p for fl in out[0].values() for p in fl)
        LakeTable(spark, self.path).commit(
            bookmarks={"other": {"lsn": 7}}, summary={"operation": "other_writer"})
        return out

    monkeypatch.setattr(LakeTable, "fold", fold_then_other_writer)
    v = t.version
    m = merge_into(t, events.where(_lsn(80, 160)), batch_id=1, stream="s")
    monkeypatch.undo()
    # the fold's link dirs and write dir are gone with it
    assert not [n for n in os.listdir(t.path) if n.startswith("_tmp-")]

    assert m["folded"] is False and m["max_lsn"] == 160
    assert m["inserted"] + m["updated"] > 0
    # delta commit + the other writer's commit; no re-applied batch
    assert t.version == v + 2
    assert t.manifest["summary"]["operation"] == "other_writer"
    assert t.bookmarks == {"s": {"lsn": 160}, "other": {"lsn": 7}}
    assert t.applied_batch_ids("default") == {0, 1}
    assert any(t.manifest["deltas"].values())
    _assert_state_equal(t, _expected(events.where(F.col("lsn") <= 160)))

    data = os.path.join(t.path, "data")
    live = {p for fmap in (t.manifest["buckets"], t.manifest["deltas"])
            for fl in fmap.values() for p in fl}
    assert lost and not live & set(lost)
    assert all(os.path.exists(os.path.join(t.path, p)) for p in lost)
    t.vacuum(keep_versions=1, min_age_sec=0)
    assert not any(os.path.exists(os.path.join(t.path, p)) for p in lost)
    assert {os.path.join("data", f) for f in os.listdir(data)} == live

    merge_into(t, events.where(_lsn(160)), batch_id=2, stream="s")
    _assert_state_equal(t, _expected(events))


@pytest.mark.parametrize("soft_delete", [False, True], ids=["hard", "soft"])
def test_fold_on_conv_id_buckets_matches_oracle(spark, tmp_path, events, soft_delete):
    """Buckets coarser than the keys (``bucket_col='conv_id'``): the fold
    may shuffle, and still equals the oracle batch after batch."""
    t = _table(spark, tmp_path, bucket_col="conv_id",
               properties={"soft_delete": soft_delete})
    for i, (lo, hi) in enumerate([(0, 60), (60, 130), (130, None)]):
        merge_into(t, events.where(_lsn(lo, hi)), batch_id=i, stream="s")
        assert not any(t.manifest["deltas"].values())
    _assert_state_equal(t, _expected(events, soft_delete=soft_delete),
                        soft_delete=soft_delete)


def test_batch_found_by_files_wins_lsn_ties(spark, tmp_path):
    """With the bookmark filter off, a batch resending an applied LSN is
    still the batch side of the fold (found by its files), and it wins
    the tie as the source side of the merge always has."""
    rows = [(1, "I", "c1", 0, "user", "first", None, None)]
    cols = "lsn long, op string, conv_id string, turn_idx int, role string, " \
           "text string, tool string, ts timestamp"
    t = _table(spark, tmp_path)
    merge_into(t, spark.createDataFrame(rows, cols), batch_id=0)
    again = [(1, "U", "c1", 0, "user", "second", None, None)]
    m = merge_into(t, spark.createDataFrame(again, cols), batch_id=1,
                   filter_applied_lsn=False)
    assert (m["updated"], m["stale"], m["max_lsn"]) == (1, 0, 1)
    assert [r["text"] for r in t.read().collect()] == ["second"]
