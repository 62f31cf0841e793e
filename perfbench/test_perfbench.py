"""Tests of the benchmark's own helpers: the oracle, the self-time
arithmetic, the percentile rule, job attribution and the reporting of runs
with failed batches. Only the seed test needs a Spark session.

Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
import run  # noqa: E402
from spans import (Job, Span, TooFewSamples, attribute_jobs, covered,  # noqa: E402
                   percentile, self_times)

EVENTS = [
    # lsn, op, conv, turn, text
    (1, "I", "c1", 0, "a"),
    (2, "I", "c1", 1, "b"),
    (3, "I", "c2", 0, "c"),
    (4, "U", "c1", 0, "a2"),
    (5, "D", "c1", 1, "b"),
    (5, "D", "c1", 1, "b"),  # verbatim replay
    (6, "U", "c2", 0, "c2"),
]


def _events(tmp_path) -> list[str]:
    p = str(tmp_path / "events.parquet")
    cols = list(zip(*EVENTS))
    pq.write_table(pa.table({
        "lsn": pa.array(cols[0], pa.int64()), "op": list(cols[1]),
        "stream": ["s"] * len(EVENTS), "conv_id": list(cols[2]),
        "turn_idx": pa.array(cols[3], pa.int32()), "text": list(cols[4]),
    }), p)
    return [p]


def _table(tmp_path, base_rows, delta_rows=()) -> str:
    """A one-bucket table in the lake layout: data files plus a manifest."""
    root = tmp_path / "t"
    (root / "_manifests").mkdir(parents=True)
    (root / "data").mkdir()

    def write(name, rows):
        conv, turn, text, lsn, deleted = zip(*rows)
        pq.write_table(pa.table({
            "conv_id": list(conv), "turn_idx": pa.array(turn, pa.int32()),
            "text": list(text), "_lsn": pa.array(lsn, pa.int64()),
            "_sdc_deleted_at": pa.array(deleted, pa.timestamp("us")),
        }), str(root / "data" / name))
        return [f"data/{name}"]

    fields = [{"logical": c, "physical": c} for c in
              ("conv_id", "turn_idx", "text", "_lsn", "_sdc_deleted_at")]
    manifest = {"version": 1, "fields": fields,
                "buckets": {"0": write("b0.parquet", base_rows)},
                "deltas": {"0": write("d0.parquet", delta_rows)} if delta_rows else {}}
    (root / "_manifests" / "v000000000001.json").write_text(json.dumps(manifest))
    return str(root)


GOOD = [("c1", 0, "a2", 4, None), ("c2", 0, "c2", 6, None)]


def test_oracle_accepts_the_fold(tmp_path):
    r = oracle.compare(_events(tmp_path), _table(tmp_path, GOOD))
    assert r["ok"], r
    assert r["rows"] == 2


def test_oracle_catches_changed_text_and_resurrected_delete(tmp_path):
    bad = [("c1", 0, "a2", 4, None), ("c2", 0, "WRONG", 6, None),
           ("c1", 1, "b", 2, None)]
    r = oracle.compare(_events(tmp_path), _table(tmp_path, bad))
    assert not r["ok"]
    assert (r["changed"], r["extra"], r["missing"]) == (1, 1, 0)


def test_oracle_resolves_deltas_and_drops_tombstones(tmp_path):
    import datetime

    base = [("c1", 0, "a", 1, None), ("c1", 1, "b", 2, None), ("c2", 0, "c", 3, None)]
    now = datetime.datetime(2024, 1, 1)
    delta = [("c1", 0, "a2", 4, None), ("c1", 1, "b", 5, now), ("c2", 0, "c2", 6, None)]
    r = oracle.compare(_events(tmp_path), _table(tmp_path, base, delta))
    assert r["ok"], r


def test_oracle_limits_the_fold_to_applied_lsns(tmp_path):
    upto3 = [("c1", 0, "a", 1, None), ("c1", 1, "b", 2, None), ("c2", 0, "c", 3, None)]
    assert oracle.compare(_events(tmp_path), _table(tmp_path, upto3), max_lsn=3)["ok"]


def test_oracle_catches_duplicate_keys(tmp_path):
    dup = GOOD + [("c2", 0, "c2", 6, None)]
    r = oracle.compare(_events(tmp_path), _table(tmp_path, dup))
    assert not r["ok"] and r["duplicate_keys"] == 1


def _span(i, name, a, b, parent=None):
    return Span(i, name, a, b, parent, "b0", "main")


def test_self_time_subtracts_children():
    spans = [_span(0, "batch", 0.0, 10.0), _span(1, "merge", 1.0, 9.0, 0),
             _span(2, "write", 2.0, 6.0, 1), _span(3, "commit", 6.0, 7.0, 1)]
    st = self_times(spans)
    assert st == pytest.approx({0: 2.0, 1: 3.0, 2: 4.0, 3: 1.0})


def test_self_time_counts_parallel_children_once():
    # fan-out: three per-stream spans on pool threads overlap in time
    spans = [_span(0, "fanout", 0.0, 10.0), _span(1, "s0", 1.0, 6.0, 0),
             _span(2, "s1", 2.0, 8.0, 0), _span(3, "s2", 7.5, 9.0, 0)]
    assert self_times(spans)[0] == pytest.approx(10.0 - 8.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, "p", 5.0, 10.0), _span(1, "c", 4.0, 7.0, 0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([], 0, 1) == 0.0


def test_percentile_needs_ten_samples_beyond():
    values = list(range(1, 101))  # 100 samples: 10 lie beyond p90
    assert percentile(values, 0.9) == 90
    with pytest.raises(TooFewSamples):
        percentile(values[:99], 0.9)  # 99 samples: only 9 beyond
    assert percentile(list(range(20)), 0.5) == 9
    with pytest.raises(TooFewSamples):
        percentile(list(range(19)), 0.5)


def test_weighted_percentile_counts_weights_as_samples():
    # two batches: 30 events visible at 1 s, 70 at 3 s
    assert percentile([1.0, 3.0], 0.5, weights=[30, 70]) == 3.0
    assert percentile([1.0, 3.0], 0.25, weights=[30, 70]) == 1.0
    assert percentile([3.0, 1.0], 0.9, weights=[70, 30]) == 3.0
    with pytest.raises(TooFewSamples):
        percentile([1.0, 3.0], 0.9, weights=[3, 5])


def _job(group, submitted):
    return Job(group, submitted, submitted + 0.1, 1, 0.1, 0, 0, 0)


def test_attribute_jobs_by_group_then_by_batch_interval():
    spans = [_span(0, "fanout", 0.0, 10.0), _span(1, "merge", 1.0, 5.0, 0)]
    jobs = [_job("pwspan:1", 2.0), _job(None, 6.0), _job(None, 11.0)]
    out = attribute_jobs(jobs, spans, {"fanout"})
    # by group; ungrouped by submission time; outside every batch dropped
    assert {sid: [j.submitted for j in js] for sid, js in out.items()} == {1: [2.0], 0: [6.0]}


def _window(n_fresh: int) -> dict:
    return {"eps": [120.0], "fresh": [float(i) for i in range(n_fresh)], "fresh_w": None,
            "reads": [0.4, 0.5, 0.6]}


def test_a_complete_window_reports_every_metric():
    problems: list[str] = []
    m = run.e2e_metrics(_window(100), 3.0, 400.0, 100.0, 1800.0, problems)
    assert problems == []
    assert m["freshness_s_p90"] == 89.0 and m["scaling_eff"] == pytest.approx(1.0)


def test_a_window_with_one_uncommitted_file_is_reported_not_raised():
    # 100 files released, 99 committed: p90 has only 9 samples beyond it
    problems: list[str] = []
    m = run.e2e_metrics(_window(99), 3.0, 400.0, 100.0, 1800.0, problems)
    assert m["freshness_s_p90"] is None and m["freshness_s_p50"] == 49.0
    assert len(problems) == 1 and problems[0].startswith("freshness_s_p90:")


def test_failed_batches_leave_metrics_uncomputed_not_raised():
    problems: list[str] = []
    res = {"eps": [], "fresh": [], "fresh_w": [], "reads": []}
    m = run.e2e_metrics(res, 3.0, 400.0, 0.0, 1800.0, problems)
    assert [k for k, v in m.items() if v is None] == [
        "events_per_s", "scaling_eff", "freshness_s_p50", "freshness_s_p90", "read_s_p50"]
    assert len(problems) == 5


def test_cycle_rates_count_whole_cycles_only():
    import workloads

    c = workloads.MOR_CYCLE
    # (round, hand-over, end of round, events): one second and 100 events
    # per round, and a failed round in the second cycle
    rounds = [(i, float(i), i + 1.0, 100) for i in range(2 * c)]
    del rounds[c + 3]
    assert workloads.cycle_rates(rounds) == [pytest.approx(100.0)]


def test_seed_changes_the_log_but_not_its_size(tmp_path):
    """Inputs come from the seed: the same seed gives the same log, another
    seed a different log of the same size."""
    pyspark = pytest.importorskip("pyspark")  # noqa: F841
    from pyspark.sql import SparkSession

    import inputs

    spark = (SparkSession.builder.master("local[1]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "1")
             .config("spark.sql.warehouse.dir", str(tmp_path / "wh"))
             .getOrCreate())
    size = dict(n_convs=20, n_updates=200)

    def rows(seed):
        df = inputs._log(spark, seed, size, "s").select("lsn", "op", "conv_id", "turn_idx")
        return sorted(tuple(r) for r in df.collect())

    try:
        a, again, b = rows(1), rows(1), rows(2)
    finally:
        spark.stop()
    assert a == again
    assert len(a) == len(b)
    assert a != b
