"""Round-6 hardening: driver-parseable bench artifact, explicit gate
window, symmetric IVF maintenance (+ feed watermark re-emit filter),
reader-grace index re-saves, and the codebook-drift retrain probe."""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.functions import ann, ann_index
from pipelinewise_spark.lake.table import LakeTable

EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def _emb(spark, n=40, dim=16, seed=7, id0=0, shift=0.0):
    rng = random.Random(seed)
    rows = [
        (
            id0 + i,
            [round(rng.uniform(-1, 1) + shift, 4) for _ in range(dim)],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, EMB_SCHEMA)


# ---------------------------------------------------------------------------
# bench artifact: the FINAL stdout line must stay inside the driver's
# ~2000-char tail capture (BENCH_r05 recorded parsed=null when the spread
# map outgrew it)


def test_bench_emit_final_line_is_compact(tmp_path, capsys, monkeypatch):
    import bench

    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    result = {
        "metric": "m",
        "value": 1.0,
        "unit": "sec",
        "queries": {f"row_{i:02d}": 1.234 for i in range(30)},
        "runs_per_row": 3,
        # the r5 growth culprit: a per-row [min, max] map
        "spread": {f"row_{i:02d}": [1.1, 9.9] for i in range(30)},
        "events_per_sec": 120000,
    }
    bench._emit(result)
    out = capsys.readouterr().out.strip().splitlines()
    final = json.loads(out[-1])
    assert len(out[-1]) <= 1500
    assert "spread" not in final
    assert final["queries"] == result["queries"]
    assert final["events_per_sec"] == 120000
    # the full artifact (incl. spread) is on an earlier line AND on disk
    assert json.loads(out[0])["spread"] == result["spread"]
    with open(tmp_path / "BENCH_detail.json") as fh:
        assert json.load(fh)["spread"] == result["spread"]


def test_bench_emit_sheds_rows_when_oversized(tmp_path, capsys, monkeypatch):
    import bench

    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    result = {
        "metric": "m",
        "queries": {f"very_long_query_row_name_{i:03d}": 1.2 for i in range(60)},
        "spread": {},
    }
    bench._emit(result)
    final = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert final.get("queries_truncated") is True
    assert len(json.dumps(final)) <= 1500
    assert len(final["queries"]) > 0  # headline rows survive


# ---------------------------------------------------------------------------
# gate window: the driver snapshots the first GATE_WINDOW registry rows


def test_gate_window_contract():
    from pipelinewise_spark import queries as Q

    assert len(Q.GATE_QUERIES) == Q.GATE_WINDOW == 50
    # every §2 family representative + every LLM-op family + the round-6
    # persisted-index production path must sit INSIDE the window
    must_gate = {
        "j1_dedup_last_per_key", "cdc_fold_hard_delete",
        "cdc_fold_soft_delete", "a1_bookmark_max_lsn", "s8_lsn_arithmetic",
        "s10_snapshot_pk_ranges", "s11_incremental_scan",
        "s12_kafka_stream_fold", "s14_mongo_fold", "s16_catalog_discovery",
        "t1_projection_selected_columns", "t2_canonicalize_ts",
        "t5_mask_date", "t7_conditional_mask", "t8_evolution_mixed_era",
        "t9_widen_promote", "t10_flatten_json", "t11_timestamp_clamp",
        "lake_merge_changes_since", "dedup_exact", "dedup_ngram_jaccard",
        "dedup_minhash_lsh", "dedup_components", "dedup_simhash",
        "text_lang_id", "text_quality_score", "text_token_bpeish",
        "doc_fingerprint", "sample_stratified", "export_shards",
        "ann_cosine_topk", "ann_lsh_banded_pairs", "ann_ivf_topk",
        "ann_ivf_kmeans_cells", "ann_pq_codes", "ann_pq_adc_loaded",
        "s18_rest_incremental_fold", "dedup_index_lookup",
        "dedup_index_gate",  # promoted r7: admission gate + in-batch pass
        "stream_windowed_rates", "stream_conv_stats",
        "multimodal_features", "multimodal_frames",
    }
    missing = must_gate - set(Q.GATE_QUERIES)
    assert not missing, f"gates fell out of the driver window: {missing}"
    # tail baselines stay registered and oracle-checked, outside the window
    for name in Q._TAIL_BASELINES:
        assert name in Q.QUERIES and name not in Q.GATE_QUERIES
        assert name in Q.ORACLES


# ---------------------------------------------------------------------------
# symmetric IVF maintenance


def test_ivf_delete_cells(spark, tmp_path):
    emb = _emb(spark, n=50, seed=31)
    cells, centroids = ann_index.fit_ivf_index(emb, k=4, iters=2)
    idx = str(tmp_path / "ivf")
    ann_index.save_ivf_index(idx, cells, centroids)

    ann_index.delete_ivf_cells(
        idx, spark.createDataFrame([(3,), (9,), (9,)], "vec_id long")
    )
    loaded, cents = ann_index.load_ivf_index(spark, idx)
    assert loaded.count() == 48
    assert loaded.where(F.col("vec_id").isin(3, 9)).count() == 0
    assert cents == centroids  # deletes never touch the quantizer


def test_ivf_feed_maintenance_cli(spark, tmp_path):
    """A feed-driven IVF index converges under insert/update/delete —
    the --index-kind dispatch (here: auto-detected from index.json),
    mirroring the PQ path in test_run_feed_job.py."""
    import sys

    sys.path.insert(0, "jobs")
    import run_feed

    t = LakeTable.create(
        spark, str(tmp_path / "corpus"), EMB_SCHEMA, ["vec_id"],
        num_buckets=2, properties={"soft_delete": True},
    )

    def as_events(df, lsn0, op="I"):
        return df.select(
            (F.col("vec_id") + lsn0).alias("lsn"), F.lit(op).alias("op"),
            "vec_id", "embedding",
        )

    merge_into(t, as_events(_emb(spark, n=40, seed=3), 0), batch_id=0)
    idx = str(tmp_path / "ivf")
    cells, centroids = ann_index.fit_ivf_index(
        t.read().select("vec_id", "embedding"), k=4, iters=2
    )
    ann_index.save_ivf_index(idx, cells, centroids)
    v_fitted = t.refresh().version

    merge_into(t, as_events(_emb(spark, n=10, seed=5, id0=100), 500),
               batch_id=1)
    # delete lsns must EXCEED batch 1's max (609) or the table's
    # exactly-once replay filter drops them as already-applied
    merge_into(t, as_events(_emb(spark, n=2, seed=3, id0=3), 5000, op="D"),
               batch_id=2)
    assert run_feed.main([
        "--source", t.path, "--checkpoint", str(tmp_path / "ck"),
        "--mode", "index", "--target", idx,
        "--starting-version", str(v_fitted), "--timeout-sec", "180",
    ]) == 0

    loaded, cents = ann_index.load_ivf_index(spark, idx)
    assert loaded.count() == 48  # 40 + 10 new - 2 deleted
    assert loaded.where(F.col("vec_id") >= 100).count() == 10
    assert loaded.where(F.col("vec_id").isin(3, 4)).count() == 0
    # increments assign against the SAVED centroids — verify each new
    # vector landed in its argmin cell
    got = {r["vec_id"]: r["cell"] for r in
           loaded.where(F.col("vec_id") >= 100).collect()}
    vecs = {r["vec_id"]: r["embedding"] for r in
            t.read().where(F.col("vec_id") >= 100).collect()}
    for vid, v in vecs.items():
        d2s = {
            c: round(sum((a - b) ** 2 for a, b in zip(v, cv)), 6)
            for c, cv in cents
        }
        best = min(sorted(d2s), key=lambda c: (d2s[c], c))
        assert got[vid] == best


def test_feed_watermark_filters_cow_reemits(spark, tmp_path):
    """One changed vector must re-encode ONE row, not its whole bucket:
    CoW re-emits keep their original _lsn, so rows at or below the
    index's feed watermark are dropped before encoding. Proof: after
    the maintenance run, only the truly-changed rows carry the codes
    table's newest commit LSN."""
    import sys

    sys.path.insert(0, "jobs")
    import run_feed

    t = LakeTable.create(
        spark, str(tmp_path / "corpus"), EMB_SCHEMA, ["vec_id"],
        num_buckets=2, properties={"soft_delete": True},
    )

    def as_events(df, lsn0, op="I"):
        return df.select(
            (F.col("vec_id") + lsn0).alias("lsn"), F.lit(op).alias("op"),
            "vec_id", "embedding",
        )

    merge_into(t, as_events(_emb(spark, n=40, seed=11), 0), batch_id=0)
    idx = str(tmp_path / "pq")
    codes, cbs = ann_index.fit_pq_index(
        t.read().select("vec_id", "embedding"), m=2, sub_dim=8, k=4, iters=2
    )
    ann_index.save_pq_index(idx, codes, cbs)
    # the fit covered everything up to lsn 39 — record that
    ann_index.set_feed_watermark(idx, 39)
    v_fitted = t.refresh().version

    # 5 new vectors + 1 changed vector; their buckets' CoW rewrite
    # re-emits ~half the 40 old rows into the feed
    merge_into(t, as_events(_emb(spark, n=5, seed=13, id0=200), 500),
               batch_id=1)
    # the change's lsn must exceed batch 1's max (704) — replay filter
    merge_into(t, as_events(_emb(spark, n=1, seed=99, id0=7), 5000),
               batch_id=2)
    assert run_feed.main([
        "--source", t.path, "--checkpoint", str(tmp_path / "ck"),
        "--mode", "index", "--index-kind", "pq", "--target", idx,
        "--starting-version", str(v_fitted), "--timeout-sec", "180",
    ]) == 0

    doc = ann_index._load_doc_any(idx)
    codes_t = LakeTable(spark, os.path.join(idx, doc["codes_dir"]))
    rows = codes_t.read().select("vec_id", "_lsn").collect()
    # the initial overwrite leaves _lsn NULL; only merged rows carry one
    hi = max(r["_lsn"] for r in rows if r["_lsn"] is not None)
    touched = sorted(r["vec_id"] for r in rows if r["_lsn"] == hi)
    assert touched == [7, 200, 201, 202, 203, 204]  # O(delta), not O(bucket)
    assert ann_index.feed_watermark(idx) == 5007
    # drift bookkeeping rode along
    assert doc["last_delta_rows"] == 6


def test_no_feed_watermark_flag_keeps_lagging_lsns(spark, tmp_path):
    """--no-feed-watermark: a source whose LSNs are NOT globally
    monotonic across commits (multi-partition Kafka ingested with
    filter_applied_lsn=False) commits a lagging-partition insert whose
    lsn sits BELOW the watermark an earlier drain recorded; the filter
    would drop it forever, the opt-out keeps it."""
    import sys

    sys.path.insert(0, "jobs")
    import run_feed

    t = LakeTable.create(
        spark, str(tmp_path / "corpus"), EMB_SCHEMA, ["vec_id"],
        num_buckets=2, properties={"soft_delete": True},
    )

    def as_events(df, lsn0):
        return df.select(
            (F.col("vec_id") + lsn0).alias("lsn"), F.lit("I").alias("op"),
            "vec_id", "embedding",
        )

    merge_into(t, as_events(_emb(spark, n=30, seed=81), 1000), batch_id=0)
    idx = str(tmp_path / "pq")
    codes, cbs = ann_index.fit_pq_index(
        t.read().select("vec_id", "embedding"), m=2, sub_dim=8, k=4, iters=2
    )
    ann_index.save_pq_index(idx, codes, cbs)
    ann_index.set_feed_watermark(idx, 1029)  # fit covered lsn ≤ 1029
    v_fitted = t.refresh().version

    # lagging partition: a NEW vector arrives with lsn 50 < watermark
    merge_into(t, as_events(_emb(spark, n=1, seed=82, id0=700), -650),
               batch_id=1, filter_applied_lsn=False)
    args = [
        "--source", t.path, "--checkpoint", str(tmp_path / "ck"),
        "--mode", "index", "--target", idx,
        "--starting-version", str(v_fitted), "--no-feed-watermark",
        "--timeout-sec", "180",
    ]
    assert run_feed.main(args) == 0
    loaded, _ = ann_index.load_pq_index(spark, idx)
    assert loaded.where(F.col("vec_id") == 700).count() == 1
    # and the watermark was left alone (filter disabled end-to-end)
    assert ann_index.feed_watermark(idx) == 1029


def test_bulk_loaded_null_lsn_rows_get_indexed(spark, tmp_path):
    """overwrite()-loaded rows carry NULL _lsn in the feed; they must
    pass the watermark filter (they are genuinely new to the index) and
    must not move the watermark."""
    import sys

    sys.path.insert(0, "jobs")
    import run_feed

    t = LakeTable.create(
        spark, str(tmp_path / "corpus"), EMB_SCHEMA, ["vec_id"],
        num_buckets=2, properties={"soft_delete": True},
    )
    t.overwrite(_emb(spark, n=20, seed=91))
    # index fitted on only HALF the bulk load — the drain must encode
    # the rest even though every feed row has NULL _lsn
    half = t.read().where(F.col("vec_id") < 10).select(
        "vec_id", "embedding")
    codes, cbs = ann_index.fit_pq_index(half, m=2, sub_dim=8, k=4, iters=2)
    idx = str(tmp_path / "pq")
    ann_index.save_pq_index(idx, codes, cbs)
    assert run_feed.main([
        "--source", t.path, "--checkpoint", str(tmp_path / "ck"),
        "--mode", "index", "--target", idx,
        "--starting-version", "0", "--timeout-sec", "180",
    ]) == 0
    loaded, _ = ann_index.load_pq_index(spark, idx)
    assert loaded.count() == 20
    assert ann_index.feed_watermark(idx) == -1  # NULL rows can't advance it


# ---------------------------------------------------------------------------
# reader grace + vacuum


def test_resave_keeps_prior_snapshot_for_readers(spark, tmp_path):
    emb = _emb(spark, n=30, seed=41)
    idx = str(tmp_path / "pq")
    codes, cbs = ann_index.fit_pq_index(emb, m=2, sub_dim=8, k=4, iters=2)
    ann_index.save_pq_index(idx, codes, cbs)
    reader_df, _ = ann_index.load_pq_index(spark, idx)  # long-running reader

    emb2 = _emb(spark, n=45, seed=42)
    codes2, cbs2 = ann_index.fit_pq_index(emb2, m=2, sub_dim=8, k=4, iters=2)
    ann_index.save_pq_index(idx, codes2, cbs2)  # re-save (retrain)

    # the pre-re-save reader's lazy plan still executes (grace dir kept)
    assert reader_df.count() == 30
    new_df, _ = ann_index.load_pq_index(spark, idx)
    assert new_df.count() == 45

    dirs = sorted(
        d for d in os.listdir(idx)
        if d == "codes" or d.startswith("codes-")
    )
    assert len(dirs) == 2  # current + one grace snapshot
    ann_index.vacuum_index(idx)
    dirs = [
        d for d in os.listdir(idx)
        if d == "codes" or d.startswith("codes-")
    ]
    assert dirs == [ann_index._load_doc_any(idx)["codes_dir"]]
    assert ann_index.load_pq_index(spark, idx)[0].count() == 45


# ---------------------------------------------------------------------------
# drift probe


@pytest.mark.parametrize("kind", ["pq", "ivf"])
def test_drift_probe_trips_and_resets(spark, tmp_path, kind):
    """Increments never retrain — needs_retrain() says when a retrain
    is warranted: a delta that quantizes badly against the saved
    codebooks/centroids (here: shifted far off the fit distribution)
    trips the probe; a same-distribution delta does not; a fresh
    fit+save resets it."""
    emb = _emb(spark, n=60, seed=51)
    idx = str(tmp_path / kind)
    if kind == "pq":
        codes, model = ann_index.fit_pq_index(emb, m=2, sub_dim=8, k=4,
                                              iters=2)
        ann_index.save_pq_index(idx, codes, model, fit_df=emb)
        append = ann_index.append_pq_codes
    else:
        cells, model = ann_index.fit_ivf_index(emb, k=4, iters=2)
        ann_index.save_ivf_index(idx, cells, model, fit_df=emb)
        append = ann_index.append_ivf_cells

    doc = ann_index._load_doc_any(idx)
    assert doc["fit_error"] > 0

    # same-distribution delta: error ~ fit error, probe stays quiet
    append(idx, _emb(spark, n=20, seed=52, id0=1000))
    assert not ann_index.needs_retrain(idx, factor=2.0)
    assert ann_index._load_doc_any(idx)["last_delta_rows"] == 20

    # drifted delta: vectors 10 units off the fit distribution quantize
    # terribly against the stale model — probe trips
    append(idx, _emb(spark, n=20, seed=53, id0=2000, shift=10.0))
    assert ann_index.needs_retrain(idx, factor=2.0)
    # the min_rows guard holds it back until enough evidence accumulated
    assert not ann_index.needs_retrain(idx, factor=2.0, min_rows=1000)

    # a subsequent in-distribution batch must NOT erase the drifted
    # evidence: the probe reads the rows-weighted mean since the last
    # fit, not just the final batch
    append(idx, _emb(spark, n=5, seed=54, id0=3000))
    assert ann_index.needs_retrain(idx, factor=2.0)

    # a fresh fit over the grown corpus resets the baseline
    if kind == "pq":
        loaded, _ = ann_index.load_pq_index(spark, idx)
        full = emb.unionByName(_emb(spark, n=20, seed=52, id0=1000)) \
                  .unionByName(_emb(spark, n=20, seed=53, id0=2000,
                                    shift=10.0))
        codes, model = ann_index.fit_pq_index(full, m=2, sub_dim=8, k=4,
                                              iters=2)
        ann_index.save_pq_index(idx, codes, model, fit_df=full)
    else:
        full = emb.unionByName(_emb(spark, n=20, seed=52, id0=1000)) \
                  .unionByName(_emb(spark, n=20, seed=53, id0=2000,
                                    shift=10.0))
        cells, model = ann_index.fit_ivf_index(full, k=4, iters=2)
        ann_index.save_ivf_index(idx, cells, model, fit_df=full)
    assert not ann_index.needs_retrain(idx, factor=2.0)


@pytest.mark.parametrize("kind", ["pq", "ivf"])
def test_retrain_on_drift_cli(spark, tmp_path, kind):
    """--retrain-on-drift closes the loop: a feed full of drifted
    vectors trips the probe during maintenance, the job refits from the
    source's live rows (same geometry), the probe resets, and the feed
    watermark survives the re-save."""
    import sys

    sys.path.insert(0, "jobs")
    import run_feed

    t = LakeTable.create(
        spark, str(tmp_path / "corpus"), EMB_SCHEMA, ["vec_id"],
        num_buckets=2, properties={"soft_delete": True},
    )

    def as_events(df, lsn0, op="I"):
        return df.select(
            (F.col("vec_id") + lsn0).alias("lsn"), F.lit(op).alias("op"),
            "vec_id", "embedding",
        )

    merge_into(t, as_events(_emb(spark, n=40, seed=71), 0), batch_id=0)
    idx = str(tmp_path / kind)
    base = t.read().select("vec_id", "embedding")
    if kind == "pq":
        codes, cbs = ann_index.fit_pq_index(base, m=2, sub_dim=8, k=4,
                                            iters=2)
        ann_index.save_pq_index(idx, codes, cbs, fit_df=base,
                                params={"iters": 2})
    else:
        cells, cents = ann_index.fit_ivf_index(base, k=4, iters=2)
        ann_index.save_ivf_index(idx, cells, cents, fit_df=base,
                                 params={"iters": 2})
    fit_err0 = ann_index._load_doc_any(idx)["fit_error"]
    ann_index.set_feed_watermark(idx, 39)
    v_fitted = t.refresh().version

    # a batch of far-off-distribution vectors lands
    merge_into(t, as_events(_emb(spark, n=10, seed=72, id0=300,
                                 shift=10.0), 1000),
               batch_id=1)
    assert run_feed.main([
        "--source", t.path, "--checkpoint", str(tmp_path / "ck"),
        "--mode", "index", "--target", idx,
        "--starting-version", str(v_fitted), "--retrain-on-drift",
        "--timeout-sec", "180",
    ]) == 0

    doc = ann_index._load_doc_any(idx)
    assert not ann_index.needs_retrain(idx)
    assert doc["fit_error"] > fit_err0  # fresh baseline over mixed corpus
    assert "last_delta_error" not in doc  # reset by the refit
    assert doc["feed_lsn_watermark"] == 1309  # carried across the re-save
    if kind == "pq":
        loaded, cbs2 = ann_index.load_pq_index(spark, idx)
        assert len(cbs2) == 2 and len(next(iter(cbs2[0].values()))) == 8
    else:
        loaded, cents2 = ann_index.load_ivf_index(spark, idx)
        assert len(cents2) == 4
    assert loaded.count() == 50


def test_status_cli(spark, tmp_path, capsys):
    """jobs/status.py — the `pipelinewise status` analog: walks a lake
    root and reports every table + index from manifests alone (no
    SparkSession, no data scan)."""
    import sys

    sys.path.insert(0, "jobs")
    import status

    t = LakeTable.create(
        spark, str(tmp_path / "lake" / "transcripts"), EMB_SCHEMA,
        ["vec_id"], num_buckets=2, properties={"soft_delete": True},
    )
    merge_into(
        t,
        _emb(spark, n=25, seed=99).select(
            F.col("vec_id").alias("lsn"), F.lit("I").alias("op"),
            "vec_id", "embedding",
        ),
        batch_id=0, stream="s1",
    )
    codes, cbs = ann_index.fit_pq_index(
        t.read().select("vec_id", "embedding"), m=2, sub_dim=8, k=4,
        iters=2,
    )
    idx = str(tmp_path / "lake" / "idx" / "pq")
    ann_index.save_pq_index(idx, codes, cbs, fit_df=t.read())
    ann_index.set_feed_watermark(idx, 24)

    assert status.main(["--root", str(tmp_path / "lake"), "--json"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out["tables"]) == 1  # the index's codes table folds away
    tab = out["tables"][0]
    assert tab["table"] == "transcripts"
    assert tab["version"] == 2 and tab["keys"] == "vec_id"
    assert tab["files"] == 2 and tab["bytes"] > 0
    assert tab["last_metrics"]["inserted"] == 25
    assert "s1" in tab["bookmarks"]
    ix = out["indexes"][0]
    assert ix["kind"] == "pq" and ix["feed_lsn_watermark"] == 24
    assert ix["needs_retrain"] is False and ix["fit_error"] > 0

    # the human table renders too (no SparkSession involved either way)
    assert status.main(["--root", str(tmp_path / "lake")]) == 0
    text = capsys.readouterr().out
    assert "transcripts" in text and "1 table(s)" in text
    assert "idx" in text and "1 index(es)" in text

    # name-prefix boundary: a TABLE named like an index dir + suffix
    # must not fold away under it
    LakeTable.create(
        spark, str(tmp_path / "lake" / "idx" / "pq_legacy"), EMB_SCHEMA,
        ["vec_id"], num_buckets=2,
    )
    assert status.main(["--root", str(tmp_path / "lake"), "--json"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sorted(t["table"] for t in out["tables"]) == [
        "idx/pq_legacy", "transcripts"
    ]

    # --root pointing AT an index: its internal codes table folds too
    assert status.main(["--root", idx, "--json"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["tables"] == [] and len(out["indexes"]) == 1

    # object-store URIs are rejected loudly, not reported as empty
    with pytest.raises(SystemExit):
        status.main(["--root", "s3://bucket/lake"])


def test_continuous_tail_graceful_stop(spark, tmp_path):
    """run_cdc --continuous + SIGTERM = the reference's stop_tap: the
    tail applies files as they land, the signal stops it with exit 0,
    and a bounded rerun on the same checkpoint picks up files written
    after the stop — nothing lost, nothing reapplied."""
    import os
    import signal
    import subprocess
    import sys as _sys
    import time

    from pipelinewise_spark.cdc.gen import generate_change_events

    ev = generate_change_events(
        spark, n_convs=12, turns_per_conv=2, n_updates=20, delete_pct=0
    ).persist()
    hi_lsn = ev.agg(F.max("lsn")).first()[0]
    mid = hi_lsn // 2
    events_dir = str(tmp_path / "events")
    ev.where(F.col("lsn") <= mid).write.parquet(events_dir)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    table_dir = str(tmp_path / "t")
    env = dict(os.environ, PYTHONPATH=repo,
               PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell")
    # child output goes to FILES, not PIPEs: the long-lived JVM logs to
    # stderr and an undrained 64KB pipe buffer would block the driver
    # mid-run (flaky "never applied" failures)
    out_f = open(tmp_path / "out.log", "w+")
    err_f = open(tmp_path / "err.log", "w+")
    proc = subprocess.Popen(
        [_sys.executable, os.path.join(repo, "jobs", "run_cdc.py"),
         "--events", events_dir, "--table", table_dir,
         "--checkpoint", str(tmp_path / "ck"), "--mode", "stream",
         "--continuous", "--trigger-sec", "0.5", "--num-buckets", "4"],
        env=env, stdout=out_f, stderr=err_f, text=True,
    )

    def tail_err():
        if not err_f.closed:
            err_f.flush()
        return (tmp_path / "err.log").read_text()[-2000:]

    try:
        deadline = time.time() + 240
        while time.time() < deadline:
            if LakeTable.exists(table_dir):
                t = LakeTable(spark, table_dir)
                bm = t.bookmarks.get("default", {}).get("lsn")
                if bm == mid:
                    break
            assert proc.poll() is None, tail_err()
            time.sleep(1)
        else:
            raise AssertionError("tail never applied the first file set")

        # more files land while the tail is LIVE — it picks them up
        ev.where(F.col("lsn") > mid).write.mode("append").parquet(events_dir)
        deadline = time.time() + 120
        while time.time() < deadline:
            bm = LakeTable(spark, table_dir).bookmarks["default"]["lsn"]
            if bm == hi_lsn:
                break
            time.sleep(1)
        else:
            raise AssertionError("tail never applied the appended files")

        proc.send_signal(signal.SIGTERM)
        proc.wait(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        ev.unpersist()
        out_f.close()
        err_f.close()
    assert proc.returncode == 0, tail_err()
    out = (tmp_path / "out.log").read_text()
    final = json.loads(out.strip().splitlines()[-1])
    assert final["bookmarks"]["default"]["lsn"] == hi_lsn
    assert LakeTable(spark, table_dir).read().count() == 24  # 12 convs x 2


def test_sync_tables_verb(spark, tmp_path):
    """run_cdc --project --sync-tables = the reference's sync_tables:
    ONLY the selected stream is atomically re-snapshotted (overwrite +
    lsn0 bookmark in one commit); the other stream's table and bookmark
    stay untouched."""
    import sys

    sys.path.insert(0, "jobs")
    import run_cdc

    from pipelinewise_spark.cdc.gen import generate_change_events
    from tests.test_project_config import TAP_YAML

    tap = tmp_path / "tap.yml"
    tap.write_text(TAP_YAML)
    ev = generate_change_events(
        spark, n_convs=5, turns_per_conv=2, n_updates=8, delete_pct=0,
        stream="my_db-conversations",
    ).unionByName(generate_change_events(
        spark, n_convs=4, turns_per_conv=2, n_updates=6, delete_pct=0,
        stream="my_db-audit",
    ))
    events_dir = str(tmp_path / "events")
    ev.write.parquet(events_dir)
    lake = str(tmp_path / "lake")
    base_args = [
        "--project", str(tap), "--table", lake,
        "--events", events_dir, "--checkpoint", str(tmp_path / "ck"),
        "--num-buckets", "4",
    ]
    assert run_cdc.main(base_args) == 0
    conv = LakeTable(spark, f"{lake}/repl_my_db/conversations")
    audit = LakeTable(spark, f"{lake}/repl_my_db/audit")
    audit_ver = audit.version
    assert conv.read().count() == 10 and audit.read().count() == 8

    # authoritative snapshot for conversations only (sync_tables verb)
    snap = spark.createDataFrame(
        [("conv-r", i, "user", f"resynced {i}", None) for i in range(3)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.timestamp_seconds(F.lit(1704067200)))
    snap_dir = tmp_path / "snaps"
    snap_dir.mkdir()
    snap.write.parquet(str(snap_dir / "my_db-conversations.parquet"))

    assert run_cdc.main(base_args + [
        "--sync-tables", "my_db-conversations",
        "--snapshot", str(snap_dir), "--lsn0", "5000",
    ]) == 0
    conv = conv.refresh()
    assert conv.read().count() == 3
    assert set(conv.read().select("text").toPandas()["text"]) == {
        "resynced 0", "resynced 1", "resynced 2"
    }
    assert conv.bookmarks["my_db-conversations"]["lsn"] == 5000
    # the OTHER stream is untouched (no new commit, same rows)
    audit = audit.refresh()
    assert audit.version == audit_ver and audit.read().count() == 8

    # unknown stream name fails loudly
    with pytest.raises(SystemExit):
        run_cdc.main(base_args + [
            "--sync-tables", "nope", "--snapshot", str(snap_dir),
            "--lsn0", "1",
        ])

    # checkpoint-gap guard: a snapshot OLDER than the stream's applied
    # position would lose (lsn0, bookmark] forever (those events were
    # already consumed from the checkpoint) — refused, nothing modified
    ver_before = conv.refresh().version
    with pytest.raises(SystemExit):
        run_cdc.main(base_args + [
            "--sync-tables", "my_db-conversations",
            "--snapshot", str(snap_dir), "--lsn0", "10",
        ])
    assert conv.refresh().version == ver_before

    # a missing snapshot file for ANY selected stream is refused up
    # front (not discovered after earlier streams were overwritten)
    with pytest.raises(SystemExit):
        run_cdc.main(base_args + [
            "--sync-tables", "my_db-conversations,my_db-audit",
            "--snapshot", str(snap_dir), "--lsn0", "6000",
        ])
    assert conv.refresh().version == ver_before


def test_project_continuous_pipeline_query(spark, tmp_path):
    """MultiStreamPipeline.run_file_stream(available_now=False) returns
    a LIVE processingTime-trigger query (the --project --continuous
    path) instead of silently doing a bounded drain."""
    import time

    from pipelinewise_spark.cdc.events import (
        TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA,
    )
    from pipelinewise_spark.cdc.gen import generate_change_events
    from pipelinewise_spark.cdc.pipeline import (
        CdcPipeline, MultiStreamPipeline,
    )

    ev = generate_change_events(spark, n_convs=4, turns_per_conv=2,
                                n_updates=4, delete_pct=0,
                                stream="s1")
    events_dir = str(tmp_path / "events")
    ev.write.parquet(events_dir)
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                         TRANSCRIPT_KEY, num_buckets=2)
    pipe = MultiStreamPipeline({"s1": CdcPipeline(t, stream="s1")})
    q = pipe.run_file_stream(events_dir, str(tmp_path / "ck"),
                             available_now=False,
                             processing_time="1 seconds")
    try:
        assert q.isActive  # continuous: returned live, not drained+done
        deadline = time.time() + 120
        while time.time() < deadline:
            if t.refresh().bookmarks.get("s1"):
                break
            time.sleep(1)
        else:
            raise AssertionError("continuous project tail never applied")
    finally:
        q.stop()
    assert t.refresh().read().count() == 8


# ---------------------------------------------------------------------------
# ivf_topk pretrained-path guards


def test_ivf_topk_rejects_empty_centroids(spark):
    emb = _emb(spark, n=10, seed=61)
    with pytest.raises(ValueError, match="centroids is empty"):
        ann.ivf_topk(
            emb.withColumn("label", F.lit(0)), emb.limit(2),
            label_col="label", centroids=[],
        )


def test_ivf_topk_coerces_numpy_labels(spark):
    np = pytest.importorskip("numpy")
    emb = _emb(spark, n=20, seed=62)
    cells, centroids = ann_index.fit_ivf_index(emb, k=2, iters=1)
    corpus = emb.join(cells, "vec_id").withColumnRenamed("cell", "label")
    qs = emb.where(F.col("vec_id") < 2)
    want = ann.ivf_topk(corpus, qs, label_col="label", k=2,
                        centroids=centroids).collect()
    got = ann.ivf_topk(
        corpus, qs, label_col="label", k=2,
        centroids=[(np.int64(c), np.array(v)) for c, v in centroids],
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
