"""jobs/run_feed.py — the downstream spark-submit CLI: change feed →
replica merge / persisted-index maintenance, driven in-process through
its main() exactly as spark-submit would."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

sys.path.insert(0, "jobs")

from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.functions import ann_index
from pipelinewise_spark.lake.table import LakeTable


def _live(t):
    return (
        t.refresh()
        .read()
        .where(F.col("_sdc_deleted_at").isNull())
        .select("conv_id", "turn_idx", "text")
    )


def test_run_feed_replica_cli(spark, tmp_path):
    import run_feed

    ev = generate_change_events(
        spark, n_convs=15, turns_per_conv=3, n_updates=30, delete_pct=15
    ).persist()
    a = LakeTable.create(
        spark, str(tmp_path / "a"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=4, properties={"soft_delete": True},
    )
    mid = ev.agg(F.max("lsn")).first()[0] // 2
    merge_into(a, ev.where(F.col("lsn") <= mid), batch_id=0)

    args = [
        "--source", a.path,
        "--checkpoint", str(tmp_path / "ck"),
        "--mode", "replica",
        "--target", str(tmp_path / "b"),
        "--timeout-sec", "180",
    ]
    assert run_feed.main(args) == 0
    b = LakeTable(spark, str(tmp_path / "b"))
    assert sorted(map(tuple, _live(a).collect())) == sorted(
        map(tuple, _live(b).collect())
    )

    # more commits (updates + deletes), rerun with the SAME checkpoint:
    # only the new range is consumed and the replica converges again
    merge_into(a, ev.where(F.col("lsn") > mid), batch_id=1)
    assert run_feed.main(args) == 0
    assert sorted(map(tuple, _live(a).collect())) == sorted(
        map(tuple, _live(b).collect())
    )
    ev.unpersist()


def test_run_feed_index_cli(spark, tmp_path):
    import random

    import run_feed

    rng = random.Random(17)

    def emb_rows(ids):
        return [(i, [round(rng.uniform(-1, 1), 4) for _ in range(16)])
                for i in ids]

    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "corpus"), schema, ["vec_id"], num_buckets=2,
        properties={"soft_delete": True},
    )

    def as_events(rows, lsn0, op="I"):
        return spark.createDataFrame(
            [(lsn0 + n, op, i, v) for n, (i, v) in enumerate(rows)],
            "lsn long, op string, vec_id long, embedding array<double>",
        )

    merge_into(t, as_events(emb_rows(range(40)), 0), batch_id=0)
    idx = str(tmp_path / "idx")
    codes, cbs = ann_index.fit_pq_index(
        t.read().select("vec_id", "embedding"), m=2, sub_dim=8, k=4, iters=2
    )
    ann_index.save_pq_index(idx, codes, cbs)
    v_fitted = t.refresh().version

    # new vectors land AND two existing ones are deleted; the index job
    # consumes the feed from the fitted version, appends the folded
    # delta and REMOVES the tombstoned codes
    merge_into(t, as_events(emb_rows(range(100, 112)), 500), batch_id=1)
    merge_into(t, as_events(emb_rows([3, 9]), 600, op="D"), batch_id=2)
    args = [
        "--source", t.path,
        "--checkpoint", str(tmp_path / "ck"),
        "--mode", "index",
        "--target", idx,
        "--starting-version", str(v_fitted),
        "--timeout-sec", "180",
    ]
    assert run_feed.main(args) == 0
    loaded, _ = ann_index.load_pq_index(spark, idx)
    assert loaded.count() == 50  # 40 + 12 new - 2 deleted
    assert loaded.where(F.col("vec_id") >= 100).count() == 12
    assert loaded.where(F.col("vec_id").isin(3, 9)).count() == 0


def test_run_feed_rejects_hard_delete_source(spark, tmp_path):
    """Replica/index modes must refuse a hard-delete source: its CoW
    rewrite emits no tombstone into the feed, so deletes could never
    propagate — silent permanent divergence."""
    import pytest
    import run_feed

    t = LakeTable.create(
        spark, str(tmp_path / "hard"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=2,
    )
    with pytest.raises(SystemExit):
        run_feed.main([
            "--source", t.path, "--checkpoint", str(tmp_path / "ck"),
            "--mode", "replica", "--target", str(tmp_path / "b"),
        ])


def test_run_feed_export_mode(spark, tmp_path):
    import run_feed

    ev = generate_change_events(spark, n_convs=8, turns_per_conv=2,
                                n_updates=10)
    t = LakeTable.create(
        spark, str(tmp_path / "src"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=2,
    )
    merge_into(t, ev, batch_id=0)
    out = str(tmp_path / "export")
    assert run_feed.main([
        "--source", t.path, "--checkpoint", str(tmp_path / "ck"),
        "--mode", "export", "--target", out, "--timeout-sec", "120",
    ]) == 0
    got = spark.read.parquet(out)
    assert got.count() == t.read().count()
    assert "_lsn" in got.columns


def test_run_feed_export_csv(spark, tmp_path):
    """--export-format csv: the reference's target-s3-csv shape —
    headered, gzip'd, delimited files a tap_s3_csv source reads back."""
    import glob
    import os

    import run_feed

    ev = generate_change_events(spark, n_convs=6, turns_per_conv=2,
                                n_updates=6)
    t = LakeTable.create(
        spark, str(tmp_path / "src_csv"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=2,
    )
    merge_into(t, ev, batch_id=0)
    out = str(tmp_path / "export_csv")
    assert run_feed.main([
        "--source", t.path, "--checkpoint", str(tmp_path / "ck_csv"),
        "--mode", "export", "--target", out, "--export-format", "csv",
        "--csv-delimiter", "|", "--csv-compression", "gzip",
        "--timeout-sec", "120",
    ]) == 0
    assert glob.glob(os.path.join(out, "*.csv.gz"))
    got = (spark.read.options(header=True, sep="|", inferSchema=True)
           .csv(out))
    assert got.count() == t.read().count()
    assert "_lsn" in got.columns
    assert set(got.select("conv_id").toPandas()["conv_id"]) == {
        r["conv_id"] for r in t.read().select("conv_id").collect()
    }


def test_run_feed_export_singer_full_circle(spark, tmp_path):
    """--export-format singer: the lake becomes a singer TAP. The feed
    drains into SCHEMA/RECORD/STATE framed files, and ingesting those
    files through CdcPipeline.ingest_singer_lines (the engine's own
    singer TARGET path) rebuilds the source's live state exactly —
    full-circle interop in both directions, including deletes."""
    import glob
    import json
    import os

    import run_feed

    from pipelinewise_spark.cdc.pipeline import CdcPipeline

    ev = generate_change_events(
        spark, n_convs=10, turns_per_conv=3, n_updates=20, delete_pct=15
    )
    src = LakeTable.create(
        spark, str(tmp_path / "src_singer"), TRANSCRIPT_SCHEMA,
        TRANSCRIPT_KEY, num_buckets=2, properties={"soft_delete": True},
    )
    merge_into(src, ev, batch_id=0)
    out = str(tmp_path / "singer_out")
    args = [
        "--source", src.path, "--checkpoint", str(tmp_path / "ck_singer"),
        "--mode", "export", "--target", out, "--export-format", "singer",
        "--stream", "transcripts", "--timeout-sec", "120",
    ]
    assert run_feed.main(args) == 0
    files = sorted(glob.glob(os.path.join(out, "batch-*.singer")))
    assert files and not glob.glob(os.path.join(out, ".*.tmp"))
    # framing: SCHEMA first, STATE last, RECORDs in between, LSN-ordered
    lines = [json.loads(ln) for f in files
             for ln in open(f).read().splitlines()]
    assert lines[0]["type"] == "SCHEMA"
    assert lines[0]["key_properties"] == list(TRANSCRIPT_KEY)
    assert lines[-1]["type"] == "STATE"
    recs = [ln for ln in lines if ln["type"] == "RECORD"]
    lsns = [r["record"]["_sdc_lsn"] for r in recs]
    assert lsns == sorted(lsns)
    assert any("_sdc_deleted_at" in r["record"] for r in recs)  # deletes framed

    # full circle: our own singer TARGET rebuilds the source state
    replica = LakeTable.create(
        spark, str(tmp_path / "replica_singer"), TRANSCRIPT_SCHEMA,
        TRANSCRIPT_KEY, num_buckets=2, properties={"soft_delete": True},
    )
    pipe = CdcPipeline(replica, stream="transcripts")
    for i, f in enumerate(files):
        pipe.ingest_singer_lines(spark.read.text(f), batch_id=i)
    assert sorted(map(tuple, _live(src).collect())) == sorted(
        map(tuple, _live(replica).collect())
    )

    # incremental: more commits, rerun with the SAME checkpoint — only
    # the new range lands, in a NEW batch file
    more = generate_change_events(
        spark, n_convs=10, turns_per_conv=3, n_updates=8, delete_pct=20,
    ).withColumn("lsn", F.col("lsn") + F.lit(10_000))
    merge_into(src, more, batch_id=1)
    assert run_feed.main(args) == 0
    files2 = sorted(glob.glob(os.path.join(out, "batch-*.singer")))
    assert len(files2) > len(files)
    for i, f in enumerate(files2[len(files):], start=len(files)):
        pipe.ingest_singer_lines(spark.read.text(f), batch_id=i)
    assert sorted(map(tuple, _live(src).collect())) == sorted(
        map(tuple, _live(replica).collect())
    )


def test_run_feed_export_singer_rejects_hard_delete_source(spark, tmp_path):
    """Singer export is replication: its D records come from
    _sdc_deleted_at, which a hard-delete CoW rewrite never emits — a
    keyed hard-delete source must be refused up front (same guard as
    replica/index), not silently never propagate deletes downstream."""
    import pytest

    import run_feed

    ev = generate_change_events(spark, n_convs=4, turns_per_conv=2,
                                n_updates=4)
    t = LakeTable.create(
        spark, str(tmp_path / "hard_src"), TRANSCRIPT_SCHEMA,
        TRANSCRIPT_KEY, num_buckets=2,  # no soft_delete property
    )
    merge_into(t, ev, batch_id=0)
    with pytest.raises(SystemExit):
        run_feed.main([
            "--source", t.path, "--checkpoint", str(tmp_path / "ck"),
            "--mode", "export", "--target", str(tmp_path / "out"),
            "--export-format", "singer", "--timeout-sec", "60",
        ])


def test_run_feed_export_csv_rejects_array_columns(spark, tmp_path):
    from pyspark.sql.types import (
        ArrayType, DoubleType, StringType, StructField, StructType,
    )

    import run_feed

    schema = StructType([
        StructField("id", StringType()),
        StructField("v", ArrayType(DoubleType())),
    ])
    t = LakeTable.create(spark, str(tmp_path / "src_vec"), schema, ["id"],
                         num_buckets=2)
    df = spark.createDataFrame([("a", [1.0, 2.0], "I", 1)],
                               "id string, v array<double>, op string, lsn long")
    merge_into(t, df, batch_id=0)
    assert run_feed.main([
        "--source", t.path, "--checkpoint", str(tmp_path / "ck_vec"),
        "--mode", "export", "--target", str(tmp_path / "out_vec"),
        "--export-format", "csv", "--timeout-sec", "60",
    ]) == 1


def test_run_feed_cli_real_subprocess(spark, tmp_path):
    """Drive the CLI as a REAL OS process (its own JVM/session, the
    spark-submit shape) — catches worker-side sys.path / pickling
    issues an in-process main() call cannot."""
    import os
    import subprocess
    import sys as _sys

    ev = generate_change_events(spark, n_convs=8, turns_per_conv=2,
                                n_updates=12, delete_pct=10)
    a = LakeTable.create(
        spark, str(tmp_path / "a"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=2, properties={"soft_delete": True},
    )
    merge_into(a, ev, batch_id=0)
    want = sorted(map(tuple, _live(a).collect()))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo,
               PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell")
    r = subprocess.run(
        [_sys.executable, os.path.join(repo, "jobs", "run_feed.py"),
         "--source", a.path, "--checkpoint", str(tmp_path / "ck"),
         "--mode", "replica", "--target", str(tmp_path / "b"),
         "--timeout-sec", "240"],
        env=env, capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    b = LakeTable(spark, str(tmp_path / "b"))
    assert sorted(map(tuple, _live(b).collect())) == want


def test_run_feed_index_minhash_cli(spark, tmp_path):
    """Feed-driven MinHash index maintenance: --index-kind auto resolves
    'minhash' from index.json; new documents sign+upsert, a changed
    document replaces its band rows, a tombstone removes them. The text
    column is NOT named 'text' and no --text-col is passed: the CLI must
    derive it from the text_col pinned in index.json at fit time."""
    import run_feed

    from pipelinewise_spark.functions import dedup_index
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("body", StringType()),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "docs"), schema, ["doc_id"], num_buckets=2,
        properties={"soft_delete": True},
    )

    def as_events(rows, lsn0, op="I"):
        return spark.createDataFrame(
            [(lsn0 + n, op, i, s) for n, (i, s) in enumerate(rows)],
            "lsn long, op string, doc_id long, body string",
        )

    base = "the quick brown fox jumps over the lazy dog"
    merge_into(t, as_events(
        [(1, base), (2, base + " again"), (3, "unrelated words entirely")],
        0), batch_id=0)
    idx = str(tmp_path / "idx")
    dedup_index.save_minhash_index(
        idx, t.read().select("doc_id", "body"),
        id_col="doc_id", text_col="body", num_buckets=2,
    )
    v_fitted = t.refresh().version

    # a new near-dup lands, doc 3 is rewritten to match BASE, doc 2 dies
    merge_into(t, as_events([(4, base + " tonight")], 500),
               batch_id=1)
    merge_into(t, as_events([(3, base + " rewritten")], 600),
               batch_id=2)
    merge_into(t, as_events([(2, None)], 700, op="D"),
               batch_id=3)
    assert run_feed.main([
        "--source", t.path,
        "--checkpoint", str(tmp_path / "ck"),
        "--mode", "index",
        "--target", idx,
        "--starting-version", str(v_fitted),
        "--timeout-sec", "180",
    ]) == 0

    probes = spark.createDataFrame([(100, base)], "doc_id long, body string")
    got = {r["match_id"]
           for r in dedup_index.minhash_lookup(spark, idx, probes,
                                               min_est=0.5).collect()}
    assert {1, 3, 4} <= got    # original + rewritten + incremental
    assert 2 not in got        # tombstone propagated

    # minhash never drifts: asking for retrain-on-drift is a usage error
    import pytest

    with pytest.raises(SystemExit):
        run_feed.main([
            "--source", t.path, "--checkpoint", str(tmp_path / "ck2"),
            "--mode", "index", "--target", idx, "--retrain-on-drift",
        ])
