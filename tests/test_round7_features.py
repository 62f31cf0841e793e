"""Round-7 hardening: foreign index.json artifacts under the lake root,
the intra-batch self-collision pass in dedup_gate, and advisory fixes
(Slack ok:false, soft-delete reconcile, partial-sync LSN floor are in
their subsystem test files)."""

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
from pipelinewise_spark.functions import ann_index
from pipelinewise_spark.lake.table import LakeTable

EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def _emb(spark, n=40, dim=16, seed=7, id0=0):
    rng = random.Random(seed)
    rows = [
        (id0 + i, [round(rng.uniform(-1, 1), 4) for _ in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, EMB_SCHEMA)


# ---------------------------------------------------------------------------
# bench artifact: host-load fingerprint (round-6 verdict: the driver
# window was taken on a contended host and nothing in the artifact let a
# reader tell "code regressed" from "host was busy")


def test_bench_host_fingerprint_shape():
    import bench

    fp = bench._host_fingerprint()
    assert set(fp) == {"loadavg", "cpu_control_sec"}
    assert len(fp["loadavg"]) == 3
    assert 0 < fp["cpu_control_sec"] < 30  # fixed work, bounded even loaded


# ---------------------------------------------------------------------------
# jobs/status.py: a foreign index.json must not abort status or get
# vacuumed — and tables nested below it must still be reported


def test_status_skips_foreign_index_json(spark, tmp_path, capsys):
    import sys

    sys.path.insert(0, "jobs")
    import status

    lake = tmp_path / "lake"
    t = LakeTable.create(
        spark, str(lake / "transcripts"), EMB_SCHEMA, ["vec_id"],
        num_buckets=2,
    )
    merge_into(
        t,
        _emb(spark, n=5).select(
            F.col("vec_id").alias("lsn"), F.lit("I").alias("op"),
            "vec_id", "embedding",
        ),
        batch_id=0, stream="s1",
    )
    # some other tool's artifact: unknown kind, and a nested LakeTable
    foreign = lake / "someapp"
    foreign.mkdir(parents=True)
    (foreign / "index.json").write_text(json.dumps({"kind": "faiss-hnsw"}))
    LakeTable.create(
        spark, str(foreign / "nested_table"), EMB_SCHEMA, ["vec_id"],
        num_buckets=2,
    )
    # and a flat-out unparseable one
    broken = lake / "broken"
    broken.mkdir()
    (broken / "index.json").write_text("{not json")

    assert status.find_indexes(str(lake)) == []
    assert status.main(["--root", str(lake), "--json"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["indexes"] == []
    assert sorted(r["table"] for r in out["tables"]) == [
        "someapp/nested_table", "transcripts"
    ]

    # a real index alongside is still found
    codes, cbs = ann_index.fit_pq_index(
        t.read().select("vec_id", "embedding"), m=2, sub_dim=8, k=4,
        iters=2,
    )
    idx = str(lake / "idx" / "pq")
    ann_index.save_pq_index(idx, codes, cbs, fit_df=t.read())
    assert status.find_indexes(str(lake)) == [idx]


# ---------------------------------------------------------------------------
# run_cdc --mode singer: the tap/target loop over files — our own singer
# export feeds run_cdc's singer mode, CLI to CLI


def test_run_cdc_singer_mode_tap_target_loop(spark, tmp_path):
    import sys as _sys

    _sys.path.insert(0, "jobs")
    import run_cdc
    import run_feed

    from pipelinewise_spark.cdc.events import (
        TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA,
    )
    from pipelinewise_spark.cdc.gen import generate_change_events
    from pipelinewise_spark.cdc.merge import merge_into

    ev = generate_change_events(
        spark, n_convs=8, turns_per_conv=3, n_updates=12, delete_pct=10
    )
    src = LakeTable.create(
        spark, str(tmp_path / "src"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=2, properties={"soft_delete": True},
    )
    merge_into(src, ev, batch_id=0)
    frames = str(tmp_path / "frames")
    # no --stream on either side: the export names the stream after the
    # source dir ('src'); the ingest AUTO-DETECTS it from the frames —
    # the default-vs-exported mismatch used to "succeed" with 0 records
    assert run_feed.main([
        "--source", src.path, "--checkpoint", str(tmp_path / "ck_exp"),
        "--mode", "export", "--target", frames,
        "--export-format", "singer",
        "--timeout-sec", "120",
    ]) == 0

    dst = str(tmp_path / "dst")
    args = [
        "--events", frames, "--table", dst,
        "--checkpoint", str(tmp_path / "ck_tap"),
        "--mode", "singer",
        "--soft-delete", "--num-buckets", "2",
    ]
    assert run_cdc.main(args) == 0

    def live(t):
        return sorted(map(tuple, (
            t.refresh().read().where("_sdc_deleted_at IS NULL")
            .select("conv_id", "turn_idx", "text").collect()
        )))

    dst_t = LakeTable(spark, dst)
    assert live(src) == live(dst_t)

    # second window: more changes at higher LSNs, re-export, rerun the
    # SAME checkpoints — only the new frames apply, states converge
    more = generate_change_events(
        spark, n_convs=8, turns_per_conv=3, n_updates=6, delete_pct=20,
    ).withColumn("lsn", F.col("lsn") + F.lit(50_000))
    merge_into(src, more, batch_id=1)
    assert run_feed.main([
        "--source", src.path, "--checkpoint", str(tmp_path / "ck_exp"),
        "--mode", "export", "--target", frames,
        "--export-format", "singer",
        "--timeout-sec", "120",
    ]) == 0
    assert run_cdc.main(args) == 0
    assert live(src) == live(dst_t)
    # the destination's bookmark landed under the DETECTED stream name
    assert "src" in dst_t.refresh().bookmarks


# ---------------------------------------------------------------------------
# multi-stream singer ingest: a real tap emits EVERY selected stream into
# one stdout — run_cdc --project --mode singer fans the mixed frames out
# to each stream's pipeline (per-stream decode, drift, transforms)


def test_run_cdc_project_singer_multistream(spark, tmp_path):
    import sys as _sys

    _sys.path.insert(0, "jobs")
    import run_cdc

    from pipelinewise_spark.cdc.events import (
        TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA,
    )
    from pipelinewise_spark.cdc.gen import generate_change_events
    from pipelinewise_spark.singer import protocol, schema as sschema
    tap_yaml = """
id: "mysql_sample"
name: "Sample MySQL Database"
type: "tap-mysql"
owner: "somebody@example.com"
db_conn: {host: "dbhost", port: 3306, user: "u", password: "p", dbname: "appdb"}
target: "lake"
schemas:
  - source_schema: "my_db"
    target_schema: "repl_my_db"
    tables:
      - table_name: "conversations"
        replication_method: "LOG_BASED"
        key_properties: ["conv_id", "turn_idx"]
        transformations:
          - column: "text"
            type: "HASH"
      - table_name: "audit"
        replication_method: "INCREMENTAL"
        replication_key: "updated_at"
        key_properties: ["conv_id", "turn_idx"]
"""
    tap = tmp_path / "tap_mysql.yml"
    tap.write_text(tap_yaml)
    js = sschema.struct_to_jsonschema(TRANSCRIPT_SCHEMA)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    frames = tmp_path / "frames"
    frames.mkdir()
    ev_a = generate_change_events(spark, n_convs=6, turns_per_conv=2,
                                  n_updates=8, delete_pct=0)
    ev_b = generate_change_events(spark, n_convs=4, turns_per_conv=2,
                                  n_updates=4, delete_pct=0, seed=3)
    # two streams' frames, mixed in one directory (one file each — the
    # text source reads them as one mixed line set)
    protocol.write_singer_file(
        ev_a, cols, "my_db-conversations", js, TRANSCRIPT_KEY,
        str(frames / "a.singer"))
    protocol.write_singer_file(
        ev_b, cols, "my_db-audit", js, TRANSCRIPT_KEY,
        str(frames / "b.singer"))

    lake = str(tmp_path / "lake")
    assert run_cdc.main([
        "--project", str(tap), "--table", lake,
        "--events", str(frames), "--checkpoint", str(tmp_path / "ck"),
        "--mode", "singer", "--num-buckets", "2",
    ]) == 0

    conv = LakeTable(spark, f"{lake}/repl_my_db/conversations").read()
    audit = LakeTable(spark, f"{lake}/repl_my_db/audit").read()
    assert conv.count() == ev_a.select("conv_id", "turn_idx").distinct().count()
    assert audit.count() == ev_b.select("conv_id", "turn_idx").distinct().count()
    # the YAML's per-stream transforms applied to conversations only
    assert conv.where(~F.col("text").rlike("^[0-9a-f]{64}$")).count() == 0
    assert audit.where(F.col("text").rlike("^[0-9a-f]{64}$")).count() == 0
    # per-stream bookmarks landed under each stream's own name
    assert "my_db-conversations" in LakeTable(
        spark, f"{lake}/repl_my_db/conversations").bookmarks
    assert "my_db-audit" in LakeTable(
        spark, f"{lake}/repl_my_db/audit").bookmarks

    # resume: a third file lands for ONE stream; rerun the same
    # checkpoint — only it applies
    more = generate_change_events(
        spark, n_convs=6, turns_per_conv=2, n_updates=3, delete_pct=0,
    ).withColumn("lsn", F.col("lsn") + F.lit(90_000))
    protocol.write_singer_file(
        more, cols, "my_db-conversations", js, TRANSCRIPT_KEY,
        str(frames / "c.singer"))
    assert run_cdc.main([
        "--project", str(tap), "--table", lake,
        "--events", str(frames), "--checkpoint", str(tmp_path / "ck"),
        "--mode", "singer", "--num-buckets", "2",
    ]) == 0
    audit2 = LakeTable(spark, f"{lake}/repl_my_db/audit")
    assert audit2.read().count() == audit.count()  # untouched


def test_gate_transform_null_op_rows_are_gated_not_dropped(spark, tmp_path):
    """NULL-op rows are upserts to the merge; a non-null-safe op split
    would land them in NEITHER branch and silently lose them exactly
    when the gate is enabled."""
    from pipelinewise_spark.functions import dedup_index

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    idx = str(tmp_path / "mh")
    dedup_index.save_minhash_index(
        idx, corpus, id_col="doc_id", text_col="text",
        num_hashes=16, bands=8, num_buckets=2)
    gate = dedup_index.gate_transform(idx, min_est=0.5)
    batch = spark.createDataFrame(
        [(10, "a genuinely novel essay on volcanic gardens", None, 1)],
        "doc_id long, text string, op string, lsn long",
    )
    assert {r["doc_id"] for r in gate(batch).collect()} == {10}
    # and a missing index fails with the bootstrap hint, not a raw
    # FileNotFoundError per micro-batch
    import pytest

    lost = dedup_index.gate_transform(str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="bootstrap"):
        lost(batch).collect()


def test_multistream_quarantine_claims_garbage_once(spark, tmp_path):
    """A wholly-unparseable line is stream-UNATTRIBUTABLE: in a
    multi-stream singer ingest exactly ONE pipeline quarantines it —
    not every stream's dead-letter table."""
    import json as _json

    from pipelinewise_spark.cdc.events import (
        TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA,
    )
    from pipelinewise_spark.cdc.pipeline import (
        CdcPipeline, MultiStreamPipeline,
    )
    from pipelinewise_spark.singer import schema as sschema

    js = sschema.struct_to_jsonschema(TRANSCRIPT_SCHEMA)
    f = tmp_path / "mixed.singer"
    lines = []
    for stream in ("s-a", "s-b"):
        lines.append(_json.dumps({
            "type": "SCHEMA", "stream": stream, "schema": js,
            "key_properties": list(TRANSCRIPT_KEY)}))
        lines.append(_json.dumps({
            "type": "RECORD", "stream": stream,
            "record": {"conv_id": stream, "turn_idx": 0, "text": "ok",
                       "_sdc_lsn": 1}}))
    lines.append('{"type":"RECORD" garbage beyond parsing')
    # per-stream malformed record: only its OWN stream quarantines it
    lines.append(_json.dumps({
        "type": "RECORD", "stream": "s-b",
        "record": {"conv_id": "x", "turn_idx": "NOT-A-NUMBER",
                   "_sdc_lsn": 2}}))
    f.write_text("\n".join(lines) + "\n")

    pipes = {}
    for stream in ("s-a", "s-b"):
        t = LakeTable.create(
            spark, str(tmp_path / stream), TRANSCRIPT_SCHEMA,
            TRANSCRIPT_KEY, num_buckets=2)
        pipes[stream] = CdcPipeline(t, stream=stream,
                                    validate="quarantine")
    ms = MultiStreamPipeline(pipes, max_concurrency=1)
    res = ms.ingest_singer_lines(spark.read.text(str(f)), batch_id=0)
    # garbage line claimed by exactly one stream (the lexicographic
    # first); s-b's own malformed record stays s-b's
    assert res["s-a"]["quarantined"] == 1
    assert res["s-b"]["quarantined"] == 1
    qa = LakeTable(spark, pipes["s-a"].quarantine_path).read().collect()
    qb = LakeTable(spark, pipes["s-b"].quarantine_path).read().collect()
    assert [r["reason"] for r in qa] == ["unparseable_line"]
    assert [r["reason"] for r in qb] == ["malformed_record"]
    assert res["s-a"]["inserted"] == 1 and res["s-b"]["inserted"] == 1


def test_run_cdc_singer_usage_errors_leave_no_table(spark, tmp_path):
    """Stream auto-detection failures (multi-stream frames, no
    --stream) are usage errors and must not leave a freshly created
    empty table on disk — a later retry would hit property checks
    against the accidental table."""
    import json as _json
    import os
    import sys as _sys

    import pytest

    _sys.path.insert(0, "jobs")
    import run_cdc

    frames = tmp_path / "frames"
    frames.mkdir()
    (frames / "x.singer").write_text(
        _json.dumps({"type": "SCHEMA", "stream": "a", "schema": {}}) + "\n"
        + _json.dumps({"type": "SCHEMA", "stream": "b", "schema": {}}) + "\n"
    )
    dst = str(tmp_path / "never_created")
    with pytest.raises(SystemExit):
        run_cdc.main([
            "--events", str(frames), "--table", dst,
            "--checkpoint", str(tmp_path / "ck"), "--mode", "singer",
        ])
    assert not os.path.exists(dst)
    # --validate / --quarantine-path are YAML-governed under --project
    tap = tmp_path / "tap.yml"
    tap.write_text(
        'id: "t"\nname: "t"\ntype: "tap-mysql"\nowner: "o"\n'
        'db_conn: {host: "h", port: 1, user: "u", password: "p", '
        'dbname: "d"}\ntarget: "lake"\nschemas: []\n')
    with pytest.raises(SystemExit):
        run_cdc.main([
            "--project", str(tap), "--table", str(tmp_path / "lake"),
            "--events", str(frames), "--checkpoint", str(tmp_path / "ck2"),
            "--mode", "singer", "--validate", "quarantine",
        ])
