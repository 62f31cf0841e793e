"""Top-level singer ingest: SCHEMA-driven evolution + ACTIVATE_VERSION
handling + auto-compaction, through CdcPipeline.ingest_singer_lines."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc import pipeline
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.pipeline import CdcPipeline
from pipelinewise_spark.lake.table import COMPACT_DELTA_CHAIN, LakeTable
from pipelinewise_spark.singer import protocol, schema as sschema

PAYLOAD_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def test_singer_ingest_with_mid_stream_schema_change(spark, tmp_path):
    events = generate_change_events(
        spark, n_convs=10, turns_per_conv=3, n_updates=40, delete_pct=10
    )
    js = sschema.struct_to_jsonschema(TRANSCRIPT_SCHEMA)
    f1 = str(tmp_path / "part1.jsonl")
    protocol.write_singer_file(
        events.where(F.col("lsn") <= 40), PAYLOAD_COLS, "s", js,
        TRANSCRIPT_KEY, f1,
    )

    # part 2 carries an evolved schema (new nullable lang column, F3)
    evolved = StructType(
        list(TRANSCRIPT_SCHEMA.fields) + [StructField("lang", StringType())]
    )
    js2 = sschema.struct_to_jsonschema(evolved)
    f2 = str(tmp_path / "part2.jsonl")
    protocol.write_singer_file(
        events.where(F.col("lsn") > 40).withColumn("lang", F.lit("en")),
        PAYLOAD_COLS + ["lang"], "s", js2, TRANSCRIPT_KEY, f2,
    )
    # append an ACTIVATE_VERSION control line (targets: no-op/log)
    with open(f2, "a") as fh:
        fh.write(json.dumps({"type": "ACTIVATE_VERSION", "stream": "s", "version": 7}) + "\n")

    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    pipe = CdcPipeline(table, stream="s")
    m1 = pipe.ingest_singer_lines(spark.read.text(f1), batch_id=0)
    assert m1["inserted"] > 0
    assert "lang" not in table.data_cols

    m2 = pipe.ingest_singer_lines(spark.read.text(f2), batch_id=1)
    assert "lang" in table.data_cols  # SCHEMA message drove evolution
    df = table.read()
    assert df.where(F.col("lang") == "en").count() > 0
    assert df.where(F.col("lang").isNull()).count() > 0
    assert any(h.get("control") == "activate_version" for h in pipe.history)


def test_auto_compaction_after_batches(spark, tmp_path, monkeypatch):
    """CoW merges replace bucket files (chains stay short); append-only
    loads GROW chains — auto-compaction folds them back."""
    events = generate_change_events(
        spark, n_convs=8, turns_per_conv=3, n_updates=60, delete_pct=0
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t2"), TRANSCRIPT_SCHEMA, [],  # no PK → append
        num_buckets=2, bucket_col="conv_id",
    )
    monkeypatch.setattr(pipeline, "COMPACT_MAX_FILES_PER_BUCKET", 1)
    pipe = CdcPipeline(table, stream="s", compact_every=4,
                       primary_key_required=False)
    pipe.replay(events, n_batches=4)
    assert all(len(fl) <= 1 for fl in table.manifest["buckets"].values())
    assert table.manifest["summary"]["operation"] == "compact"
    # content survives compaction (append-only: every event is a row)
    assert table.read().count() == events.count()


def test_quarantine_mode_diverts_malformed_records(spark, tmp_path):
    """validate='quarantine' (dead-letter queue): malformed RECORD
    payloads and wholly-unparseable lines land in a sibling quarantine
    LakeTable with the raw line + reason; clean rows still merge; a
    replay of the same batch duplicates neither side. Permissive mode
    would have nulled the mismatched field and merged the husk;
    strict mode would have killed the whole pipeline."""
    events = generate_change_events(
        spark, n_convs=6, turns_per_conv=2, n_updates=8, delete_pct=0
    )
    js = sschema.struct_to_jsonschema(TRANSCRIPT_SCHEMA)
    f = str(tmp_path / "frames.jsonl")
    protocol.write_singer_file(
        events, PAYLOAD_COLS, "s", js, TRANSCRIPT_KEY, f
    )
    n_clean = sum(
        1 for ln in open(f) if json.loads(ln)["type"] == "RECORD"
    )
    with open(f, "a") as fh:
        # type mismatch: turn_idx is a string — permissive would null it
        fh.write(json.dumps({
            "type": "RECORD", "stream": "s",
            "record": {"conv_id": "cX", "turn_idx": "NOT-A-NUMBER",
                       "text": "t", "_sdc_lsn": 999},
        }) + "\n")
        # framing garbage: not even JSON
        fh.write('{"type":"RECORD" this is not json\n')
        # another stream's malformed record: NOT this pipeline's problem
        fh.write(json.dumps({
            "type": "RECORD", "stream": "other",
            "record": {"conv_id": 7, "turn_idx": "x", "_sdc_lsn": 1},
        }).replace('"conv_id": 7', '"turn_idx": []') + "\n")

    table = LakeTable.create(
        spark, str(tmp_path / "tq"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=4,
    )
    pipe = CdcPipeline(table, stream="s", validate="quarantine")
    m = pipe.ingest_singer_lines(spark.read.text(f), batch_id=0)
    assert m["quarantined"] == 2  # bad record + garbage line, not 'other'
    assert m["inserted"] > 0
    # the husk did NOT merge
    assert table.read().where(F.col("conv_id") == "cX").count() == 0
    qt = LakeTable(spark, pipe.quarantine_path)
    q = {r["reason"]: r["value"] for r in qt.read().collect()}
    assert set(q) == {"malformed_record", "unparseable_line"}
    assert "NOT-A-NUMBER" in q["malformed_record"]
    # DLQ rows carry a synthetic monotonic lsn (= the numeric batch id):
    # without one, 1024 quarantining batches evict the replay window and
    # the ExactlyOnceWindowError guard bricks the pipeline forever
    assert {r["_lsn"] for r in qt.read().select("_lsn").collect()} == {0}
    # replay same batch: neither side duplicates
    m2 = pipe.ingest_singer_lines(spark.read.text(f), batch_id=0)
    assert m2.get("skipped") or m2.get("inserted", 0) == 0
    assert qt.refresh().read().count() == 2
    # clean rows all merged exactly once
    assert table.read().count() == table.read().select(
        "conv_id", "turn_idx").distinct().count()
    assert n_clean > 0


def test_identical_schema_messages_reconcile_once(spark, tmp_path, monkeypatch):
    """A batch of N singer files carries N identical SCHEMA lines per
    stream: only a message that differs from the last one reconciled (or
    meets changed table fields) runs the drift diff, and the resulting
    schema equals reconciling every message in order."""
    from pipelinewise_spark.evolution import drift

    base = sschema.struct_to_jsonschema(TRANSCRIPT_SCHEMA)
    wide = sschema.struct_to_jsonschema(
        StructType(list(TRANSCRIPT_SCHEMA.fields)
                   + [StructField("lang", StringType())])
    )
    msgs = [{"type": "SCHEMA", "stream": "s", "schema": js}
            for js in [base] * 3 + [wide] * 2 + [base] * 2]
    ctrl = {"SCHEMA": msgs, "STATE": [], "ACTIVATE_VERSION": []}
    events = generate_change_events(spark, n_convs=4, turns_per_conv=2,
                                    n_updates=0)
    f = str(tmp_path / "part.jsonl")
    protocol.write_singer_file(events, PAYLOAD_COLS, "s", base,
                               TRANSCRIPT_KEY, f)

    calls = []
    real = drift.reconcile
    monkeypatch.setattr(drift, "reconcile",
                        lambda t, p, **kw: calls.append(p) or real(t, p, **kw))
    table = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                             TRANSCRIPT_KEY, num_buckets=2)
    pipe = CdcPipeline(table, stream="s")
    pipe.ingest_singer_lines(spark.read.text(f), batch_id=0, _ctrl=ctrl)
    assert len(calls) == 3  # base, wide, base
    pipe.ingest_singer_lines(spark.read.text(f), batch_id=1, _ctrl=ctrl)
    # the leading base repeats the last one reconciled on unchanged
    # fields and is skipped; wide and the trailing base reconcile
    assert len(calls) == 5

    twin = LakeTable.create(spark, str(tmp_path / "twin"), TRANSCRIPT_SCHEMA,
                            TRANSCRIPT_KEY, num_buckets=2)
    for m in msgs + msgs:
        real(twin, sschema.jsonschema_to_struct(m["schema"]))
    assert table.manifest["fields"] == twin.manifest["fields"]


def test_compact_cadence_counts_applied_batches_and_history_is_bounded(
    spark, tmp_path, monkeypatch
):
    """``compact_every`` fires on every Nth APPLIED batch while
    activate_version and auto_compact control records interleave with
    the batches, and the history keeps only the last
    ``MAX_APPLIED_BATCH_IDS`` entries (a long tail's driver memory stays
    bounded)."""
    table = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                             TRANSCRIPT_KEY, num_buckets=2)
    pipe = CdcPipeline(table, stream="s", mode="mor", compact_every=3)
    events = []
    batch = [0]
    monkeypatch.setattr(pipeline, "MAX_APPLIED_BATCH_IDS", 4)
    monkeypatch.setattr(pipeline, "merge_into",
                        lambda *a, **kw: {"rows": 0, "batch_id": batch[0]})
    # every merge-on-read batch off the cadence trips the delta backstop
    monkeypatch.setattr(table, "delta_pressure", lambda: events.append(
        ("probe", batch[0])) or {"max_chain": COMPACT_DELTA_CHAIN + 1})
    monkeypatch.setattr(table, "compact", lambda **kw: events.append(
        ("compact", batch[0])))
    for i in range(1, 13):
        batch[0] = i
        activate = json.dumps({"type": "ACTIVATE_VERSION", "stream": "s",
                               "version": i})
        pipe.ingest_singer_lines(
            spark.createDataFrame([(activate,)], "value string"), batch_id=i
        )
    cadence = [i for n, (kind, i) in enumerate(events)
               if kind == "compact" and events[n - 1] != ("probe", i)]
    assert cadence == [3, 6, 9, 12]
    assert sum(kind == "compact" for kind, _ in events) == 12
    # 12 batches made 32 records; only the last four remain
    assert pipe.history == [
        {"rows": 0, "batch_id": 11},
        {"control": "auto_compact",
         "pressure": {"max_chain": COMPACT_DELTA_CHAIN + 1}},
        {"control": "activate_version", "versions": [12]},
        {"rows": 0, "batch_id": 12},
    ]


def test_quarantine_content_digest_is_an_order_blind_reduce(spark, tmp_path):
    """A direct ingest (no batch id) names its dead-letter batch by a
    content digest: the same garbage lines in another order fold to the
    same id, one extra line makes a new id, and the digest is a
    distributed reduce — no ``collect_list`` of every bad line into one
    row."""
    from test_plan_invariants import _sql_plans

    table = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                             TRANSCRIPT_KEY, num_buckets=2)
    pipe = CdcPipeline(table, stream="s", validate="quarantine")
    garbage = [f'{{"type":"RECORD" garbage {i}' for i in range(3)]

    def ingest(lines):
        return pipe.ingest_singer_lines(
            spark.createDataFrame([(ln,) for ln in lines], "value string")
        )

    plans = _sql_plans(spark, lambda: ingest(garbage))
    assert plans and not [p for p in plans if "collect_list" in p]
    quarantine = LakeTable(spark, pipe.quarantine_path)
    assert quarantine.read().count() == 3
    ingest(garbage[::-1])  # same lines, another order: same id, folded
    assert quarantine.refresh().read().count() == 3
    ingest(garbage + ['{"type":"RECORD" garbage 3'])  # a new id: appended
    assert quarantine.refresh().read().count() == 7
