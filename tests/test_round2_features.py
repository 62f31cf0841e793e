"""Round-2 feature coverage: driver-scale STATE handling, strict record
validation (T12), strict SCHEMA stream matching, typed-array schema
mapping, Kafka offset-spec rendering, bookmark-presence stream routing,
and HASH-SKIP-FIRST byte parity with the reference."""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType, StringType

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.oracle import fold_events
from pipelinewise_spark.cdc.pipeline import CdcPipeline, MultiStreamPipeline
from pipelinewise_spark.lake.table import LakeTable
from pipelinewise_spark.singer import protocol, schema as sschema
from pipelinewise_spark.sources.kafka import render_starting_offsets
from pipelinewise_spark.transform.compiler import compile_transformations

EVENT_COLS = ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]


# ------------------------------------------------------ STATE at scale

def test_state_lines_never_collected_at_scale(spark):
    """≥100k singer lines with STATE cadence 1000: the driver-side collect
    sees only the SCHEMA line (O(streams)), while the STATE high-watermark
    is reduced distributed-side (reference cadence: binlog.py:36)."""
    n = 100_000
    recs = spark.range(n).select(
        F.to_json(
            F.struct(
                F.lit("RECORD").alias("type"),
                F.lit("s").alias("stream"),
                F.struct(
                    (F.col("id") + 1).alias("_sdc_lsn"),
                    F.concat(F.lit("c"), F.pmod("id", F.lit(64)).cast("string")).alias("conv_id"),
                    (F.col("id") % 7).cast("int").alias("turn_idx"),
                ).alias("record"),
            )
        ).alias("value")
    )
    states = spark.range(n // 1000).select(
        F.to_json(
            F.struct(
                F.lit("STATE").alias("type"),
                F.struct(
                    F.struct(
                        F.struct(((F.col("id") + 1) * 1000).alias("lsn")).alias("s")
                    ).alias("bookmarks")
                ).alias("value"),
            )
        ).alias("value")
    )
    schema_line = spark.createDataFrame(
        [(protocol.schema_message(
            "s",
            {"type": "object", "properties": {"conv_id": {"type": ["null", "string"]},
                                              "turn_idx": {"type": ["null", "integer"]}}},
            ["conv_id", "turn_idx"],
        ),)],
        "value string",
    )
    lines = recs.unionAll(states).unionAll(schema_line)

    ctrl = protocol.collect_control_messages(lines)
    assert len(ctrl["SCHEMA"]) == 1
    assert ctrl["STATE"] == []  # 100 STATE lines, zero driver rows
    hwm = {r["stream"]: r["max_lsn"]
           for r in protocol.state_high_watermarks(lines).collect()}
    assert hwm == {"s": n}


# --------------------------------------------------- strict validation

def _record_line(stream, record):
    return json.dumps({"type": "RECORD", "stream": stream, "record": record})


def test_strict_validation_rejects_malformed_record(spark):
    payload = {"type": "object", "properties": {
        "conv_id": {"type": ["null", "string"]},
        "turn_idx": {"type": ["null", "integer"]},
    }}
    lines = spark.createDataFrame(
        [(_record_line("s", {"_sdc_lsn": 1, "conv_id": "a", "turn_idx": 1}),),
         (_record_line("s", {"_sdc_lsn": 2, "conv_id": "b", "turn_idx": "NOT-AN-INT"}),)],
        "value string",
    )
    # permissive default: the bad field nulls out, nothing raises
    rows = protocol.decode_records(lines, payload, stream="s").collect()
    assert {r["turn_idx"] for r in rows} == {1, None}
    # strict: FAILFAST raises on the malformed payload
    with pytest.raises(Exception):
        protocol.decode_records(lines, payload, stream="s", validate="strict").collect()
    with pytest.raises(ValueError):
        protocol.decode_records(lines, payload, stream="s", validate="bogus")


def test_permissive_decode_tolerates_bad_time_extracted(spark):
    """Permissive contract: an unparseable time_extracted nulls out
    instead of failing the whole batch under ANSI mode."""
    payload = {"type": "object", "properties": {
        "conv_id": {"type": ["null", "string"]}}}
    lines = spark.createDataFrame(
        [(json.dumps({"type": "RECORD", "stream": "s",
                      "record": {"_sdc_lsn": 1, "conv_id": "a"},
                      "time_extracted": "garbage-date"}),)],
        "value string",
    )
    rows = protocol.decode_records(lines, payload, stream="s").collect()
    assert len(rows) == 1 and rows[0]["time_extracted"] is None


# ---------------------------------------- strict SCHEMA stream matching

def test_foreign_schema_does_not_evolve_table(spark, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4
    )
    pipe = CdcPipeline(table, stream="mine")
    foreign_schema = protocol.schema_message(
        "theirs",
        {"type": "object", "properties": {"alien_col": {"type": ["null", "string"]},
                                          "conv_id": {"type": ["null", "string"]}}},
        ["conv_id"],
    )
    rec = _record_line("mine", {
        "_sdc_lsn": 1, "conv_id": "c1", "turn_idx": 0, "role": "user",
        "text": "hello", "tool": None, "ts": "2024-01-01T00:00:00+00:00",
    })
    lines = spark.createDataFrame([(foreign_schema,), (rec,)], "value string")
    pipe.ingest_singer_lines(lines, batch_id=0)
    cols = [f["logical"] for f in table.manifest["fields"]]
    assert "alien_col" not in cols
    assert table.read().count() == 1


# -------------------------------------------------- typed-array mapping

def test_typed_array_roundtrip():
    js = {"type": ["null", "array"], "items": {"type": ["null", "integer"]}}
    dt = sschema.jsonschema_to_spark_type(js)
    assert dt == ArrayType(LongType())
    # item-less arrays still fall back to a JSON string
    assert sschema.jsonschema_to_spark_type({"type": ["null", "array"]}) == StringType()
    # sized integer items
    js32 = {"type": ["null", "array"],
            "items": {"type": ["null", "integer"],
                      "minimum": -(2**31), "maximum": 2**31 - 1}}
    assert sschema.jsonschema_to_spark_type(js32) == ArrayType(IntegerType())
    # spark → jsonschema → spark round-trip is stable
    back = sschema.jsonschema_to_spark_type(
        sschema.spark_type_to_jsonschema(ArrayType(LongType()))
    )
    assert back == ArrayType(LongType())


def test_typed_array_decodes_in_records(spark):
    payload = {"type": "object", "properties": {
        "conv_id": {"type": ["null", "string"]},
        "scores": {"type": ["null", "array"], "items": {"type": ["null", "number"]}},
    }}
    lines = spark.createDataFrame(
        [(_record_line("s", {"_sdc_lsn": 1, "conv_id": "a", "scores": [0.5, 1.25]}),)],
        "value string",
    )
    row = protocol.decode_records(lines, payload, stream="s").collect()[0]
    assert row["scores"] == [0.5, 1.25]


# --------------------------------------------------- kafka offset spec

def test_kafka_starting_offsets_spec():
    # reference bookmarks hold the LAST-CONSUMED offset; Spark's
    # startingOffsets is inclusive-next → +1 on non-sentinel offsets
    # (verbatim conversion would re-consume one message per partition);
    # sentinels (-2 earliest / -1 latest) pass through
    rendered = render_starting_offsets("transcripts", {0: 42, 1: 7, 2: -2, 3: -1})
    assert json.loads(rendered) == {
        "transcripts": {"0": 43, "1": 8, "2": -2, "3": -1}
    }
    # partition keys MUST be strings, offsets ints (Spark's JSON spec)
    parsed = json.loads(rendered)["transcripts"]
    assert all(isinstance(k, str) for k in parsed)
    assert all(isinstance(v, int) for v in parsed.values())
    # Spark-convention (next-offset) bookmarks render VERBATIM — bumping
    # them would SKIP a message per partition, unrepairable downstream
    verbatim = render_starting_offsets(
        "transcripts", {0: 42, 2: -2}, last_consumed=False
    )
    assert json.loads(verbatim) == {"transcripts": {"0": 42, "2": -2}}


# ------------------------------------- bookmark-presence stream routing

def test_mixed_new_and_bookmarked_stream_routing(spark, tmp_path):
    """Reference cli/pipelinewise.py:172-368: streams without a valid
    bookmark route through bulk initial load, bookmarked streams tail
    directly — one mixed batch converges both tables to the oracle."""
    ev_a = generate_change_events(
        spark, n_convs=10, turns_per_conv=3, n_updates=40, delete_pct=10,
        stream="a",
    ).persist()
    ev_b = generate_change_events(
        spark, n_convs=8, turns_per_conv=3, n_updates=30, delete_pct=10,
        seed=7, stream="b",
    ).persist()
    ta = LakeTable.create(spark, str(tmp_path / "a"), TRANSCRIPT_SCHEMA,
                          TRANSCRIPT_KEY, num_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "b"), TRANSCRIPT_SCHEMA,
                          TRANSCRIPT_KEY, num_buckets=4)
    # stream a is already bookmarked (its first 30 events were applied)
    CdcPipeline(ta, stream="a").apply_batch(
        ev_a.where(F.col("lsn") <= 30), batch_id="seed"
    )
    assert ta.bookmarks["a"]["lsn"] == 30
    assert tb.bookmarks.get("b") is None

    # stream b's snapshot = its state after lsn 20 (overlap window: the
    # tail batch re-delivers >10, events ≤20 must no-op via the bookmark)
    folded = fold_events(
        [r.asDict() for r in ev_b.where(F.col("lsn") <= 20).select(*EVENT_COLS).collect()],
        TRANSCRIPT_KEY,
    )
    snap_rows = [
        {k: v for k, v in d.items() if k not in ("lsn", "_deleted")}
        for d in folded.values() if not d["_deleted"]
    ]
    snapshot = spark.createDataFrame(snap_rows, TRANSCRIPT_SCHEMA)

    def provider(stream):
        assert stream == "b", "only the unbookmarked stream may route"
        return snapshot, 20

    multi = MultiStreamPipeline(
        {"a": CdcPipeline(ta, stream="a"), "b": CdcPipeline(tb, stream="b")},
        snapshot_provider=provider,
    )
    mixed = ev_a.where(F.col("lsn") > 30).unionByName(
        ev_b.where(F.col("lsn") > 10)
    )
    multi.apply_batch(mixed, batch_id=0)

    for tbl, ev in ((ta, ev_a), (tb, ev_b)):
        exp = fold_events(
            [r.asDict() for r in ev.select(*EVENT_COLS).collect()], TRANSCRIPT_KEY
        )
        act = {(d["conv_id"], d["turn_idx"]): d.asDict() for d in tbl.read().collect()}
        assert set(act) == set(exp)
        for k, e in exp.items():
            assert act[k]["text"] == e["text"], k
    # routing is idempotent: the bookmark now exists, provider not called
    multi.snapshot_provider = lambda s: (_ for _ in ()).throw(AssertionError(s))
    multi.apply_batch(mixed.limit(0), batch_id=1)
    ev_a.unpersist()
    ev_b.unpersist()


def test_primary_key_required_guard(spark, tmp_path):
    """Reference target_postgres/__init__.py:203-206: a keyless stream is
    rejected unless the config opts out — keyless loads are append-only
    and would silently duplicate on replay."""
    keyless = LakeTable.create(spark, str(tmp_path / "k"), TRANSCRIPT_SCHEMA,
                               [], num_buckets=2)
    with pytest.raises(ValueError, match="primary_key_required"):
        CdcPipeline(keyless, stream="s")
    pipe = CdcPipeline(keyless, stream="s", primary_key_required=False)
    ev = generate_change_events(spark, n_convs=4, turns_per_conv=2, n_updates=5)
    m = pipe.apply_batch(ev, batch_id=0)
    assert m["inserted"] == ev.count() and m.get("appended")


def test_multistream_rejects_mismatched_stream_keys(spark, tmp_path):
    """dict key = split value, pipe.stream = bookmark key; a mismatch
    would bookmark data under a different name than it was split on."""
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                         TRANSCRIPT_KEY, num_buckets=2)
    with pytest.raises(ValueError, match="must equal the pipeline's stream"):
        MultiStreamPipeline({"public-users": CdcPipeline(t, stream="users")})


def test_multistream_partial_failure_exactly_once(spark, tmp_path):
    """One stream's merge fails mid-batch → the whole batch retries →
    already-committed streams no-op via their per-table batch-id guard,
    the failed stream applies. Per-stream exactly-once survives partial
    failure (the MultiStreamPipeline contract)."""
    ev_a = generate_change_events(
        spark, n_convs=8, turns_per_conv=3, n_updates=20, stream="a"
    ).persist()
    ev_b = generate_change_events(
        spark, n_convs=6, turns_per_conv=3, n_updates=15, seed=9, stream="b"
    ).persist()
    ta = LakeTable.create(spark, str(tmp_path / "a"), TRANSCRIPT_SCHEMA,
                          TRANSCRIPT_KEY, num_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "b"), TRANSCRIPT_SCHEMA,
                          TRANSCRIPT_KEY, num_buckets=4)

    boom = {"armed": True}

    def failing_transform(df):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected mid-batch failure on stream b")
        return df

    multi = MultiStreamPipeline({
        "a": CdcPipeline(ta, stream="a"),
        "b": CdcPipeline(tb, stream="b", transform=failing_transform),
    })
    mixed = ev_a.unionByName(ev_b)
    with pytest.raises(RuntimeError):
        multi.apply_batch(mixed, batch_id=7)
    assert ta.refresh().version == 2  # a committed before b failed
    assert tb.refresh().version == 0
    ra_after_first = sorted(
        (r["conv_id"], r["turn_idx"], r["_lsn"]) for r in ta.read().collect()
    )
    results = multi.apply_batch(mixed, batch_id=7)  # the engine-level retry
    assert results["a"].get("skipped")              # batch-id guard no-op
    assert not results["b"].get("skipped")
    assert sorted(
        (r["conv_id"], r["turn_idx"], r["_lsn"]) for r in ta.read().collect()
    ) == ra_after_first  # no duplication on stream a
    for tbl, ev in ((ta, ev_a), (tb, ev_b)):
        exp = fold_events(
            [r.asDict() for r in ev.select(*EVENT_COLS).collect()], TRANSCRIPT_KEY
        )
        act = {(r["conv_id"], r["turn_idx"]) for r in tbl.read().collect()}
        assert act == set(exp)
    ev_a.unpersist()
    ev_b.unpersist()


# --------------------------------------- HASH-SKIP-FIRST byte parity

def test_hash_skip_first_multibyte_parity(spark):
    """Reference transform.py:165-168 keeps value[:n] chars and hashes
    value.encode('utf-8')[n:] — a BYTE slice. Multibyte codepoints in the
    first n characters must reproduce that byte-for-byte."""
    values = ["héllo wörld", "日本語テスト", "plain ascii", "éé", "é"]
    df = spark.createDataFrame([(v,) for v in values], "name string")
    out = compile_transformations([{"field_id": "name", "type": "HASH-SKIP-FIRST-2"}])(df)
    got = {r_in: r_out for r_in, r_out in zip(values, [r["name"] for r in out.collect()])}
    for v in values:
        expected = v[:2] + hashlib.sha256(v.encode("utf-8")[2:]).hexdigest()
        assert got[v] == expected, v
