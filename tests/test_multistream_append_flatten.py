"""Multi-stream routing, append-only (no PK) loads, flattening, catalog
discovery, canonicalization expressions."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.cdc.pipeline import CdcPipeline, MultiStreamPipeline
from pipelinewise_spark.functions import canonical as C
from pipelinewise_spark.lake.table import LakeTable
from pipelinewise_spark.singer import catalog as cat
from pipelinewise_spark.transform.flatten import flatten


def test_multistream_routing(spark, tmp_path):
    ev_a = generate_change_events(
        spark, n_convs=8, turns_per_conv=3, n_updates=20, stream="a"
    )
    ev_b = generate_change_events(
        spark, n_convs=5, turns_per_conv=2, n_updates=10, stream="b", seed=7
    )
    both = ev_a.unionByName(ev_b)
    ta = LakeTable.create(spark, str(tmp_path / "a"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4)
    tb = LakeTable.create(spark, str(tmp_path / "b"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=4)
    multi = MultiStreamPipeline(
        {
            "a": CdcPipeline(ta, stream="a"),
            "b": CdcPipeline(tb, stream="b"),
        }
    )
    res = multi.apply_batch(both, batch_id=0)
    assert res["a"]["inserted"] > 0 and res["b"]["inserted"] > 0
    assert ta.read().count() <= 24 and tb.read().count() <= 10
    assert ta.bookmarks["a"]["lsn"] == 44
    assert tb.bookmarks["b"]["lsn"] == 20


def test_multistream_file_stream(spark, tmp_path):
    """Mixed two-stream change log through the streaming entry point:
    per-stream routing + per-table bookmarks under availableNow."""
    ev_a = generate_change_events(
        spark, n_convs=6, turns_per_conv=2, n_updates=10, stream="a"
    )
    ev_b = generate_change_events(
        spark, n_convs=4, turns_per_conv=2, n_updates=6, stream="b", seed=9
    )
    both = ev_a.unionByName(ev_b)
    src = str(tmp_path / "mixed")
    both.coalesce(1).write.mode("overwrite").parquet(src)
    ta = LakeTable.create(spark, str(tmp_path / "ma"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=2)
    tb = LakeTable.create(spark, str(tmp_path / "mb"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=2)
    multi = MultiStreamPipeline(
        {"a": CdcPipeline(ta, stream="a"), "b": CdcPipeline(tb, stream="b")}
    )
    multi.run_file_stream(src, str(tmp_path / "mckpt"))
    assert ta.refresh().bookmarks["a"]["lsn"] == 22
    assert tb.refresh().bookmarks["b"]["lsn"] == 14
    assert ta.read().count() > 0 and tb.read().count() > 0


def test_stream_runners_reject_unknown_options(spark, tmp_path):
    """Both pipeline classes share one stream runner with one explicit
    signature: a misspelt option fails instead of being ignored."""
    import pytest

    table = LakeTable.create(spark, str(tmp_path / "a"), TRANSCRIPT_SCHEMA,
                             TRANSCRIPT_KEY, num_buckets=4)
    pipe = CdcPipeline(table, stream="a")
    multi = MultiStreamPipeline({"a": pipe})
    for run in (pipe.run_file_stream, pipe.run_singer_stream,
                multi.run_file_stream, multi.run_singer_stream):
        with pytest.raises(TypeError, match="timeout"):
            run(str(tmp_path / "in"), str(tmp_path / "ck"), timeout=5)


def test_append_only_no_pk(spark, tmp_path):
    schema = StructType(
        [StructField("payload", StringType()), StructField("src", StringType())]
    )
    table = LakeTable.create(spark, str(tmp_path / "ap"), schema, [], num_buckets=4)
    df = spark.createDataFrame(
        [("p1", "s", 1), ("p2", "s", 2), ("p1", "s", 3)],
        "payload string, src string, lsn long",
    ).select("*", F.lit("I").alias("op"))
    m = merge_into(table, df, batch_id=0)
    assert m["inserted"] == 3 and m["appended"]
    v = table.version
    # append-only replay guard still works via batch id
    m2 = merge_into(table, df, batch_id=0)
    assert m2["skipped"] and table.version == v
    # second batch appends without touching existing files
    files_before = {p for fl in table.manifest["buckets"].values() for p in fl}
    merge_into(table, df.withColumn("lsn", F.lit(100)), batch_id=1)
    files_after = {p for fl in table.manifest["buckets"].values() for p in fl}
    assert files_before < files_after
    assert table.read().count() == 6


def test_flatten_nested(spark):
    df = spark.createDataFrame(
        [
            Row(
                id=1,
                user=Row(name="a", address=Row(city="x", zip="1")),
                tags=["t1", "t2"],
            )
        ]
    )
    out = flatten(df, max_level=10)
    assert set(out.columns) == {
        "id", "user__name", "user__address__city", "user__address__zip", "tags",
    }
    r = out.collect()[0]
    assert r["user__address__city"] == "x"
    assert r["tags"] == '["t1","t2"]'  # arrays JSON-serialized
    # level limit: leftover struct at max_level becomes JSON
    shallow = flatten(df, max_level=1)
    assert "user__address" in shallow.columns
    assert shallow.collect()[0]["user__address"] == '{"city":"x","zip":"1"}'


def test_flatten_long_names(spark):
    long = "c" * 80
    df = spark.createDataFrame([Row(id=1, **{long: Row(sub="v")})])
    out = flatten(df)
    name = [c for c in out.columns if c != "id"][0]
    assert len(name) <= 63
    assert out.collect()[0][name] == "v"


def test_catalog_discovery(spark, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "cat"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY, num_buckets=2
    )
    entry = cat.discover_lake_table(table, "public-transcripts")
    assert entry["key_properties"] == TRANSCRIPT_KEY
    props = entry["schema"]["properties"]
    assert set(props) == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    assert props["ts"]["format"] == "date-time"
    assert cat.selected_columns(entry) == list(props)
    # key columns marked automatic
    md = {tuple(m["breadcrumb"]): m["metadata"] for m in entry["metadata"]}
    assert md[("properties", "conv_id")]["inclusion"] == "automatic"
    assert md[("properties", "text")]["inclusion"] == "available"


def test_canonicalization_exprs(spark):
    df = spark.createDataFrame(
        [("2024-06-15 10:20:30.123456", "0A1b", 1, "16/B374D848", 5)],
        "ts string, hexsrc string, bit int, pglsn string, file int",
    ).select(
        F.to_timestamp("ts").alias("ts"),
        F.encode(F.col("hexsrc"), "utf-8").alias("bin"),
        "bit",
        "pglsn",
        "file",
    )
    r = df.select(
        C.iso_utc(F.col("ts")).alias("iso"),
        C.bytes_to_hex(F.col("bin")).alias("hx"),
        C.bit_to_bool(F.col("bit")).alias("b"),
        C.pg_lsn_to_int(F.col("pglsn")).alias("lsn"),
        C.mysql_lsn(F.col("file"), F.lit(4)).alias("mylsn"),
        C.clamp_timestamp(F.to_timestamp(F.lit("99999-01-01"))).alias("clamped"),
        C.parse_timestamp_safe(F.lit("not-a-date")).alias("safe"),
    ).collect()[0]
    assert r["iso"] == "2024-06-15T10:20:30.123456+00:00"
    assert r["hx"] == "30413162"
    assert r["b"] is True
    assert r["lsn"] == (0x16 << 32) + 0xB374D848
    assert r["mylsn"] == (5 << 32) + 4
    assert str(r["safe"]).startswith("9999-12-31")


def test_multistream_parallel_matches_sequential(spark, tmp_path):
    """max_concurrency>1 overlaps the per-stream merges (disjoint
    tables); final state must equal the sequential loop's."""
    evs = [
        generate_change_events(
            spark, n_convs=6, turns_per_conv=3, n_updates=15,
            stream=s, seed=i + 1, delete_pct=10,
        )
        for i, s in enumerate("abcd")
    ]
    both = evs[0]
    for e in evs[1:]:
        both = both.unionByName(e)

    def build(prefix, conc):
        tables = {
            s: LakeTable.create(
                spark, str(tmp_path / f"{prefix}{s}"), TRANSCRIPT_SCHEMA,
                TRANSCRIPT_KEY, num_buckets=2,
            )
            for s in "abcd"
        }
        multi = MultiStreamPipeline(
            {s: CdcPipeline(t, stream=s) for s, t in tables.items()},
            max_concurrency=conc,
        )
        return tables, multi

    tseq, mseq = build("s", 1)
    tpar, mpar = build("p", 4)
    rs = mseq.apply_batch(both, batch_id=0)
    rp = mpar.apply_batch(both, batch_id=0)
    for s in "abcd":
        for k in ("inserted", "updated", "deleted"):
            assert rs[s][k] == rp[s][k], (s, k)
        rows = lambda t: sorted(  # noqa: E731
            (r.conv_id, r.turn_idx, r.text, r._lsn) for r in t.read().collect()
        )
        assert rows(tseq[s]) == rows(tpar[s]), s
        assert tseq[s].bookmarks[s] == tpar[s].bookmarks[s]


def test_multistream_parallel_failure_isolated_and_replay_noops(spark, tmp_path):
    """One stream failing must not block the others' commits; the retried
    batch no-ops the committed streams via their batch-id guard."""
    import pytest

    ev_a = generate_change_events(
        spark, n_convs=5, turns_per_conv=2, n_updates=8, stream="a"
    )
    ev_b = generate_change_events(
        spark, n_convs=5, turns_per_conv=2, n_updates=8, stream="b", seed=3
    )
    # poison stream b: null PK → its merge raises pre-commit
    bad_b = ev_b.withColumn("conv_id", F.lit(None).cast("string"))
    ta = LakeTable.create(spark, str(tmp_path / "fa"), TRANSCRIPT_SCHEMA,
                          TRANSCRIPT_KEY, num_buckets=2)
    tb = LakeTable.create(spark, str(tmp_path / "fb"), TRANSCRIPT_SCHEMA,
                          TRANSCRIPT_KEY, num_buckets=2)
    multi = MultiStreamPipeline(
        {"a": CdcPipeline(ta, stream="a"), "b": CdcPipeline(tb, stream="b")},
        max_concurrency=2,
    )
    with pytest.raises(RuntimeError, match="stream merge"):
        multi.apply_batch(ev_a.unionByName(bad_b), batch_id=0)
    ta.refresh(), tb.refresh()
    assert ta.bookmarks.get("a"), "healthy stream must have committed"
    assert not tb.bookmarks.get("b"), "poisoned stream must not commit"
    # retry with the fixed batch: a skips (batch id), b applies
    res = multi.apply_batch(ev_a.unionByName(ev_b), batch_id=0)
    assert res["a"].get("skipped") is True
    assert res["b"]["inserted"] > 0
    assert tb.read().count() > 0
