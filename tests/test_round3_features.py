"""Round-3 features: OR-amplified (banded) embedding LSH.

The single-table hyperplane LSH (`ann.lsh_similar_pairs`) couples bucket
granularity to recall: 6 planes = 64 buckets (quadratic tail at scale),
and raising planes to shrink buckets collapses recall for borderline
pairs. Banding decouples them — k independent fine-grained plane sets,
candidate if colliding in ANY band — the same AND/OR construction the
MinHash side uses (dedup_text.lsh_candidate_pairs).

Everything here is deterministic: planes are md5-derived
(ann.plane_signs), the planted near-dup noise is murmur3-derived, so the
assertions are exact replays, not statistical tests.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pipelinewise_spark.functions import ann

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _with_planted_neardups(spark, amp: float = 0.18):
    """Union the corpus with one perturbed clone per vector: clone of
    vec_id=i gets id i+OFFSET and embedding[d] + amp*eps(i,d) with eps a
    deterministic murmur3-derived value in [-0.5, 0.5] — cosine(original,
    clone) lands ~0.95-0.99. True near-dup pairs = {(i, i+OFFSET)}."""
    base = _emb(spark).select("vec_id", "embedding")
    offset = 1_000_000
    noise = F.transform(
        "embedding",
        lambda x, i: x
        + F.lit(amp)
        * (
            (F.pmod(F.hash(F.col("vec_id"), i, F.lit(7)), F.lit(1000)) / 1000.0)
            - 0.5
        ),
    )
    clones = base.select(
        (F.col("vec_id") + offset).alias("vec_id"),
        noise.cast("array<double>").alias("embedding"),
    )
    both = base.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(clones)
    n = base.count()
    truth = {(i, i + offset) for i in range(n)}
    return both, truth


def _pairs(df) -> set:
    return {(r.id_a, r.id_b) for r in df.collect()}


def _single_candidates(df, planes: int):
    b = df.select(
        F.col("vec_id").alias("id"),
        ann.hyperplane_bucket(F.col("embedding"), 64, planes).alias("bkt"),
    )
    return (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.bkt") == F.col("b.bkt")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def test_banded_lsh_beats_single_table_on_planted_neardups(spark):
    """The at-scale claim, frozen: at EQUAL bucket granularity (10
    planes → 1024 buckets), the OR over 4 independent bands recovers
    far more true near-dup pairs than one table; and the banded recall
    also beats the COARSE single table (6 planes) that the round-2 query
    shipped, while its per-band buckets stay 16x finer (the quadratic
    verify tail shrinks accordingly)."""
    df, truth = _with_planted_neardups(spark)
    df = df.persist()
    try:
        single6 = _pairs(_single_candidates(df, 6)) & truth
        single10 = _pairs(_single_candidates(df, 10)) & truth
        banded = (
            _pairs(ann.lsh_banded_candidates(df, dim=64, bands=4, band_planes=10))
            & truth
        )
        n = len(truth)
        r6, r10, rb = len(single6) / n, len(single10) / n, len(banded) / n
        # OR-amplification at equal granularity: strictly more recall
        assert rb > r10, (rb, r10)
        # and it beats the coarse 64-bucket table too
        assert rb > r6, (rb, r6)
        # meaningful recall on genuine near-dups (cos ~0.95+), not noise
        assert rb >= 0.5, rb
    finally:
        df.unpersist()


def test_banded_lsh_verified_pairs_subset_of_exact(spark):
    """Verify stage correctness: every banded-LSH pair is a TRUE pair of
    the exact quadratic baseline at the same threshold (LSH may miss
    pairs — never invent or mis-score one)."""
    emb = _emb(spark)
    exact = _pairs(ann.similar_pairs(emb, threshold=0.3))
    banded = _pairs(
        ann.lsh_banded_pairs(emb, dim=64, bands=4, band_planes=10, threshold=0.3)
    )
    assert banded <= exact
    # sims agree exactly with the baseline on the common pairs
    ex = {
        (r.id_a, r.id_b): r.sim
        for r in ann.similar_pairs(emb, threshold=0.3).collect()
    }
    for r in ann.lsh_banded_pairs(
        emb, dim=64, bands=4, band_planes=10, threshold=0.3
    ).collect():
        assert ex[(r.id_a, r.id_b)] == r.sim


def test_banded_candidates_distinct_across_bands(spark):
    """A pair colliding in several bands must surface once (the OR is a
    set union, not a multiset)."""
    df, _ = _with_planted_neardups(spark, amp=0.01)  # near-identical clones
    cands = ann.lsh_banded_candidates(df, dim=64, bands=4, band_planes=10)
    assert cands.count() == cands.distinct().count()


# ---------------------------------------------------------------- file stats


from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA  # noqa: E402
from pipelinewise_spark.cdc.gen import generate_change_events  # noqa: E402
from pipelinewise_spark.cdc.merge import merge_into  # noqa: E402
from pipelinewise_spark.lake.table import LakeTable  # noqa: E402


def test_stats_filter_skips_files_on_lsn(spark, tmp_path):
    """The incremental-consumer read: after a bookmark, only files whose
    recorded _lsn bounds intersect (bookmark, ∞) are opened — at 100 TB
    that is the files written since, not every file of every bucket."""
    ev = generate_change_events(spark, n_convs=30, turns_per_conv=4, n_updates=60)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=8,
    )
    merge_into(t, ev.where(F.col("lsn") <= 150), batch_id=0)
    # second batch touches ONE key → one bucket rewritten; the other
    # buckets' files keep bounds ≤ 150
    one = (
        ev.orderBy(F.desc("lsn")).limit(1)
        .withColumn("lsn", F.lit(1000).cast("long"))
    )
    merge_into(t, one, batch_id=1)

    full = t.read()
    pruned = t.read(stats_filter={"_lsn": (151, None)})
    n_full, n_pruned = len(full.inputFiles()), len(pruned.inputFiles())
    assert n_pruned < n_full, (n_pruned, n_full)
    # skipping is file-level only — the caller's row predicate closes it
    want = sorted(
        (r.conv_id, r.turn_idx, r._lsn)
        for r in full.where(F.col("_lsn") > 150).collect()
    )
    got = sorted(
        (r.conv_id, r.turn_idx, r._lsn)
        for r in pruned.where(F.col("_lsn") > 150).collect()
    )
    assert got == want and len(got) == 1


def test_stats_filter_skips_files_on_timestamp(spark, tmp_path):
    """ts-bounded read skips files via timestamp footer bounds (requires
    TIMESTAMP_MICROS output — INT96 writes no stats; session.py pins it)."""
    import datetime

    from pyspark.sql.types import (
        StringType, StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("msg", StringType()),
        StructField("ts", TimestampType()),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=[], num_buckets=2,
        properties={"primary_key_required": False},
    )
    day = 86400
    for i in range(3):  # three appends with disjoint day-long ts ranges
        src = spark.range(50).select(
            F.concat(F.lit(f"m{i}-"), F.col("id").cast("string")).alias("msg"),
            F.timestamp_seconds(
                F.lit(1704067200 + i * day) + F.col("id")
            ).alias("ts"),
            (F.col("id") + i * 1000).alias("lsn"),
            F.lit("I").alias("op"),
        )
        merge_into(t, src, batch_id=i)
    cut = datetime.datetime(2024, 1, 3, tzinfo=datetime.timezone.utc)
    full = t.read()
    pruned = t.read(stats_filter={"ts": (cut, None)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert (
        pruned.where(F.col("ts") >= F.lit(cut)).count()
        == full.where(F.col("ts") >= F.lit(cut)).count()
        == 50
    )
    # range with both ends: only the middle day's files
    mid = t.read(stats_filter={
        "ts": (datetime.datetime(2024, 1, 2, tzinfo=datetime.timezone.utc),
               datetime.datetime(2024, 1, 2, 12, tzinfo=datetime.timezone.utc))
    })
    assert len(mid.inputFiles()) < len(full.inputFiles())
    assert mid.where(F.col("msg").startswith("m1-")).count() > 0


def test_stats_filter_refused_with_outstanding_deltas(spark, tmp_path):
    """Pruning one side of last-per-key resolution could resurrect a
    stale row → refused until compact() folds the deltas."""
    import pytest

    ev = generate_change_events(spark, n_convs=10, turns_per_conv=3, n_updates=20)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=4,
    )
    merge_into(t, ev.where(F.col("lsn") <= 30), batch_id=0, mode="mor")
    with pytest.raises(ValueError, match="compact"):
        t.read(stats_filter={"_lsn": (10, None)})
    t.compact()
    assert t.read(stats_filter={"_lsn": (10, None)}).count() > 0


def test_stats_survive_compaction_and_gc(spark, tmp_path):
    """Compaction rewrites buckets: new files get fresh bounds, dropped
    files leave the stats map (no unbounded manifest growth)."""
    ev = generate_change_events(spark, n_convs=20, turns_per_conv=3, n_updates=40)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=4,
    )
    merge_into(t, ev.where(F.col("lsn") <= 50), batch_id=0)
    merge_into(t, ev.where(F.col("lsn") > 50), batch_id=1)
    t.compact(max_files_per_bucket=0)
    live = {rel for fl in t.manifest["buckets"].values() for rel in fl} | {
        rel for fl in t.manifest.get("deltas", {}).values() for rel in fl
    }
    assert set(t.manifest["file_stats"]) <= live
    assert t.manifest["file_stats"], "compacted files must carry bounds"


def test_scan_clustered_stats_filter(spark, tmp_path):
    """The bucketed read-only scan skips files too (bucket declaration
    stays sound: remaining rows still hash to their declared bucket)."""
    ev = generate_change_events(spark, n_convs=30, turns_per_conv=4, n_updates=60)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=8,
    )
    merge_into(t, ev.where(F.col("lsn") <= 150), batch_id=0)
    one = (
        ev.orderBy(F.desc("lsn")).limit(1)
        .withColumn("lsn", F.lit(1000).cast("long"))
    )
    merge_into(t, one, batch_id=1)
    with t.scan_clustered() as full:
        n_full = full.count()
    with t.scan_clustered(stats_filter={"_lsn": (151, None)}) as pruned:
        assert pruned is not None
        assert pruned.where(F.col("_lsn") > 150).count() == 1
        assert pruned.count() < n_full


def test_changes_since_state_diff_feed(spark, tmp_path):
    """changes_since(bookmark) = exactly the rows whose latest state was
    written past the watermark, served through file skipping."""
    ev = generate_change_events(spark, n_convs=20, turns_per_conv=3, n_updates=40)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=8,
    )
    merge_into(t, ev.where(F.col("lsn") <= 60), batch_id=0)
    mark = t.bookmarks["default"]["lsn"]
    merge_into(t, ev.where(F.col("lsn") > 60), batch_id=1)
    inc = t.changes_since(mark)
    want = t.read().where(F.col("_lsn") > mark)
    assert sorted((r.conv_id, r.turn_idx, r._lsn) for r in inc.collect()) == sorted(
        (r.conv_id, r.turn_idx, r._lsn) for r in want.collect()
    )
    assert inc.count() > 0
    assert len(inc.inputFiles()) <= len(t.read().inputFiles())


# ------------------------------------------------------------ S14 mongo


def _mongo_lines(spark, rows):
    """rows: (op, _id, t, i, full_doc_json_or_None, token)"""
    import json

    def line(op, _id, t, i, doc, token):
        d = {
            "_id": {"_data": token},
            "operationType": op,
            "clusterTime": {"$timestamp": {"t": t, "i": i}},
            "ns": {"db": "app", "coll": "c"},
            "documentKey": {"_id": _id},
        }
        if doc is not None:
            d["fullDocument"] = doc
        return (json.dumps(d),)

    return spark.createDataFrame([line(*r) for r in rows], "value string")


def test_mongo_decode_and_lsn(spark):
    from pipelinewise_spark.sources import mongo

    lines = _mongo_lines(spark, [
        ("insert", "a", 100, 2, '{"_id":"a","v":1}', "0a"),
        ("delete", "a", 100, 3, None, "0b"),
        ("drop", "x", 100, 4, None, "0c"),  # non-CRUD ops filtered out
    ])
    got = {r._id: r for r in mongo.decode_change_stream(lines).collect()}
    assert set(got) == {"a"}  # the drop line is gone; both a-events fold later
    rows = mongo.decode_change_stream(lines).orderBy("lsn").collect()
    assert [r.op for r in rows] == ["I", "D"]
    assert rows[0].lsn == (100 << 32) + 2 and rows[1].lsn == (100 << 32) + 3
    assert rows[0].stream == "app-c" and rows[0].document == '{"_id":"a","v":1}'
    assert rows[1].document is None


def test_mongo_update_buffer_semantics(spark):
    """Reference change_streams.py:156-164: a non-lookup update queues
    its _id for a flush-time fetch; a LATER delete of the same _id
    discards it from the buffer; lookup updates (fullDocument present)
    never queue."""
    from pipelinewise_spark.sources import mongo

    lines = _mongo_lines(spark, [
        ("update", "a", 10, 1, None, "01"),            # needs fetch
        ("update", "b", 10, 2, None, "02"),            # deleted later
        ("delete", "b", 10, 3, None, "03"),
        ("update", "c", 10, 4, '{"_id":"c","v":9}', "04"),  # lookup mode
    ])
    decoded = mongo.decode_change_stream(lines)
    fetch = mongo.updates_requiring_fetch(decoded)
    assert [r._id for r in fetch.collect()] == ["a"]
    # flush-time fetch joins the current doc back in
    docs = spark.createDataFrame(
        [("app-c", "a", '{"_id":"a","v":7}')], "stream string, _id string, document string"
    )
    filled = mongo.apply_update_lookups(decoded, docs)
    by_id = {(r._id, r.lsn): r.document for r in filled.collect()}
    assert by_id[("a", (10 << 32) + 1)] == '{"_id":"a","v":7}'
    assert by_id[("c", (10 << 32) + 4)] == '{"_id":"c","v":9}'  # kept
    assert by_id[("b", (10 << 32) + 3)] is None  # delete stays bare


def test_mongo_min_restart_token(spark):
    from pipelinewise_spark.sources import mongo

    lines = _mongo_lines(spark, [
        ("insert", "a", 1, 1, "{}", "0a"),
        ("insert", "b", 1, 2, "{}", "0f"),  # stream app-c max = 0f
    ])
    d1 = mongo.decode_change_stream(lines)
    # second stream, further ahead
    d2 = d1.withColumn("stream", F.lit("app-d")).withColumn(
        "token", F.concat(F.lit("1"), F.col("token"))
    )
    tok = mongo.min_restart_token(d1.unionByName(d2)).collect()[0][0]
    assert tok == "0f"  # min across per-stream maxes (laggard stream)


def test_kmeans_cells_feed_ivf_topk(spark):
    """Integration: data-defined k-means cells replace the label column
    as the IVF partitioning — ivf_topk over them returns k neighbors
    per query, and every cell is non-trivial (the quantizer actually
    partitions, no degenerate all-in-one-cell split)."""
    emb = _emb(spark)
    cells = ann.kmeans_cells(emb, k=8, iters=2)
    sizes = [r["n"] for r in cells.groupBy("cell").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) >= 2 and max(sizes) < emb.count()
    corpus = emb.join(cells, "vec_id").withColumnRenamed("cell", "kcell")
    topk = ann.ivf_topk(
        corpus, corpus.where(F.col("vec_id") < 4), label_col="kcell",
        k=3, n_probe=2,
    )
    rows = topk.collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3}
    assert all(1 <= r.rank <= 3 for r in rows)


def test_kmeans_cells_deterministic(spark):
    c1 = {(r.vec_id, r.cell) for r in ann.kmeans_cells(_emb(spark), k=8, iters=2).collect()}
    c2 = {(r.vec_id, r.cell) for r in ann.kmeans_cells(_emb(spark), k=8, iters=2).collect()}
    assert c1 == c2


def test_mongo_replace_treated_as_full_document_update(spark):
    """replace_one()/save() emits operationType='replace' with a full
    document; it must apply as an update (the reference's watch filter
    silently DROPS replace events — a data-loss hole we do not copy)."""
    from pipelinewise_spark.sources import mongo

    lines = _mongo_lines(spark, [
        ("insert", "a", 5, 1, '{"_id":"a","v":1}', "01"),
        ("replace", "a", 5, 2, '{"_id":"a","v":2}', "02"),
    ])
    rows = mongo.decode_change_stream(lines).orderBy("lsn").collect()
    assert [r.op for r in rows] == ["I", "U"]
    assert rows[1].document == '{"_id":"a","v":2}'
    # and it never lands in the fetch buffer (document already present)
    assert mongo.updates_requiring_fetch(
        mongo.decode_change_stream(lines)
    ).count() == 0


def test_unrolled_memo_is_bounded_lru_keyed_by_context(spark, monkeypatch):
    from collections import OrderedDict

    monkeypatch.setattr(ann, "_UNROLLED_CACHE", OrderedDict())
    monkeypatch.setattr(ann, "_UNROLLED_CACHE_MAX", 3)
    v = F.col("embedding")
    first = ann.norm(v, dim=1)
    assert ann.norm(v, dim=1) is first  # memo hit
    ann.norm(v, dim=2)
    ann.norm(v, dim=3)
    ann.norm(v, dim=1)  # touch: dim=2 is now least recently used
    ann.norm(v, dim=4)
    assert len(ann._UNROLLED_CACHE) == 3
    assert [k[-1] for k in ann._UNROLLED_CACHE] == [3, 1, 4]
    assert ann.norm(v, dim=1) is first
    sc = spark.sparkContext
    assert all(k[:2] == (id(sc._gateway), sc.applicationId)
               for k in ann._UNROLLED_CACHE)
