"""Round-4 features: delta-pressure MoR compaction backstop (bounded
read amplification, bounded manifest, stats_filter skipping re-enabled
after auto-compaction) and widen-only native type promotion."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.cdc.pipeline import CdcPipeline
from pipelinewise_spark.lake.table import (
    COMPACT_DELTA_CHAIN,
    MANIFEST_DIR,
    LakeTable,
)


def _manifest_size(t: LakeTable) -> int:
    return os.path.getsize(
        os.path.join(t.path, MANIFEST_DIR, f"v{t.version:012d}.json")
    )


def test_mor_flood_delta_pressure_backstop(spark, tmp_path):
    """A flood of tiny MoR commits with NO compact_every cadence: the
    per-bucket delta-chain trigger must fire by itself, keeping read
    amplification, outstanding pressure, and manifest size bounded —
    and leaving the table readable with stats_filter (skipping) again
    once chains are folded."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=4,
    )
    pipe = CdcPipeline(t, stream="s", mode="mor", compact_every=None)
    ev = generate_change_events(
        spark, n_convs=12, turns_per_conv=3, n_updates=64
    ).persist()
    n_batches = 40
    bounds = ev.agg(F.min("lsn"), F.max("lsn")).first()
    lo, hi = bounds[0], bounds[1]
    step = (hi - lo + n_batches) // n_batches
    max_chain_seen, manifest_sizes = 0, []
    for i in range(n_batches):
        b = ev.where(
            (F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step)
        )
        pipe.apply_batch(b, batch_id=i)
        p = t.delta_pressure()
        max_chain_seen = max(max_chain_seen, p["max_chain"])
        manifest_sizes.append(_manifest_size(t))
    # the backstop fired (no cadence was configured)
    compactions = [h for h in pipe.history if h.get("control") == "auto_compact"]
    assert compactions, "delta-pressure trigger never fired"
    # pressure stayed bounded the whole run: a chain can exceed the
    # threshold by at most one commit before the backstop folds it
    assert max_chain_seen <= COMPACT_DELTA_CHAIN + 1
    assert t.delta_pressure()["max_chain"] <= COMPACT_DELTA_CHAIN + 1
    # manifest stays O(bounded-outstanding-files), not O(commits):
    # the peak is not at the end of a 40-commit flood
    assert manifest_sizes[-1] <= max(manifest_sizes)
    assert max(manifest_sizes) < 120_000
    # correctness: state equals the full-replay fold
    expect = (
        ev.groupBy("conv_id", "turn_idx")
        .agg(F.max_by(F.struct("op", "text", "lsn"), "lsn").alias("s"))
        .where(F.col("s.op") != "D")
        .select("conv_id", "turn_idx", F.col("s.text").alias("text"))
    )
    got = t.refresh().read().select("conv_id", "turn_idx", "text")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    # skipping works again right after the backstop's fold: compact any
    # residual chains, then a stats_filter read must be permitted
    t.compact(max_files_per_bucket=1)
    assert t.refresh().delta_pressure()["files"] == 0
    some_conv = got.select("conv_id").first()[0]
    pruned = t.read(stats_filter={"conv_id": (some_conv, some_conv)})
    assert pruned.where(F.col("conv_id") == some_conv).count() > 0


def _widen_table(spark, tmp_path):
    from pyspark.sql.types import (
        FloatType, IntegerType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("score", FloatType()),
        StructField("n_tokens", IntegerType()),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["conv_id", "turn_idx"],
        num_buckets=2,
    )
    era1 = spark.createDataFrame(
        [("a", 0, 1.5, 10), ("a", 1, 2.5, 20)], schema=schema
    ).withColumn("_lsn", F.lit(1).cast("long"))
    t.overwrite(era1)
    return t


def test_widen_promote_mixed_era_read(spark, tmp_path):
    """widen='promote': int→long / float→double update the SAME physical
    column's declared type (metadata-only); old narrow files and new wide
    files read together through Spark's native parquet widening, with no
    version-column churn and merges working across eras."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField,
        StructType,
    )

    from pipelinewise_spark.cdc.merge import merge_into
    from pipelinewise_spark.evolution.drift import reconcile

    t = _widen_table(spark, tmp_path)
    wide = StructType([
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),  # key: unchanged
        StructField("score", DoubleType()),
        StructField("n_tokens", LongType()),
    ])
    actions = reconcile(t, wide, widen="promote")
    assert sorted(a["action"] for a in actions) == [
        "promote_column", "promote_column",
    ]
    # no versioned columns appeared; physical names unchanged
    names = [f["logical"] for f in t.manifest["fields"]]
    assert names.count("score") == 1 and names.count("n_tokens") == 1
    by = {f["logical"]: f for f in t.manifest["fields"]}
    assert by["score"] == {"logical": "score", "physical": "score",
                           "type": "double"}
    # era-2 rows arrive wide, via the REAL merge
    era2 = spark.createDataFrame(
        [("a", 1, 9.5, 2**40, "U", 5), ("b", 0, 3.25, 7, "U", 6)],
        schema="conv_id string, turn_idx int, score double, "
               "n_tokens long, op string, lsn long",
    )
    merge_into(t, era2, batch_id=1)
    got = {
        (r.conv_id, r.turn_idx): (r.score, r.n_tokens)
        for r in t.refresh().read().collect()
    }
    # era-1 narrow file read through the widened schema + era-2 wide
    assert got == {
        ("a", 0): (1.5, 10),
        ("a", 1): (9.5, 2**40),
        ("b", 0): (3.25, 7),
    }
    dt = dict(t.read().dtypes)
    assert dt["score"] == "double" and dt["n_tokens"] == "bigint"
    # aggregation across mixed-era files is exact
    assert t.read().agg(F.sum("n_tokens")).first()[0] == 10 + 2**40 + 7


def test_widen_default_still_versions_and_guards_hold(spark, tmp_path):
    """Reference parity by default: the same widening under
    widen='version' version-columns; narrowing always versions even
    under promote; promoting a key/bucket column is rejected (murmur3
    hashes int and long differently — the bucket routing would break)."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField,
        StructType,
    )

    from pipelinewise_spark.evolution.drift import diff_schemas, reconcile

    t = _widen_table(spark, tmp_path)
    wide = StructType([StructField("score", DoubleType())])
    acts = diff_schemas(t, wide)  # default widen="version"
    assert [a["action"] for a in acts] == ["version_column"]
    # narrowing under promote still versions
    narrow = StructType([StructField("n_tokens", IntegerType())])
    t2 = _widen_table(spark, tmp_path / "u")
    reconcile(t2, StructType([StructField("n_tokens", LongType())]),
              widen="promote")
    assert [a["action"] for a in diff_schemas(t2, narrow, widen="promote")] \
        == ["version_column"]
    # key column promote rejected
    with pytest.raises(ValueError, match="key"):
        reconcile(
            t, StructType([StructField("turn_idx", LongType())]),
            widen="promote",
        )


def test_connected_components_chain_and_convergence(spark):
    """Min-label propagation handles transitive chains (A-B-C-D folds to
    one component across multiple iterations) and fails loudly instead
    of returning a partial labeling when the iteration bound is hit."""
    from pipelinewise_spark.functions.dedup_text import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (11, 12)],
        "id_a long, id_b long",
    )
    got = {
        r.doc_id: r.component
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20, 22: 20}
    with pytest.raises(RuntimeError, match="converge"):
        # a 5-node chain needs >1 round; bound of 1 must raise
        connected_components(pairs, max_iters=1)


def test_manifest_segment_auto_gate_transition(spark, tmp_path, monkeypatch):
    """A growing table crosses MANIFEST_SEGMENT_AUTO_FILES mid-life: the
    next commit transitions flat→segmented transparently — readers,
    reopen, replay guard, time travel, and vacuum all keep working, and
    subsequent commits rewrite only touched buckets' segments."""
    import glob
    import json as _json

    import pipelinewise_spark.lake.table as lt
    from pipelinewise_spark.cdc.merge import merge_into

    monkeypatch.setattr(lt, "MANIFEST_SEGMENT_AUTO_FILES", 4)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=4,
    )
    ev = generate_change_events(
        spark, n_convs=16, turns_per_conv=3, n_updates=30
    ).persist()
    first_conv = ev.agg(F.min("conv_id")).first()[0]
    # batch 0: one conversation only → ≤3 files, below the patched gate
    merge_into(t, ev.where(F.col("conv_id") == first_conv), batch_id=0)
    v1_flat = "segments" not in _json.load(
        open(os.path.join(t.path, lt.MANIFEST_DIR, f"v{2:012d}.json"))
    )
    merge_into(t, ev.where(F.col("conv_id") != first_conv), batch_id=1)  # crosses gate
    root2 = _json.load(
        open(os.path.join(t.path, lt.MANIFEST_DIR, f"v{4:012d}.json"))
    )
    assert v1_flat and "segments" in root2 and "buckets" not in root2
    # state correct through reopen; replay still guarded
    t2 = LakeTable(spark, t.path)
    rows = t2.read().count()
    assert rows > 0 and t2.manifest["buckets"]
    assert merge_into(t2, ev.where(F.col("conv_id") != first_conv), batch_id=1).get(
        "skipped"
    )
    # time travel back across the transition reads the FLAT manifest
    assert t2.read(version=1).count() > 0
    # a 1-bucket merge rewrites exactly one segment
    before = set(glob.glob(os.path.join(t.path, "_manifests", "seg-*")))
    one = ev.orderBy(F.desc("lsn")).limit(1).withColumn(
        "lsn", F.col("lsn") + 500
    )
    m = merge_into(t2, one, batch_id=2)
    after = set(glob.glob(os.path.join(t.path, "_manifests", "seg-*")))
    # one segment per manifest version: the delta commit and the fold
    assert m["affected_buckets"] == 1 and len(after - before) == 2
    assert len({os.path.basename(p)[:10] for p in after - before}) == 1
    # vacuum drops superseded segments and the table still reads
    res = t2.vacuum(keep_versions=1, min_age_sec=0)
    assert res["removed_segments"] >= 1
    assert LakeTable(spark, t.path).read().count() == t2.read().count()


def test_sampling_and_shards_partitioning_invariant(spark, tmp_path):
    """The export stage's determinism contract: sample membership and
    shard assignment depend only on row VALUES, never on partitioning,
    ordering, or run count — re-running over a repartitioned copy of
    the corpus reproduces identical output (what makes shards
    resumable/diffable; repartition round-robin or rand() would not)."""
    from pipelinewise_spark.functions.sampling import (
        deterministic_sample,
        shard_assignment,
    )

    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )
    shuffled = docs.repartition(13).sortWithinPartitions(F.desc("doc_id"))
    a = deterministic_sample(docs, "doc_id", 0.3)
    b = deterministic_sample(shuffled, "doc_id", 0.3)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    n = a.count()
    assert 0.25 * 2000 < n < 0.35 * 2000  # rate is actually ~uniform
    # independent salts draw (near-)independent samples
    c = deterministic_sample(docs, "doc_id", 0.3, salt="other")
    overlap = a.join(c, "doc_id").count()
    assert abs(overlap - 0.09 * 2000) < 0.05 * 2000
    sa = shard_assignment(docs, "doc_id", 8).select("doc_id", "shard", "sort_key")
    sb = shard_assignment(shuffled, "doc_id", 8).select("doc_id", "shard", "sort_key")
    assert sa.exceptAll(sb).count() == 0 and sb.exceptAll(sa).count() == 0
    sizes = [r.n for r in sa.groupBy("shard").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) == 8 and max(sizes) < 2 * min(sizes)  # balanced


def test_pq_adc_structural_properties(spark):
    """PQ/ADC sanity on the driver's embeddings: scoring is a pure
    projection over the codes (no raw vectors at scan time), results
    are partitioning-invariant, each query's own vector lands at the
    top of its ranking (minimal reconstruction error), and recall vs
    exact euclidean beats chance by a wide margin even on structure-free
    random vectors."""
    from pyspark.sql import Window

    from pipelinewise_spark.functions import ann
    from pipelinewise_spark.functions.ann import dot

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    top = ann.pq_adc_topk(emb, q, m=4, sub_dim=16, k=8, iters=2, top_k=10)
    rows = top.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append((r.rank, r.vec_id))
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid, lst in by_q.items():
        assert len(lst) == 10
        # own vector has minimal quantization error → top of its list
        assert (1, qid) in lst
    # partitioning invariance (the determinism contract)
    top2 = ann.pq_adc_topk(
        emb.repartition(7), q, m=4, sub_dim=16, k=8, iters=2, top_k=10
    )
    assert top.exceptAll(top2).count() == 0
    # recall vs exact euclidean: far above the ~k²/n chance level
    c = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    qq = q.select(
        "q_id", F.col("embedding").cast("array<double>").alias("qv")
    )
    d2 = (
        dot(F.col("qv"), F.col("qv"))
        + dot(F.col("cv"), F.col("cv"))
        - 2 * dot(F.col("qv"), F.col("cv"))
    )
    ex = (
        F.broadcast(qq).crossJoin(c)
        .select("q_id", "nid", d2.alias("d2"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy("d2", "nid")
            ),
        )
        .where(F.col("rank") <= 10)
    )
    ex_sets = {}
    for r in ex.collect():
        ex_sets.setdefault(r.q_id, set()).add(r.nid)
    overlap = sum(
        len({v for _, v in by_q[qid]} & ex_sets[qid]) for qid in ex_sets
    )
    chance = 5 * 10 * 10 / n  # ≈1 expected hit across all 5 queries
    assert overlap >= 4 * chance
