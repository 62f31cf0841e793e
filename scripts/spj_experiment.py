"""Storage-partitioned-join experiment (BENCH.md's one declared at-scale
gap, VERDICT round-1 item 9).

The CoW merge's target-side read re-shuffles because the DataFrame API
cannot declare LakeTable's hash-bucket file clustering to Catalyst. This
script MEASURES that cost and the saving when the identical target is a
Spark catalog bucketed table (``bucketBy(B, keys).sortBy(keys)``), which
exposes ``HashPartitioning(keys, B)`` from the scan — the same contract an
Iceberg storage-partitioned join / DSv2 ``KeyGroupedPartitioning``
connector provides at deployment.

Run: ``python scripts/spj_experiment.py [n_target] [n_source] [buckets]``
Prints one JSON line with shuffle bytes + wall per variant.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from pipelinewise_spark.session import get_spark  # noqa: E402


def rest(spark, path):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}") as r:
        return json.load(r)


def completed_stages(spark):
    return {s["stageId"]: s for s in rest(spark, "stages?status=COMPLETE")}


def measure(spark, label, fn):
    before = set(completed_stages(spark))
    t0 = time.time()
    out = fn()
    wall = time.time() - t0
    time.sleep(0.5)  # let the status store settle
    stages = completed_stages(spark)
    new = [s for sid, s in stages.items() if sid not in before]
    sw = sum(s.get("shuffleWriteBytes", 0) for s in new)
    sr = sum(s.get("shuffleReadBytes", 0) for s in new)
    rec = {
        "label": label,
        "wall_sec": round(wall, 2),
        "shuffle_write_mb": round(sw / 1e6, 1),
        "shuffle_read_mb": round(sr / 1e6, 1),
        "n_stages": len(new),
        "result": out,
    }
    print(json.dumps(rec))
    return rec


def merge_shaped(spark, tgt, src):
    """The CoW merge join shape: full-outer on the PK, project the winner,
    consume every column (so nothing prunes away)."""
    s, t = src.alias("s"), tgt.alias("t")
    cond = (F.col("s.conv_id") == F.col("t.conv_id")) & (
        F.col("s.turn_idx") == F.col("t.turn_idx")
    )
    take_t = F.col("s.conv_id").isNull()
    joined = s.join(t, cond, "full_outer").select(
        F.coalesce(F.col("s.conv_id"), F.col("t.conv_id")).alias("conv_id"),
        F.coalesce(F.col("s.turn_idx"), F.col("t.turn_idx")).alias("turn_idx"),
        F.when(take_t, F.col("t.text")).otherwise(F.col("s.text")).alias("text"),
        F.when(take_t, F.col("t.lsn")).otherwise(F.col("s.lsn")).alias("lsn"),
    )
    return joined.select(
        F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text", "lsn")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]["n"]


def merge_into_experiment(spark, n_target, n_source, buckets):
    """Measure shuffle bytes through the PRODUCTION merge path itself
    (merge_into → scan_clustered → _merge_cow), not a hand-built join —
    the round-2 advice: the hand-built experiment used == keys while the
    shipped merge used eqNullSafe and never got the single-exchange plan.
    Now the shipped merge uses == (null PKs rejected pre-commit) and this
    measures exactly what ships."""
    import shutil as _sh
    import tempfile

    from pipelinewise_spark.cdc import merge
    from pipelinewise_spark.cdc.merge import merge_into
    from pipelinewise_spark.lake.table import LakeTable
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("text", StringType()),
    ])

    def gen(n, lsn0):
        return spark.range(n).select(
            F.concat(F.lit("conv-"), F.pmod(F.xxhash64("id"), F.lit(n // 4)).cast("string")).alias("conv_id"),
            F.pmod("id", F.lit(40)).cast("int").alias("turn_idx"),
            F.concat(F.lit("text-"), F.col("id").cast("string"),
                     F.repeat(F.lit("x"), 80)).alias("text"),
            (F.col("id") + lsn0).alias("lsn"),
            F.lit("U").alias("op"),
        )

    out = {}
    spj_default = merge.SPJ
    for label, spj in (("merge_into_plain", False), ("merge_into_spj", True)):
        d = tempfile.mkdtemp(prefix="spj-merge-")
        t = LakeTable.create(spark, d + "/t", schema,
                             ["conv_id", "turn_idx"], num_buckets=buckets)
        t0 = time.time()
        merge.SPJ = False
        merge_into(t, gen(n_target, 0), batch_id=0)
        load_wall = time.time() - t0
        src = gen(n_source, n_target)
        merge.SPJ = spj  # force the read path under measurement
        rec = measure(
            spark, label,
            lambda: merge_into(t, src, batch_id=1)["spj"],
        )
        rec["initial_load_wall_sec"] = round(load_wall, 2)
        out[label] = rec
        _sh.rmtree(d, ignore_errors=True)
    merge.SPJ = spj_default
    return {
        "metric": "spj_merge_into",
        "n_target": n_target,
        "n_source": n_source,
        "buckets": buckets,
        "plain": {k: out["merge_into_plain"][k]
                  for k in ("wall_sec", "shuffle_write_mb", "shuffle_read_mb")},
        "spj": {k: out["merge_into_spj"][k]
                for k in ("wall_sec", "shuffle_write_mb", "shuffle_read_mb")},
        "spj_flag_honored": [out["merge_into_plain"]["result"] is False,
                             out["merge_into_spj"]["result"] is True],
        "shuffle_write_saving_pct": round(
            100 * (1 - out["merge_into_spj"]["shuffle_write_mb"]
                   / max(out["merge_into_plain"]["shuffle_write_mb"], 1e-9)), 1
        ),
    }


def main():
    n_target = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_source = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 64

    import shutil

    # the in-memory catalog forgets tables between runs but the warehouse
    # dir persists — clear it so saveAsTable doesn't trip over leftovers
    shutil.rmtree("/tmp/spj-warehouse", ignore_errors=True)
    spark = get_spark(
        app_name="spj-experiment",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.sql.warehouse.dir": "/tmp/spj-warehouse",
            # one-side-bucketed SMJ needs the probe side shuffled to
            # exactly `buckets` partitions; leave AQE on (engine default)
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def gen(n, lsn0):
        return spark.range(n).select(
            F.concat(F.lit("conv-"), F.pmod(F.xxhash64("id"), F.lit(n // 4)).cast("string")).alias("conv_id"),
            F.pmod("id", F.lit(40)).cast("int").alias("turn_idx"),
            F.concat(F.lit("text-"), F.col("id").cast("string"),
                     F.repeat(F.lit("x"), 80)).alias("text"),
            (F.col("id") + lsn0).alias("lsn"),
        )

    tgt_df = gen(n_target, 0)
    src_df = gen(n_source, n_target)

    # A — plain parquet directory (what LakeTable.read feeds the merge)
    tgt_df.write.mode("overwrite").parquet("/tmp/spj-plain")
    # B — catalog bucketed table: scan exposes HashPartitioning(keys, B)
    spark.sql("DROP TABLE IF EXISTS spj_target")
    (
        tgt_df.write.mode("overwrite")
        .bucketBy(buckets, "conv_id", "turn_idx")
        .sortBy("conv_id", "turn_idx")
        .saveAsTable("spj_target")
    )
    src_df.write.mode("overwrite").parquet("/tmp/spj-src")
    src = spark.read.parquet("/tmp/spj-src")

    plain = spark.read.parquet("/tmp/spj-plain")
    bucketed = spark.table("spj_target")

    # warm-up both paths once (JVM/codegen/page cache)
    merge_shaped(spark, plain, src)
    merge_shaped(spark, bucketed, src)

    a = measure(spark, "plain_parquet_target", lambda: merge_shaped(spark, plain, src))
    b = measure(spark, "bucketed_table_target", lambda: merge_shaped(spark, bucketed, src))

    # sanity: the bucketed plan must NOT exchange the target side
    plan = (
        src.alias("s")
        .join(
            bucketed.alias("t"),
            (F.col("s.conv_id") == F.col("t.conv_id"))
            & (F.col("s.turn_idx") == F.col("t.turn_idx")),
            "full_outer",
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_exchanges = plan.count("Exchange hashpartitioning")
    summary = {
        "metric": "spj_experiment",
        "n_target": n_target,
        "n_source": n_source,
        "buckets": buckets,
        "plain": {k: a[k] for k in ("wall_sec", "shuffle_write_mb", "shuffle_read_mb")},
        "bucketed": {k: b[k] for k in ("wall_sec", "shuffle_write_mb", "shuffle_read_mb")},
        "shuffle_write_saving_pct": round(
            100 * (1 - b["shuffle_write_mb"] / max(a["shuffle_write_mb"], 1e-9)), 1
        ),
        "bucketed_plan_exchanges": n_exchanges,
        "rows_match": a["result"] == b["result"],
    }
    print(json.dumps(summary))
    print(json.dumps(merge_into_experiment(spark, n_target, n_source, buckets)))


if __name__ == "__main__":
    main()
