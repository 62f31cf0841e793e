"""Steady-state merge soak (VERDICT r2 item 3): N consecutive micro-batches
merged into a ≥1 GB target — copy-on-write batches (delta commit, then the
bucket-local fold) and merge-on-read delta appends, compaction and vacuum
interleaved. Per-batch wall stability is the evidence that the merge
path has no degradation mode (file-count growth, manifest bloat, stats
accumulation) over a long-running stream.

Run: ``python scripts/soak_merge.py [n_target] [n_batches] [batch_rows]``
Prints one JSON line per batch + a summary line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from pipelinewise_spark.cdc.merge import merge_into  # noqa: E402
from pipelinewise_spark.lake.table import LakeTable  # noqa: E402
from pipelinewise_spark.session import get_spark  # noqa: E402


def gen(spark, n, lsn0, n_keys, *, inserts_from=0):
    """Change batch: updates against existing keys (+ optional inserts).
    Text is md5-derived (~264 B/row, incompressible) so the on-disk
    target size reflects real payload, not zstd's opinion of 'xxxx'."""
    return spark.range(n).select(
        F.concat(
            F.lit("conv-"),
            F.pmod(F.xxhash64(F.col("id") + lsn0), F.lit(n_keys // 5))
            .cast("string"),
        ).alias("conv_id"),
        F.pmod(F.col("id") + lsn0, F.lit(40)).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            *[F.md5((F.col("id") + lsn0 + i).cast("string")) for i in range(8)]
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1704067200) + (F.col("id") + lsn0) % 86400).alias("ts"),
        (F.col("id") + lsn0).alias("lsn"),
        F.lit("U").alias("op"),
    )


def main():
    n_target = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    batch_rows = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000

    from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA

    spark = get_spark(app_name="merge-soak")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else None
    base = tempfile.mkdtemp(prefix="pw-soak-", dir=scratch)
    segmented = os.environ.get("PW_SOAK_SEGMENTED", "0") == "1"
    table = LakeTable.create(
        spark, os.path.join(base, "t"), TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
        num_buckets=64,
        properties={"manifest_segmented": True} if segmented else None,
    )
    t0 = time.time()
    table.overwrite(gen(spark, n_target, 0, n_target).drop("lsn", "op"))
    load_wall = time.time() - t0
    tgt_bytes = sum(os.path.getsize(os.path.join(table.path, rel))
                    for fl in table.manifest["buckets"].values() for rel in fl)
    print(json.dumps({
        "phase": "load", "rows": n_target, "wall_sec": round(load_wall, 1),
        "target_gb": round(tgt_bytes / 1e9, 2),
    }))

    walls = []
    maint = []
    lsn0 = n_target + 1
    for b in range(n_batches):
        batch = gen(spark, batch_rows, lsn0, n_target)
        lsn0 += batch_rows
        # two of every six batches land as MoR delta appends (the
        # small-batch fast path), folded by the next compact() — so the
        # soak exercises CoW folds, O(batch) delta appends, AND
        # delta-folding compaction against the same table
        mode = "mor" if b % 6 in (4, 5) else "cow"
        t0 = time.time()
        m = merge_into(table, batch, batch_id=b, stream="soak", mode=mode)
        w = time.time() - t0
        walls.append(w)
        rec = {"batch": b, "mode": mode, "wall_sec": round(w, 2),
               "updated": m.get("updated"), "inserted": m.get("inserted"),
               "buckets": m.get("affected_buckets")}
        if (b + 1) % 6 == 0:
            t0 = time.time()
            c = table.compact(max_files_per_bucket=2)
            rec["compact_sec"] = round(time.time() - t0, 2)
            rec["compacted"] = bool(c)
            maint.append(rec["compact_sec"])
        if (b + 1) % 8 == 0:
            t0 = time.time()
            v = table.vacuum(keep_versions=2, min_age_sec=0)
            rec["vacuum_sec"] = round(time.time() - t0, 2)
            rec["vacuum_removed"] = v["removed_files"]
        print(json.dumps(rec))

    walls_s = sorted(walls)
    half = len(walls) // 2
    first, second = walls[:half], walls[half:]
    import glob
    mdir = os.path.join(table.path, "_manifests")
    # size of the CURRENT root (latest version), not the historical max
    # — the metric this soak exists to bound is the live root's size
    root_sz = os.path.getsize(sorted(glob.glob(mdir + "/v*.json"))[-1])
    summary = {
        "metric": "merge_soak",
        "segmented": segmented,
        "n_segments": len(table.manifest.get("segments", {})),
        "root_manifest_kb": round(root_sz / 1024, 1),
        "n_target": n_target,
        "target_gb": round(tgt_bytes / 1e9, 2),
        "n_batches": n_batches,
        "batch_rows": batch_rows,
        "wall_mean": round(sum(walls) / len(walls), 2),
        "wall_p50": round(walls_s[len(walls) // 2], 2),
        "wall_max": round(max(walls), 2),
        "first_half_mean": round(sum(first) / len(first), 2),
        "second_half_mean": round(sum(second) / len(second), 2),
        "drift_pct": round(
            100 * (sum(second) / len(second) / (sum(first) / len(first)) - 1), 1
        ),
        "events_per_sec_steady": round(batch_rows * len(walls) / sum(walls)),
        "maint_sec_total": round(sum(maint), 2),
        "final_files": sum(len(v) for v in table.manifest["buckets"].values()),
        "manifest_kb": round(os.path.getsize(os.path.join(
            table.path, "_manifests",
            sorted(os.listdir(os.path.join(table.path, "_manifests")))[-1],
        )) / 1024, 1),
    }
    print(json.dumps(summary))
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
