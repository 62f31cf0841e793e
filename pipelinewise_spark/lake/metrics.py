"""Lineage + metrics as queryable DataFrames (north rule: "per-partition
lineage + metrics"; reference analog: per-batch insert/update counts and
the run summary, ``target_postgres/db_sync.py:362-387``,
``cli/pipelinewise.py:2040+``).

Every manifest version is an immutable record of one commit: which files
were added to which buckets (with row/byte counts from parquet footers),
which buckets were replaced, merge action counts, bookmarks, and applied
batch ids. These helpers surface that history without any extra state —
the manifest chain IS the metrics store.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from pipelinewise_spark.lake.table import LakeTable, manifest_versions, read_manifest


def manifest_history(table: LakeTable) -> list[dict]:
    return [read_manifest(table.path, v) for v in manifest_versions(table.path)]


def commit_metrics_df(spark: SparkSession, table: LakeTable) -> DataFrame:
    """One row per commit: version, operation, merge action counts,
    bookmark watermarks, files/bytes added."""
    rows = []
    for m in manifest_history(table):
        s = m.get("summary", {})
        mm = s.get("metrics", {}) or {}
        files = s.get("added_files", []) or []
        rows.append(
            {
                "version": m["version"],
                "created_at": float(m["created_at"]),
                "operation": s.get("operation"),
                "inserted": mm.get("inserted"),
                "updated": mm.get("updated"),
                "deleted": mm.get("deleted"),
                "tombstoned": mm.get("tombstoned"),
                "stale": mm.get("stale"),
                "carried": mm.get("carried"),
                "n_files_added": len(files),
                "rows_added": sum(f["rows"] or 0 for f in files),
                "bytes_added": sum(f["bytes"] or 0 for f in files),
                "n_buckets_replaced": len(s.get("replaced_buckets", []) or []),
                "bookmarks": json.dumps(m.get("bookmarks", {})),
            }
        )
    schema = (
        "version long, created_at double, operation string, inserted long,"
        " updated long, deleted long, tombstoned long, stale long,"
        " carried long, n_files_added long, rows_added long, bytes_added long,"
        " n_buckets_replaced long, bookmarks string"
    )
    return spark.createDataFrame(rows, schema)


def file_lineage_df(spark: SparkSession, table: LakeTable) -> DataFrame:
    """One row per (commit, data file): the per-partition lineage —
    which commit produced which bucket's file, with row/byte counts.
    ``live``: the current snapshot references the file, as a base file or
    as a merge-on-read delta."""
    live = {
        p
        for fmap in (table.manifest["buckets"], table.manifest.get("deltas", {}))
        for fl in fmap.values()
        for p in fl
    }
    rows = []
    for m in manifest_history(table):
        for f in m.get("summary", {}).get("added_files", []) or []:
            rows.append(
                {
                    "version": m["version"],
                    "operation": m.get("summary", {}).get("operation"),
                    "path": f["path"],
                    "bucket": f["bucket"],
                    "rows": f["rows"],
                    "bytes": f["bytes"],
                    "live": f["path"] in live,
                }
            )
    schema = (
        "version long, operation string, path string, bucket long,"
        " rows long, bytes long, live boolean"
    )
    return spark.createDataFrame(rows, schema)
