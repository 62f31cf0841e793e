"""Partial sync: ranged re-export → merge → ranged vanish-delete.

The reference's ``partial_sync_table`` verb re-exports one column range
of a table and reconciles the target against it
(``fastsync/partialsync/utils.py:36-78``): load the range into a temp
table, MERGE temp→target on the PK, then delete target rows inside the
range that the export no longer contains
(``fastsync/commons/target_snowflake.py:425-445``,
``partial_hard_delete``). Rows outside the range are untouched.

Spark shape: the export is already a DataFrame (``sources/jdbc.py``
``range_reader``, or any bounded read); vanished keys come from ONE
left-anti join of the target's ranged slice against the export on the
key columns — file-stats pruning keeps that slice scan to the files
whose footer bounds overlap the range, and the upsert+delete apply as a
single change batch through the standard bucket-pruned merge (one
atomic commit, not the reference's merge-then-delete two-step).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.lake.table import LSN_COL, SDC_DELETED_AT, LakeTable


def _max_recorded_lsn(table: LakeTable) -> int:
    """Best-effort high-water mark of stored ``_lsn`` values from the
    manifest's per-file column bounds (no data scan). Files without
    recorded bounds contribute nothing — callers use this as a FLOOR
    under a bookmark-derived lsn, not as an exact max."""
    phys = {f["logical"]: f["physical"] for f in table.manifest["fields"]}
    lsn_phys = phys.get(LSN_COL, LSN_COL)
    mx = 0
    for st in table.manifest.get("file_stats", {}).values():
        s = st.get(lsn_phys)
        if s and s[1] is not None:
            mx = max(mx, int(s[1]))
    return mx


def partial_sync(
    table: LakeTable,
    export: DataFrame,
    *,
    column: str,
    start: Any,
    end: Any,
    stream: str = "default",
    lsn: int | None = None,
    batch_id: Any = None,
    hard_delete: bool = True,
) -> dict:
    """Reconcile ``table`` against ``export`` (the source's current rows
    with ``column BETWEEN start AND end``) and return the merge metrics.

    ``export`` must carry the table's payload columns (missing ones
    surface as the usual null-backfill). It is trusted to BE the range:
    rows outside ``[start, end]`` are rejected loudly rather than
    silently widening the delete window.

    ``lsn`` stamps the batch; default is the table's bookmark
    high-water mark + 1 — the MAX over ALL streams' bookmarks, not just
    ``stream``'s (a bulk resync is by definition newer than everything
    applied, and a ``stream`` name that doesn't match the one the CDC
    pipeline writes under must not produce an lsn below the stored
    ``_lsn`` values, where every upsert/delete would silently classify
    as stale). ``hard_delete=False`` skips the vanish-delete
    (merge-only, the reference's ``--hard-delete off`` target
    shape). The merge commits under pipeline id ``partial-<stream>``;
    soft or hard delete of the vanished keys follows the table's
    ``soft_delete`` property."""
    if column not in export.columns:
        raise ValueError(f"export is missing the range column {column!r}")
    if not table.key_cols:
        raise ValueError("partial_sync requires a keyed table (PK merge)")
    # One consistent snapshot: the export is read three times (range
    # check, upserts, anti-join) — uncached, a live JDBC source would be
    # re-queried each time and a concurrent upstream delete could emit
    # the same key as both U and D at the same lsn (nondeterministic
    # fold). Cache pins the snapshot AND saves the repeated source scans.
    export = export.cache()
    out_of_range = export.where(
        ~F.col(column).between(F.lit(start), F.lit(end))
        | F.col(column).isNull()
    ).limit(1)
    if out_of_range.count() > 0:
        export.unpersist()
        raise ValueError(
            f"export contains rows outside [{start!r}, {end!r}] on "
            f"{column!r}; refusing a delete window wider than the export"
        )
    if lsn is None:
        # Bookmarks alone are NOT a safe high-water mark: reset_state
        # rewinds them below stored row _lsn values, and a partial sync
        # stamped under that floor would silently classify every row as
        # stale (merge carries the old rows, {'rows': 0}). Also floor on
        # the manifest's recorded per-file _lsn bounds — zero-cost, no
        # data scan.
        lsn = max(
            max(
                (int(bm.get("lsn", 0) or 0)
                 for bm in table.bookmarks.values()),
                default=0,
            ),
            _max_recorded_lsn(table),
        ) + 1

    keys = list(table.key_cols)
    data = set(table.data_cols)
    fields = [f for f in table.logical_schema.fields if f.name in data]
    missing_keys = [k for k in keys if k not in export.columns]
    if missing_keys:
        raise ValueError(f"export is missing key columns {missing_keys}")
    upserts = export.select(
        *[
            (
                F.col(f.name)
                if f.name in export.columns
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in fields
        ],
        F.lit("U").alias("op"),
        F.lit(lsn).cast("long").alias("lsn"),
    )

    batch = upserts
    if hard_delete:
        # target's live rows inside the range, keys only; file-stats
        # pruning when the table has no outstanding deltas to resolve.
        # TypeError: string CLI bounds vs int file stats (e.g. a date
        # string on a timestamp column whose stats are epoch-µs) — the
        # row-level between() below still applies, only pruning is lost
        try:
            tgt = table.read(stats_filter={column: (start, end)})
        except (ValueError, TypeError):
            tgt = table.to_df()
        tgt_range = tgt.where(F.col(column).between(F.lit(start), F.lit(end)))
        # soft-delete tables keep tombstones visible in read(); without
        # this filter every resync re-emits D ops for all historically-
        # deleted keys in the range at a fresh LSN (re-tombstoning them
        # and growing bucket rewrites with all-time deletes)
        if SDC_DELETED_AT in tgt_range.columns:
            tgt_range = tgt_range.where(F.col(SDC_DELETED_AT).isNull())
        gone = tgt_range.select(*keys).join(
            export.select(*keys), on=keys, how="left_anti"
        )
        deletes = gone.select(
            *[
                (
                    F.col(f.name)
                    if f.name in keys
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in fields
            ],
            F.lit("D").alias("op"),
            F.lit(lsn).cast("long").alias("lsn"),
        )
        batch = upserts.unionByName(deletes)

    try:
        return merge_into(
            table, batch, stream=stream, batch_id=batch_id,
            pipeline_id=f"partial-{stream}",
        )
    finally:
        export.unpersist()
