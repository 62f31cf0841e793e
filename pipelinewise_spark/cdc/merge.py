"""The MERGE-apply: fold a change batch into a LakeTable by key and LSN.

Reference semantics being reproduced (SURVEY §2.3):

- J1  in-batch last-per-PK dedup — here LSN-ordered (:mod:`.dedup`);
- J2/J3  PK upsert (temp-table UPDATE+INSERT, ``target_postgres/db_sync.py:
  359-431``; Snowflake MERGE ``target_snowflake/db_sync.py:442-546``);
- J4  append-only load for tables without a primary key;
- J5  hard delete — folded into the merge as "matched AND deleted → drop"
  (reference runs a post-load ``DELETE WHERE _sdc_deleted_at IS NOT NULL``,
  ``db_sync.py:493-497``). A hard-mode DELETE for a never-inserted PK nets
  to a no-op (reference: tombstone inserted by J2 then removed by J5);
  soft mode keeps the tombstone row with ``_sdc_deleted_at`` set
  (``binlog.py:519-543``).
- cross-batch monotonic guard: a source row applies only if its LSN is >=
  the row's stored ``_lsn`` — replaying an older batch after a partial
  failure converges to the same final state (reference gets this from
  strictly ordered single-threaded replay; we must enforce it).

One apply sequence for every table kind (:func:`_merge_once`):

1. replay guards — applied batch id → skip; evicted ids without the LSN
   backstop → :class:`ExactlyOnceWindowError`;
2. bookmark prefix filter — events at or below the stream's committed LSN
   are dropped (one rule for keyed and keyless batches);
3. in-batch dedup (keyed) and one projection onto the table's fields
   (:func:`_project`);
4. one observed write (:meth:`LakeTable.write_observed`): keyed batches
   land as merge-on-read DELTA files, keyless ones as appended files
   under a content-hash bucket. The row count and the batch's max LSN are
   collected via ``DataFrame.observe`` on the SAME pass that writes the
   files (no second scan), and a NULL primary key fails the batch before
   anything publishes;
5. one atomic manifest commit of files + bookmark + batch id — the
   exactly-once point (see lake/table.py). From here readers see the
   batch: a keyed read resolves last-per-key across base and deltas,
   bucket by bucket.

Copy-on-write (keyed, ``mode="cow"``, the default) adds a second commit,
the fold (:func:`_fold`): the buckets the batch touched are rewritten by
the full-outer-join action rule (:func:`_cow_frame`) over two bucketed
relations — their prior state and the batch's own delta files — and the
result replaces those buckets, deltas included. With key-aligned buckets
neither side of the fold needs an exchange. A fold that loses its commit
to another writer changes nothing: the batch is already applied, and its
deltas wait for the next fold or ``compact()``.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipelinewise_spark.cdc.dedup import latest_per_key
from pipelinewise_spark.lake.table import (
    LSN_COL,
    SDC_BATCHED_AT,
    SDC_DELETED_AT,
    SDC_EXTRACTED_AT,
    CommitConflict,
    LakeTable,
    NullKeyError,  # noqa: F401 — re-exported for callers
    any_null_key,
)

DROP_ACTIONS = ("delete", "noop_delete")
# Re-applies after a lost optimistic commit (:class:`CommitConflict`).
COMMIT_RETRIES = 2


class ExactlyOnceWindowError(RuntimeError):
    """The bounded applied-batch-id window has evicted ids AND the LSN
    bookmark backstop is unavailable (``filter_applied_lsn=False``, or a
    source without an lsn column) — a replay older than the window could
    double-apply, so the merge refuses to run."""


def merge_into(
    table: LakeTable,
    source: DataFrame,
    *,
    batch_id: Any = None,
    pipeline_id: str = "default",
    stream: str = "default",
    filter_applied_lsn: bool = True,
    mode: str = "cow",
) -> dict:
    """Apply one change batch (see :func:`_merge_once` for semantics and
    the physical plan). Retries up to ``COMMIT_RETRIES`` times when the
    batch's own commit loses the optimistic-concurrency race
    (:class:`CommitConflict`) against another writer: refresh to the
    winner's manifest and re-apply. Correct because the batch-id guard
    and LSN bookmark filter re-evaluate against the refreshed state (a
    batch the winner already committed no-ops), and the loser's orphaned
    data files are reclaimed by ``vacuum``. This is the retry the
    reference gets for free from single-writer pipes and a warehouse
    MERGE transaction (``db_sync.py:359-431``).

    A copy-on-write batch publishes two manifest versions: the delta
    commit that applies it (summary ``operation="merge_delta"``, metrics
    ``rows`` and ``max_lsn``), then the fold that rewrites its buckets
    (``operation="merge"``, the action counts). A reader between the two
    pays the merge-on-read cost on the touched buckets: last-per-key over
    base plus delta files, one task per bucket. A lost fold is not
    retried (the batch is already applied); the result then carries
    ``folded=False``."""
    for attempt in range(COMMIT_RETRIES + 1):
        try:
            return _merge_once(
                table, source, batch_id=batch_id, pipeline_id=pipeline_id,
                stream=stream, filter_applied_lsn=filter_applied_lsn,
                mode=mode,
            )
        except CommitConflict:
            if attempt == COMMIT_RETRIES:
                raise
            table.refresh()


def _merge_once(
    table: LakeTable,
    source: DataFrame,
    *,
    batch_id: Any,
    pipeline_id: str,
    stream: str,
    filter_applied_lsn: bool,
    mode: str,
) -> dict:
    """Apply one change batch. Returns the metrics dict that was also
    persisted into the manifest summary. Idempotent per (pipeline_id,
    batch_id): an already-applied batch returns ``{"skipped": True}``.

    ``filter_applied_lsn`` drops events at or below the stream's committed
    bookmark before merging — the replay contract of the reference: a tap
    restarting from the last *flushed* bookmark re-emits an overlapping
    window (``binlog.py:405-427``, ``logical_replication.py:575-576``) and
    the already-applied prefix must be a no-op. This is essential with
    hard deletes (a replayed pre-delete upsert must not resurrect a
    deleted row) and is a cheap pushed-down predicate on the source.
    Disabling it (``False``) — or a keyless source without an lsn column,
    which has nothing to filter on — is only allowed while the bounded
    applied-batch-id window has evicted nothing — afterwards the LSN
    filter is the only guard against replays older than the window, so
    the merge raises :class:`ExactlyOnceWindowError` instead of risking
    a double-apply.

    ``mode`` (keyed tables; a keyless table always appends):
    - ``"cow"`` (default) — copy-on-write: commit the deduped batch as
      delta files, then fold it into the buckets it touched
      (:func:`_fold`). Read-optimal; write cost O(affected buckets).
    - ``"mor"`` — merge-on-read: the delta commit alone (O(batch) commit,
      NO target read — the small-batch/huge-table regime where CoW write
      amplification dominates). Reads resolve last-per-key across
      base+delta; ``LakeTable.compact`` folds deltas back (and physically
      removes hard-deleted rows, the reference's post-load DELETE).

    Both modes evaluate the batch once: the delta write. The plan of a
    key-aligned table pays one exchange, the dedup's; its partitioning
    is already the bucket hash, so the write is clustered.

    Soft or hard delete is the table property ``soft_delete``, set at
    :meth:`LakeTable.create`: the read-time tombstone filter keys off the
    same property, so the merge has no per-call override that could
    contradict it. The change envelope's ``op`` and ``lsn`` columns carry
    the operation and the ordering."""
    if batch_id is not None and batch_id in table.applied_batch_ids(pipeline_id):
        return {"skipped": True, "batch_id": batch_id}
    lsn_filter = filter_applied_lsn and "lsn" in source.columns
    evicted = table.batch_ids_evicted(pipeline_id)
    if batch_id is not None and not lsn_filter and evicted:
        # The batch-id set is a BOUNDED window (lake/table.py
        # MAX_APPLIED_BATCH_IDS); once ids have been evicted, a replay
        # older than the window is only caught by the LSN bookmark
        # filter. Without that backstop exactly-once is no longer
        # provable — fail instead of silently risking a double-apply.
        # (batch_id=None callers never claimed the window's protection —
        # a deliberate unguarded re-apply stays allowed.)
        raise ExactlyOnceWindowError(
            f"the LSN bookmark filter is off (filter_applied_lsn="
            f"{filter_applied_lsn}, source has 'lsn': "
            f"{'lsn' in source.columns}) and {evicted} batch id(s) of "
            f"pipeline {pipeline_id!r} have been evicted from the "
            f"replay-guard window; re-enable the filter (with a monotonic "
            f"lsn column) or replay from a snapshot"
        )

    prev = table.bookmarks.get(stream, {}).get("lsn")
    if lsn_filter and prev is not None:
        source = source.where(F.col("lsn") > F.lit(int(prev)))

    key_cols = table.key_cols
    cow = bool(key_cols) and mode != "mor"
    if key_cols:
        # the deduped batch lands as delta files; a null PK would group
        # with every other null PK at read-time resolution
        batch = _project(table, latest_per_key(source, key_cols))
        operation = "merge_delta" if cow else "merge_mor"
        files_arg, count, tags = "delta_added", "rows", {} if cow else {"mode": "mor"}
        null_key = any_null_key(key_cols)
    else:
        # J4 — append-only load (no primary key): no dedup, no join,
        # no bucket replace; files are appended under a content-hash
        # bucket (the reference's synthetic-RID append, target_postgres
        # __init__.py:132-150 RID branch + db_sync.py:395-400), so the
        # commit is O(batch) regardless of table size.
        batch = _project(table, source)
        operation, files_arg, count = "append", "added", "inserted"
        tags, null_key = {"appended": True}, None
    prior = table.manifest
    added, m = table.write_observed(
        batch, [F.count(F.lit(1)).alias(count), F.max(LSN_COL).alias("max_lsn")],
        null_key=null_key,
        # the deduped batch is already hash(key)-partitioned; with
        # key-aligned buckets the write needs no further shuffle
        clustered=table.buckets_aligned_with_keys,
    )
    max_lsn = m.pop("max_lsn")
    if cow and not added:
        if batch_id is not None:
            table.commit(
                batch_id=batch_id,
                pipeline_id=pipeline_id,
                summary={"operation": "merge", "empty_batch": True},
            )
        return {"rows": 0, "batch_id": batch_id}
    new_lsn = max(
        int(max_lsn) if max_lsn is not None else -1,
        int(prev) if prev is not None else -1,
    )
    metrics = {k: (int(v) if v is not None else None) for k, v in m.items()}
    metrics.update(tags)
    table.commit(
        **{files_arg: added},
        bookmarks={stream: {"lsn": new_lsn}} if new_lsn >= 0 else None,
        batch_id=batch_id,
        pipeline_id=pipeline_id,
        summary={"operation": operation,
                 "metrics": {**metrics, "max_lsn": max_lsn} if cow else metrics},
    )
    if cow:
        return _fold(table, prior, added, batch_id=batch_id, max_lsn=max_lsn)
    return {**metrics, "batch_id": batch_id, "max_lsn": max_lsn}


def _fold(
    table: LakeTable, prior: dict, batch_files: dict[str, list[str]], *,
    batch_id: Any, max_lsn: Any,
) -> dict:
    """Rewrite the buckets the just-committed batch touched: the
    :func:`_cow_frame` action rule over their state in ``prior`` (the
    snapshot the delta commit was built on) and the batch's own delta
    files, found by file, not by LSN. The rows that survive replace the
    buckets — their base and all their deltas — in a commit that expects
    the delta commit to be the newest version. Losing that race changes
    nothing: the batch is applied, its deltas stay readable, and the
    next fold or ``compact()`` takes them."""
    affected = sorted(int(b) for b in batch_files)
    version = table.version
    added, m = table.fold(
        affected, manifest=prior, batch=batch_files,
        combine=lambda state, src: _cow_frame(table, src, state),
        aggs=_cow_counts(), keep=~F.col("__action").isin(*DROP_ACTIONS),
        clustered=table.buckets_aligned_with_keys,
    )
    metrics = {k: (int(v) if v is not None else None) for k, v in m.items()}
    result = {**metrics, "batch_id": batch_id, "max_lsn": max_lsn,
              "affected_buckets": len(affected)}
    try:
        table.commit(
            added=added,
            replaced_buckets=affected,
            expected_version=version,
            summary={"operation": "merge", "metrics": metrics,
                     "affected_buckets": affected},
        )
    except CommitConflict:
        table.refresh()
        result["folded"] = False
    return result


def _project(table: LakeTable, src: DataFrame) -> DataFrame:
    """The batch on the table's fields. Payload columns the batch doesn't
    carry (pre-evolution events) backfill as NULL — the reference's ADD
    COLUMN backfill (db_sync.py:539-549). Metadata columns derive from
    the change envelope: ``_lsn`` from ``lsn`` (NULL when a keyless
    source has none), ``_sdc_extracted_at`` from ``time_extracted``,
    ``_sdc_batched_at`` is now, and on keyed tables ``_sdc_deleted_at``
    marks a ``D`` event — the mark the CoW action rule reads back from the
    batch's delta files."""
    has = set(src.columns)
    extracted = (F.col("time_extracted") if "time_extracted" in has
                 else F.lit(None).cast("timestamp"))
    derived = {
        LSN_COL: F.col("lsn").cast("long") if "lsn" in has else None,
        SDC_EXTRACTED_AT: extracted,
        SDC_BATCHED_AT: F.current_timestamp(),
        SDC_DELETED_AT: F.when(
            F.col("op") == "D", F.coalesce(extracted, F.current_timestamp())
        ).cast("timestamp") if table.key_cols else None,
    }
    cols = []
    for f in table.logical_schema.fields:
        c = derived.get(f.name, F.col(f.name) if f.name in has else None)
        cols.append((F.lit(None).cast(f.dataType) if c is None else c).alias(f.name))
    return src.select(*cols)


def _cow_frame(table: LakeTable, src: DataFrame, tgt: DataFrame) -> DataFrame:
    """Full-outer join of the batch's rows with the prior state of the
    buckets they touch: every joined row with its merge ``__action``. A
    batch row marked deleted (``_sdc_deleted_at``) keeps a tombstone under
    the table's ``soft_delete`` property and drops the row otherwise. The
    batch wins LSN ties."""
    soft_delete = bool(table.manifest["properties"].get("soft_delete", False))
    s = src.withColumn("__s_exists", F.lit(True)).alias("s")
    t = tgt.withColumn("__t_exists", F.lit(True)).alias("t")
    # Plain EqualTo join keys, NOT eqNullSafe: Catalyst rewrites
    # null-safe equality to Coalesce-wrapped keys, which no longer match
    # the bucketed relations' HashPartitioning(raw keys) — both sides
    # would be re-shuffled. Sound because CDC primary keys are non-null:
    # any null-key row fails the batch's delta write BEFORE its commit
    # (observe-counted on the write pass, zero extra scan), so neither
    # side of the fold can carry a null key. (A table written by a
    # PRE-check engine version could hold legacy null-key rows that ==
    # can never match — they would be carried forever; audit with
    # ``table.read().where(<key>.isNull()).count()`` and rewrite via
    # ``overwrite`` once if found.)
    cond = None
    for k in table.key_cols:
        c = F.col(f"s.{k}") == F.col(f"t.{k}")
        cond = c if cond is None else (cond & c)
    joined = s.join(t, cond, "full_outer")

    s_exists = F.coalesce(F.col("s.__s_exists"), F.lit(False))
    t_exists = F.coalesce(F.col("t.__t_exists"), F.lit(False))
    is_stale = t_exists & s_exists & (
        F.col(f"s.{LSN_COL}") < F.col(f"t.{LSN_COL}")
    )
    is_delete = F.col(f"s.{SDC_DELETED_AT}").isNotNull()
    action = (
        F.when(~s_exists, F.lit("carry"))
        .when(is_stale, F.lit("stale"))
        .when(
            is_delete & F.lit(not soft_delete),
            F.when(t_exists, F.lit("delete")).otherwise(F.lit("noop_delete")),
        )
        .when(is_delete, F.lit("tombstone"))
        .when(~t_exists, F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    take_target = action.isin("carry", "stale")
    out_cols = [
        F.when(take_target, F.col(f"t.{c}")).otherwise(F.col(f"s.{c}")).alias(c)
        for c in (f["logical"] for f in table.manifest["fields"])
    ]
    return joined.select(*out_cols, action.alias("__action"))


def _cow_counts() -> list:
    """The aggregates the fold's observed write collects: action counts
    and the joined row count."""
    counts = [
        F.sum(F.when(F.col("__action") == a, 1).otherwise(0)).alias(name)
        for a, name in [("insert", "inserted"), ("update", "updated"),
                        ("delete", "deleted"), ("tombstone", "tombstoned"),
                        ("stale", "stale"), ("carry", "carried")]
    ]
    return [*counts, F.count(F.lit(1)).alias("joined_rows")]
