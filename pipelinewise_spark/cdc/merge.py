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
3. one projection onto the table's fields (:func:`_project`);
4. the frame to write, the only step that differs by kind:

   - copy-on-write (keyed, ``mode="cow"``): ONLY the affected buckets of
     the target are read (manifest-level partition pruning — a 100k-row
     batch against a 100 TB table reads a few hundred buckets, not the
     table) and full-outer joined with the deduped batch on the PK — the
     shape Iceberg's copy-on-write MERGE lowers to — optionally through a
     storage-partitioned read of the target;
   - merge-on-read (keyed, ``mode="mor"``): the deduped batch as delta
     files, no target read;
   - append (keyless): the batch as is, under a content-hash bucket;

5. one observed write (:meth:`LakeTable.write_observed`): action counts
   and the batch's max LSN are collected via ``DataFrame.observe`` on the
   SAME pass that writes the files (no second scan), and a NULL primary
   key fails the batch before anything publishes;
6. one bookmark advance and one atomic manifest commit of files +
   bookmark + batch id (exactly-once; see lake/table.py).
"""

from __future__ import annotations

from contextlib import ExitStack
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
# Storage-partitioned-join read of the copy-on-write target (see
# :func:`_merge_once`): "auto" takes it when the affected buckets hold
# at least SPJ_MIN_TARGET_BYTES on disk; True / False force either read.
SPJ: bool | str = "auto"
SPJ_MIN_TARGET_BYTES = 256 << 20
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
    the physical plan). Retries up to ``COMMIT_RETRIES`` times on
    :class:`CommitConflict` — the optimistic-concurrency loss against
    another writer: refresh to the winner's manifest and re-apply.
    Correct because the batch-id guard and LSN bookmark filter
    re-evaluate against the refreshed state (a batch the winner already
    committed no-ops), and the loser's orphaned data files are reclaimed
    by ``vacuum``. This is the retry the reference
    gets for free from single-writer pipes and a warehouse MERGE
    transaction (``db_sync.py:359-431``)."""
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
    - ``"cow"`` (default) — copy-on-write: read affected buckets, full
      merge, rewrite. Read-optimal; write cost O(affected buckets).
    - ``"mor"`` — merge-on-read: append the deduped batch as DELTA files
      (O(batch) commit, NO target read — the small-batch/huge-table
      regime where CoW write amplification dominates). Reads resolve
      last-per-key across base+delta; ``LakeTable.compact`` folds deltas
      back (and physically removes hard-deleted rows, the reference's
      post-load DELETE).

    Soft or hard delete is the table property ``soft_delete``, set at
    :meth:`LakeTable.create`: the read-time tombstone filter keys off the
    same property, so the merge has no per-call override that could
    contradict it. The change envelope's ``op`` and ``lsn`` columns carry
    the operation and the ordering.

    ``SPJ`` — storage-partitioned-join read of the target: when the
    buckets are key-aligned and carry no outstanding deltas, the target
    scan is registered as a bucketed table
    (:meth:`LakeTable.scan_clustered`) so the merge join shuffles ONLY the
    source batch — the target side, the dominant shuffle in the
    huge-table/small-batch regime (95% of shuffle bytes measured,
    scripts/spj_experiment.py), moves zero bytes.

    ``"auto"`` (the module default) enables it only when the affected
    buckets hold ≥ ``SPJ_MIN_TARGET_BYTES`` on disk: when the target side
    is small the shuffle it avoids is nearly free, while the bucketed
    scan costs AQE's partition coalescing and skew-join splitting and
    pins the source shuffle to ``num_buckets`` partitions (measured
    25-60% slower at 10-MB-target bench scale, vs a 95% shuffle-byte cut
    at 4M-row-target scale). ``True`` forces it, ``False`` forces the
    plain read; tests and experiments patch the constant to force one."""
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
    affected = None  # the buckets a copy-on-write merge reads and replaces
    with ExitStack() as stack:
        if cow:
            # Affected-bucket probe runs on the RAW (pre-dedup) batch:
            # dedup keeps ≥1 row per key so the bucket sets are
            # identical, and the raw probe is a cheap partial-distinct of
            # small ints with no dedup shuffle and no need to persist the
            # deduped batch.
            affected = sorted(
                r[0]
                for r in source.select(table.bucket_expr().alias("b"))
                .distinct()
                .collect()
            )
            if not affected:
                if batch_id is not None:
                    table.commit(
                        batch_id=batch_id,
                        pipeline_id=pipeline_id,
                        summary={"operation": "merge", "empty_batch": True},
                    )
                return {"rows": 0, "batch_id": batch_id}
            use_spj = bool(SPJ) and table.buckets_aligned_with_keys
            if SPJ == "auto" and use_spj:
                use_spj = table.bucket_bytes(affected) >= SPJ_MIN_TARGET_BYTES
            tgt = None
            if use_spj:
                # storage-partitioned read: the bucketed scan declares
                # HashPartitioning(key_cols, num_buckets) → the
                # full-outer join shuffles only the source batch; the
                # join output lands exactly one bucket per task, so the
                # clustered write stays shuffle-free
                tgt = stack.enter_context(table.scan_clustered(buckets=affected))
                use_spj = tgt is not None  # may decline (outstanding deltas)
            if tgt is None:
                tgt = table.read(buckets=affected)
            if use_spj:
                # ONE source exchange for the whole merge: pin the raw
                # batch to HashPartitioning(key_cols, num_buckets) up
                # front — the dedup hash-aggregate reuses it
                # (ClusteredDistribution satisfied) and the bucketed join
                # needs exactly this partitioning, so neither plans its
                # own shuffle. Without this the plan pays two source-side
                # exchanges (dedup at spark.sql.shuffle.partitions, then
                # a re-shuffle to num_buckets for the join). Fixed-width
                # repartition also disables AQE coalescing on this
                # exchange, which is what the one-side-bucketed SMJ
                # requires anyway.
                source = source.repartition(table.num_buckets, *key_cols)
        if key_cols:
            source = latest_per_key(source, key_cols)
        batch = _project(table, source)
        if cow:
            operation, files_arg, tags = "merge", "added", {}
            frame, aggs = _cow_frame(table, batch, tgt)
            null_key = F.col("__null_key")
            keep = ~F.col("__action").isin(*DROP_ACTIONS)
        elif key_cols:
            # merge-on-read: the deduped batch lands as delta files; a
            # null PK would group with every other null PK at read-time
            # resolution
            operation, files_arg, tags = "merge_mor", "delta_added", {"mode": "mor"}
            frame, aggs = batch, [F.count(F.lit(1)).alias("rows"),
                                  F.max(LSN_COL).alias("max_lsn")]
            null_key, keep = any_null_key(key_cols), None
        else:
            # J4 — append-only load (no primary key): no dedup, no join,
            # no bucket replace; files are appended under a content-hash
            # bucket (the reference's synthetic-RID append, target_postgres
            # __init__.py:132-150 RID branch + db_sync.py:395-400), so the
            # commit is O(batch) regardless of table size.
            operation, files_arg, tags = "append", "added", {"appended": True}
            frame, aggs = batch, [F.count(F.lit(1)).alias("inserted"),
                                  F.max(LSN_COL).alias("max_lsn")]
            null_key = keep = None
        added, m = table.write_observed(
            frame, aggs, null_key=null_key, keep=keep,
            n_partitions=len(affected) if affected else None,
            # the deduped batch and the join output are already
            # hash(key)-partitioned; with key-aligned buckets the write
            # needs no further shuffle
            clustered=table.buckets_aligned_with_keys,
        )
    if affected is not None:
        # Source repeatability contract: the batch is evaluated twice
        # (bucket probe, then join/write). File/kafka-offset batches are
        # repeatable by construction; a live JDBC query is not — if new
        # rows appeared in a bucket the probe didn't see, committing them
        # would APPEND next to live rows of the same PK. Fail loudly
        # instead of corrupting; the orphaned files are reclaimed by
        # vacuum().
        stray = set(added) - {str(b) for b in affected}
        if stray:
            raise RuntimeError(
                f"source changed between bucket probe and merge write "
                f"(unexpected buckets {sorted(stray)}); snapshot/persist "
                f"the source before merge_into"
            )
    max_lsn = m.pop("max_lsn")
    new_lsn = max(
        int(max_lsn) if max_lsn is not None else -1,
        int(prev) if prev is not None else -1,
    )
    metrics = {k: (int(v) if v is not None else None) for k, v in m.items()}
    metrics.update(tags)
    summary = {"operation": operation, "metrics": metrics}
    result = {**metrics, "batch_id": batch_id, "max_lsn": max_lsn}
    if affected is not None:
        summary["affected_buckets"] = affected
        result.update(affected_buckets=len(affected), spj=use_spj)
    table.commit(
        **{files_arg: added},
        replaced_buckets=affected,
        bookmarks={stream: {"lsn": new_lsn}} if new_lsn >= 0 else None,
        batch_id=batch_id,
        pipeline_id=pipeline_id,
        summary=summary,
    )
    return result


def _project(table: LakeTable, src: DataFrame) -> DataFrame:
    """The batch on the table's fields. Payload columns the batch doesn't
    carry (pre-evolution events) backfill as NULL — the reference's ADD
    COLUMN backfill (db_sync.py:539-549). Metadata columns derive from
    the change envelope: ``_lsn`` from ``lsn`` (NULL when a keyless
    source has none), ``_sdc_extracted_at`` from ``time_extracted``,
    ``_sdc_batched_at`` is now, and on keyed tables ``_sdc_deleted_at``
    marks a ``D`` event, which also travels on as ``__op`` for the CoW
    action rule."""
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
    if table.key_cols:
        cols.append(F.col("op").alias("__op"))
    return src.select(*cols)


def _cow_frame(
    table: LakeTable, src: DataFrame, tgt: DataFrame
) -> tuple[DataFrame, list]:
    """Full-outer join of the deduped batch with the affected buckets:
    every joined row with its merge ``__action``, plus the aggregates the
    observed write collects (action counts, the batch's max LSN). A ``D``
    keeps a tombstone under the table's ``soft_delete`` property and
    drops the row otherwise."""
    soft_delete = bool(table.manifest["properties"].get("soft_delete", False))
    s = src.withColumn("__s_exists", F.lit(True)).alias("s")
    t = tgt.withColumn("__t_exists", F.lit(True)).alias("t")
    # Plain EqualTo join keys, NOT eqNullSafe: Catalyst rewrites
    # null-safe equality to Coalesce-wrapped keys, which no longer match
    # the bucketed scan's HashPartitioning(raw keys) — the target side
    # would be RE-shuffled and the storage-partitioned-join read (the 95%
    # shuffle-byte saving, scripts/spj_experiment.py) silently lost.
    # Measured on the production join shape: eqNullSafe plans 2
    # hash-partitioning exchanges, == plans 1 (tests/test_spj.py::
    # test_merge_into_spj_plan_single_exchange freezes this). Sound
    # because CDC primary keys are non-null — enforced by the observed
    # write: any null-key source row fails the merge BEFORE commit
    # (observe-counted on the write pass, zero extra scan), so target
    # rows, which are only ever written by this merge / the same-checked
    # paths, can never carry a null key either. (A table written by a
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
    is_delete = F.col("s.__op") == "D"
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
    frame = joined.select(
        *out_cols,
        action.alias("__action"),
        F.when(s_exists, F.col(f"s.{LSN_COL}")).alias("__s_lsn"),
        (s_exists & any_null_key(table.key_cols, "s.")).alias("__null_key"),
    )
    counts = [
        F.sum(F.when(F.col("__action") == a, 1).otherwise(0)).alias(name)
        for a, name in [("insert", "inserted"), ("update", "updated"),
                        ("delete", "deleted"), ("tombstone", "tombstoned"),
                        ("stale", "stale"), ("carry", "carried")]
    ]
    return frame, [*counts, F.max("__s_lsn").alias("max_lsn"),
                   F.count(F.lit(1)).alias("joined_rows")]
