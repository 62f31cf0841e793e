"""The MERGE-apply: change batch → copy-on-write upsert into a LakeTable.

Reference semantics being reproduced (SURVEY §2.3):

- J1  in-batch last-per-PK dedup — here LSN-ordered (:mod:`.dedup`);
- J2/J3  PK upsert (temp-table UPDATE+INSERT, ``target_postgres/db_sync.py:
  359-431``; Snowflake MERGE ``target_snowflake/db_sync.py:442-546``);
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

Physical plan (why this scales):

1. the deduped batch is bucketed by the table's bucket function and ONLY
   the affected buckets of the target are read (manifest-level partition
   pruning — a 100k-row batch against a 100 TB table reads a few hundred
   buckets, not the table);
2. one full-outer sort-merge join on the PK — the same shape Iceberg's
   copy-on-write MERGE lowers to — with AQE skew-join splitting any hot
   key;
3. merge action counts + the batch's max LSN are collected via
   ``DataFrame.observe`` on the SAME pass that writes the files (no second
   scan);
4. the rewritten buckets + bookmark + batch-id publish in one atomic
   manifest commit (exactly-once; see lake/table.py).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pipelinewise_spark.cdc.dedup import latest_per_key
from pipelinewise_spark.lake.table import (
    LSN_COL,
    SDC_BATCHED_AT,
    SDC_DELETED_AT,
    SDC_EXTRACTED_AT,
    LakeTable,
    NullKeyError,
    any_null_key as _any_null_key,
    observed_metrics,
)

DROP_ACTIONS = ("delete", "noop_delete")


class ExactlyOnceWindowError(RuntimeError):
    """The bounded applied-batch-id window has evicted ids AND the LSN
    bookmark backstop is unavailable (``filter_applied_lsn=False``, or a
    keyless append without an lsn column) — a replay older than the
    window could double-apply, so the merge refuses to run."""


def merge_into(
    table: LakeTable,
    source: DataFrame,
    *,
    op_col: str = "op",
    lsn_col: str = "lsn",
    soft_delete: bool | None = None,
    batch_id: Any = None,
    pipeline_id: str = "default",
    stream: str = "default",
    filter_applied_lsn: bool = True,
    mode: str = "cow",
    spj: bool | str = "auto",
    spj_min_target_bytes: int = 256 << 20,
    retries: int = 2,
    capture_plan: bool = False,
) -> dict:
    """Apply one change batch (see :func:`_merge_once` for semantics and
    the physical plan). Retries on :class:`CommitConflict` — the
    optimistic-concurrency loss against another writer: refresh to the
    winner's manifest and re-apply. Correct because the batch-id guard and
    LSN bookmark filter re-evaluate against the refreshed state (a batch
    the winner already committed no-ops), and the loser's orphaned data
    files are reclaimed by ``vacuum``. This is the retry the reference
    gets for free from single-writer pipes and a warehouse MERGE
    transaction (``db_sync.py:359-431``)."""
    from pipelinewise_spark.lake.table import CommitConflict

    while True:
        try:
            return _merge_once(
                table, source, op_col=op_col, lsn_col=lsn_col,
                soft_delete=soft_delete, batch_id=batch_id,
                pipeline_id=pipeline_id, stream=stream,
                filter_applied_lsn=filter_applied_lsn, mode=mode,
                spj=spj, spj_min_target_bytes=spj_min_target_bytes,
                capture_plan=capture_plan,
            )
        except CommitConflict:
            if retries <= 0:
                raise
            retries -= 1
            table.refresh()


def _merge_once(
    table: LakeTable,
    source: DataFrame,
    *,
    op_col: str = "op",
    lsn_col: str = "lsn",
    soft_delete: bool | None = None,
    batch_id: Any = None,
    pipeline_id: str = "default",
    stream: str = "default",
    filter_applied_lsn: bool = True,
    mode: str = "cow",
    spj: bool | str = "auto",
    spj_min_target_bytes: int = 256 << 20,
    capture_plan: bool = False,
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
    Disabling it (``False``) is only allowed while the bounded
    applied-batch-id window has evicted nothing — afterwards the LSN
    filter is the only guard against replays older than the window, so
    the merge raises :class:`ExactlyOnceWindowError` instead of risking
    a double-apply.

    ``mode``:
    - ``"cow"`` (default) — copy-on-write: read affected buckets, full
      merge, rewrite. Read-optimal; write cost O(affected buckets).
    - ``"mor"`` — merge-on-read: append the deduped batch as DELTA files
      (O(batch) commit, NO target read — the small-batch/huge-table
      regime where CoW write amplification dominates). Reads resolve
      last-per-key across base+delta; ``LakeTable.compact`` folds deltas
      back (and physically removes hard-deleted rows, the reference's
      post-load DELETE). Soft/hard delete is the table property
      ``soft_delete`` in MoR (resolution-time decision).

    ``spj`` — storage-partitioned-join read of the target: when the
    buckets are key-aligned and carry no outstanding deltas, the target
    scan is registered as a bucketed table
    (:meth:`LakeTable.scan_clustered`) so the merge join shuffles ONLY the
    source batch — the target side, the dominant shuffle in the
    huge-table/small-batch regime (95% of shuffle bytes measured,
    scripts/spj_experiment.py), moves zero bytes.

    ``"auto"`` (default) enables it only when the affected buckets hold ≥
    ``spj_min_target_bytes`` on disk: when the target side is small the
    shuffle it avoids is nearly free, while the bucketed scan costs AQE's
    partition coalescing and skew-join splitting and pins the source
    shuffle to ``num_buckets`` partitions (measured 25-60% slower at
    10-MB-target bench scale, vs a 95% shuffle-byte cut at 4M-row-target
    scale). ``True`` forces it, ``False`` forces the plain read."""
    if batch_id is not None and batch_id in table.applied_batch_ids(pipeline_id):
        return {"skipped": True, "batch_id": batch_id}
    if (
        batch_id is not None
        and not filter_applied_lsn
        and table.batch_ids_evicted(pipeline_id)
    ):
        # The batch-id set is a BOUNDED window (lake/table.py
        # MAX_APPLIED_BATCH_IDS); once ids have been evicted, a replay
        # older than the window is only caught by the LSN bookmark
        # filter. With that backstop disabled exactly-once is no longer
        # provable — fail instead of silently risking a double-apply.
        # (batch_id=None callers never claimed the window's protection —
        # a deliberate unguarded re-apply stays allowed.)
        raise ExactlyOnceWindowError(
            f"filter_applied_lsn=False but "
            f"{table.batch_ids_evicted(pipeline_id)} batch id(s) of "
            f"pipeline {pipeline_id!r} have been evicted from the "
            f"replay-guard window; re-enable the LSN filter or replay "
            f"from a snapshot"
        )

    # Soft-delete is a TABLE-level mode, not a per-call choice: the
    # read-time tombstone filter keys off the 'soft_delete' property, so a
    # per-call value that contradicts it would write tombstones that
    # silently vanish (or hard-deletes that resurrect). Single source of
    # truth = the property; an explicit matching param stays allowed.
    prop_soft = bool(table.manifest["properties"].get("soft_delete", False))
    if soft_delete is None:
        soft_delete = prop_soft
    elif soft_delete != prop_soft:
        raise ValueError(
            f"soft_delete={soft_delete} contradicts the table property "
            f"soft_delete={prop_soft}; set properties={{'soft_delete': "
            f"{soft_delete}}} at LakeTable.create instead"
        )

    key_cols = table.key_cols
    data_cols = table.data_cols

    if not key_cols:
        # J4 — append-only load (no primary key): no dedup, no join, no
        # bucket replace; files are appended under a content-hash bucket
        # (the reference's synthetic-RID append, target_postgres
        # __init__.py:132-150 RID branch + db_sync.py:395-400).
        return _append_only(
            table, source, op_col=op_col, lsn_col=lsn_col,
            batch_id=batch_id, pipeline_id=pipeline_id, stream=stream,
        )

    prev_bookmark = table.bookmarks.get(stream, {}).get("lsn")
    if filter_applied_lsn and prev_bookmark is not None:
        source = source.where(F.col(lsn_col) > F.lit(int(prev_bookmark)))

    def _prepare_src(raw: DataFrame) -> DataFrame:
        src = latest_per_key(raw, key_cols, lsn_col=lsn_col)
        # Normalize to the table's logical payload schema: columns the
        # batch doesn't carry (pre-evolution events) backfill as NULL —
        # same rule as the reference's ADD COLUMN backfill
        # (db_sync.py:539-549).
        proj = []
        for c in data_cols:
            if c in src.columns:
                proj.append(F.col(c))
            else:
                proj.append(
                    F.lit(None).cast(table.logical_schema[c].dataType).alias(c)
                )
        extracted = (
            F.col("time_extracted")
            if "time_extracted" in src.columns
            else F.lit(None).cast("timestamp")
        )
        return src.select(
            *proj,
            F.col(op_col).alias("__op"),
            F.col(lsn_col).cast("long").alias(LSN_COL),
            extracted.alias(SDC_EXTRACTED_AT),
            F.current_timestamp().alias(SDC_BATCHED_AT),
            F.when(
                F.col(op_col) == "D",
                F.coalesce(extracted, F.current_timestamp()),
            )
            .otherwise(F.lit(None))
            .cast("timestamp")
            .alias(SDC_DELETED_AT),
        ).withColumn("__s_exists", F.lit(True))

    if mode == "mor":
        src = _prepare_src(source)
        prepared = src.drop("__op", "__s_exists").withColumn(
            "_bucket", table.bucket_expr()
        )
        null_key = _any_null_key(key_cols)
        obs = Observation("mor")
        aggs = [
            F.count(F.lit(1)).alias("rows"),
            F.max(LSN_COL).alias("max_lsn"),
            F.sum(F.when(null_key, 1).otherwise(0)).alias("null_keys"),
        ]
        observed = prepared.observe(obs, *aggs)
        delta_added = table.write_bucket_files(
            observed, clustered=table.buckets_aligned_with_keys
        )
        m = observed_metrics(obs, prepared, aggs)
        if int(m.get("null_keys") or 0):
            # same pre-commit rejection as the CoW path: a null PK would
            # group with every other null PK at read-time resolution
            raise NullKeyError(
                f"{int(m['null_keys'])} source row(s) carry NULL in "
                f"a primary-key column {key_cols}; CDC primary keys must "
                f"be non-null"
            )
        max_lsn = m.get("max_lsn")
        prev = table.bookmarks.get(stream, {}).get("lsn")
        new_lsn = max(
            int(max_lsn) if max_lsn is not None else -1,
            int(prev) if prev is not None else -1,
        )
        metrics = {"rows": int(m["rows"] or 0), "mode": "mor"}
        table.commit(
            delta_added=delta_added,
            bookmarks={stream: {"lsn": new_lsn}} if new_lsn >= 0 else None,
            batch_id=batch_id,
            pipeline_id=pipeline_id,
            summary={"operation": "merge_mor", "metrics": metrics},
        )
        metrics.update(batch_id=batch_id, max_lsn=max_lsn)
        return metrics

    # Affected-bucket probe runs on the RAW (pre-dedup) batch: dedup
    # keeps ≥1 row per key so the bucket sets are identical, and the
    # raw probe is a cheap partial-distinct of small ints with no
    # dedup shuffle and no need to persist the deduped batch.
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

    from contextlib import ExitStack

    use_spj = bool(spj) and table.buckets_aligned_with_keys
    if spj == "auto" and use_spj:
        use_spj = table.bucket_bytes(affected) >= spj_min_target_bytes
    stack = ExitStack()
    tgt = None
    if use_spj:
        # storage-partitioned read: the bucketed scan declares
        # HashPartitioning(key_cols, num_buckets) → the full-outer join
        # shuffles only the source batch; the join output lands exactly
        # one bucket per task, so the clustered write stays shuffle-free
        tgt = stack.enter_context(table.scan_clustered(buckets=affected))
        use_spj = tgt is not None  # scan may decline (outstanding deltas)
    if tgt is None:
        tgt = table.read(buckets=affected)
    tgt = tgt.withColumn("__t_exists", F.lit(True))

    if use_spj:
        # ONE source exchange for the whole merge: pin the raw batch to
        # HashPartitioning(key_cols, num_buckets) up front — the dedup
        # hash-aggregate reuses it (ClusteredDistribution satisfied) and
        # the bucketed join needs exactly this partitioning, so neither
        # plans its own shuffle. Without this the plan pays two
        # source-side exchanges (dedup at spark.sql.shuffle.partitions,
        # then a re-shuffle to num_buckets for the join). Fixed-width
        # repartition also disables AQE coalescing on this exchange,
        # which is what the one-side-bucketed SMJ requires anyway.
        source = source.repartition(table.num_buckets, *key_cols)
    src = _prepare_src(source)

    try:
        metrics = _merge_cow(
            table, src, tgt, affected,
            soft_delete=soft_delete, batch_id=batch_id,
            pipeline_id=pipeline_id, stream=stream,
            capture_plan=capture_plan,
        )
        metrics["spj"] = use_spj
        return metrics
    finally:
        stack.close()


def _merge_cow(
    table: LakeTable,
    src: DataFrame,
    tgt: DataFrame,
    affected: list[int],
    *,
    soft_delete: bool,
    batch_id: Any,
    pipeline_id: str,
    stream: str,
    capture_plan: bool = False,
) -> dict:
    key_cols = table.key_cols
    s, t = src.alias("s"), tgt.alias("t")
    # Plain EqualTo join keys, NOT eqNullSafe: Catalyst rewrites
    # null-safe equality to Coalesce-wrapped keys, which no longer match
    # the bucketed scan's HashPartitioning(raw keys) — the target side
    # would be RE-shuffled and the storage-partitioned-join read (the 95%
    # shuffle-byte saving, scripts/spj_experiment.py) silently lost.
    # Measured on the production join shape: eqNullSafe plans 2
    # hash-partitioning exchanges, == plans 1 (tests/test_spj.py::
    # test_merge_into_spj_plan_single_exchange freezes this). Sound
    # because CDC primary keys are non-null — enforced below: any
    # null-key source row fails the merge BEFORE commit (observe-counted
    # on the write pass, zero extra scan), so target rows, which are
    # only ever written by this merge / the same-checked paths, can
    # never carry a null key either. (A table written by a PRE-check
    # engine version could hold legacy null-key rows that == can never
    # match — they would be carried forever; audit with
    # ``table.read().where(<key>.isNull()).count()`` and rewrite via
    # ``overwrite`` once if found.)
    cond = None
    for k in key_cols:
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
    out_cols = []
    for f in table.manifest["fields"]:
        c = f["logical"]
        out_cols.append(
            F.when(take_target, F.col(f"t.{c}"))
            .otherwise(F.col(f"s.{c}"))
            .alias(c)
        )
    s_null_key = _any_null_key(key_cols, "s.")
    projected = joined.select(
        *out_cols,
        action.alias("__action"),
        F.when(s_exists, F.col(f"s.{LSN_COL}")).alias("__s_lsn"),
        (s_exists & s_null_key).alias("__null_key"),
    )

    obs = Observation("merge")
    aggs = [
        F.sum(F.when(F.col("__null_key"), 1).otherwise(0)).alias("null_keys"),
        F.sum(F.when(F.col("__action") == "insert", 1).otherwise(0)).alias("inserted"),
        F.sum(F.when(F.col("__action") == "update", 1).otherwise(0)).alias("updated"),
        F.sum(F.when(F.col("__action") == "delete", 1).otherwise(0)).alias("deleted"),
        F.sum(F.when(F.col("__action") == "tombstone", 1).otherwise(0)).alias("tombstoned"),
        F.sum(F.when(F.col("__action") == "stale", 1).otherwise(0)).alias("stale"),
        F.sum(F.when(F.col("__action") == "carry", 1).otherwise(0)).alias("carried"),
        F.max("__s_lsn").alias("max_lsn"),
        F.count(F.lit(1)).alias("joined_rows"),
    ]
    observed = projected.observe(obs, *aggs)
    result = (
        observed.where(~F.col("__action").isin(*DROP_ACTIONS))
        .drop("__action", "__s_lsn", "__null_key")
        .withColumn("_bucket", table.bucket_expr())
    )
    plan_str = (
        result._jdf.queryExecution().executedPlan().toString()
        if capture_plan
        else None
    )
    added = table.write_bucket_files(
        result,
        n_partitions=len(affected),
        # join output is already hash(key)-partitioned; with key-aligned
        # buckets the write needs no further shuffle
        clustered=table.buckets_aligned_with_keys,
    )
    # Source repeatability contract: the batch is evaluated twice (bucket
    # probe, then join/write). File/kafka-offset batches are repeatable by
    # construction; a live JDBC query is not — if new rows appeared in a
    # bucket the probe didn't see, committing them would APPEND next to
    # live rows of the same PK. Fail loudly instead of corrupting; the
    # orphaned files are reclaimed by vacuum().
    stray = set(added) - {str(b) for b in affected}
    if stray:
        raise RuntimeError(
            f"source changed between bucket probe and merge write "
            f"(unexpected buckets {sorted(stray)}); snapshot/persist the "
            f"source before merge_into"
        )
    m = observed_metrics(obs, projected, aggs)
    metrics = {k: (int(v) if v is not None else None) for k, v in m.items()
               if k not in ("max_lsn", "null_keys")}
    null_keys = int(m.get("null_keys") or 0)
    if null_keys:
        # fail BEFORE commit: nothing publishes, the orphaned data files
        # are reclaimed by vacuum(). A null PK is a tap bug (the
        # reference's warehouses reject it with a PK constraint); letting
        # it through under EqualTo join keys would insert a fresh row on
        # every replay instead of upserting.
        raise NullKeyError(
            f"{null_keys} source row(s) carry NULL in a primary-key "
            f"column {table.key_cols}; CDC primary keys must be non-null"
        )
    max_lsn = m.get("max_lsn")
    prev = table.bookmarks.get(stream, {}).get("lsn")
    new_lsn = max(
        int(max_lsn) if max_lsn is not None else -1,
        int(prev) if prev is not None else -1,
    )
    bookmarks = {stream: {"lsn": new_lsn}} if new_lsn >= 0 else None
    table.commit(
        added=added,
        replaced_buckets=affected,
        bookmarks=bookmarks,
        batch_id=batch_id,
        pipeline_id=pipeline_id,
        summary={"operation": "merge", "metrics": metrics,
                 "affected_buckets": affected},
    )
    metrics.update(batch_id=batch_id, max_lsn=max_lsn, affected_buckets=len(affected))
    if plan_str is not None:
        metrics["plan"] = plan_str
    return metrics


def _append_only(
    table: LakeTable,
    source: DataFrame,
    *,
    op_col: str,
    lsn_col: str,
    batch_id: Any,
    pipeline_id: str,
    stream: str,
) -> dict:
    """J4 — no-PK append: rows land under a content-hash bucket; no
    target read, no join, no bucket replacement (pure file add), so the
    commit is O(batch) regardless of table size."""
    if (
        batch_id is not None
        and lsn_col not in source.columns
        and table.batch_ids_evicted(pipeline_id)
    ):
        # keyless + no lsn column = no bookmark backstop; once batch ids
        # have been evicted from the bounded window, exactly-once is
        # unprovable for old replays — refuse (see ExactlyOnceWindowError;
        # batch_id=None callers never claimed the guard, stays allowed)
        raise ExactlyOnceWindowError(
            f"append-only source has no {lsn_col!r} column and "
            f"{table.batch_ids_evicted(pipeline_id)} batch id(s) of "
            f"pipeline {pipeline_id!r} were evicted from the replay-guard "
            f"window; add a monotonic lsn column or replay from a snapshot"
        )
    prev = table.bookmarks.get(stream, {}).get("lsn")
    if prev is not None and lsn_col in source.columns:
        source = source.where(F.col(lsn_col) > F.lit(int(prev)))
    cols = []
    for f in table.manifest["fields"]:
        c = f["logical"]
        if c in source.columns:
            cols.append(F.col(c))
        elif c == LSN_COL and lsn_col in source.columns:
            cols.append(F.col(lsn_col).cast("long").alias(LSN_COL))
        elif c == SDC_BATCHED_AT:
            cols.append(F.current_timestamp().alias(c))
        elif c == SDC_EXTRACTED_AT and "time_extracted" in source.columns:
            cols.append(F.col("time_extracted").alias(c))
        else:
            cols.append(F.lit(None).cast(table.logical_schema[c].dataType).alias(c))
    prepared = source.select(*cols)
    bucket = table.bucket_expr()  # content hash over data cols (no keys)
    obs = Observation("append")
    aggs = [
        F.count(F.lit(1)).alias("inserted"),
        F.max(LSN_COL).alias("max_lsn"),
    ]
    observed = prepared.observe(obs, *aggs).withColumn("_bucket", bucket)
    added = table.write_bucket_files(observed)
    m = observed_metrics(obs, prepared, aggs)
    max_lsn = m.get("max_lsn")
    new_lsn = max(
        int(max_lsn) if max_lsn is not None else -1,
        int(prev) if prev is not None else -1,
    )
    metrics = {"inserted": int(m["inserted"] or 0), "appended": True}
    table.commit(
        added=added,
        bookmarks={stream: {"lsn": new_lsn}} if new_lsn >= 0 else None,
        batch_id=batch_id,
        pipeline_id=pipeline_id,
        summary={"operation": "append", "metrics": metrics},
    )
    metrics.update(batch_id=batch_id, max_lsn=max_lsn)
    return metrics
