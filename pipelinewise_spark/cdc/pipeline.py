"""CdcPipeline — Structured Streaming driver for the CDC apply loop.

Maps the reference's orchestration (`tap | transform | mbuffer | target`
pipes with bounded runs, ``cli/commands.py:299-354``) onto Spark:

- the tap's bounded run (binlog tail stops at the master position captured
  at start, ``binlog.py:614-635``) is ``trigger(availableNow=True)`` — one
  resumable micro-batch sweep over whatever the source currently holds;
- the target's ``persist_lines`` flush loop (``target_postgres/__init__.py:
  84-241``) is ``foreachBatch`` → :func:`merge_into`;
- the orchestrator's state-file write-after-flush (``cli/pipelinewise.py:
  1034-1073``) is the bookmark committed atomically with the data in the
  LakeTable manifest, PLUS Spark's own source checkpoint. A batch replayed
  by Spark after a crash hits the applied-batch-id guard and no-ops.

Ordering contract: the source must deliver change events in
non-decreasing-LSN file/offset order across micro-batches (true of any log
tail; for file sources the files must enumerate oldest-first, the Spark
default). Within a batch, order is irrelevant — the LSN dedup handles it.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pipelinewise_spark.cdc.events import CHANGE_EVENT_SCHEMA
from pipelinewise_spark.cdc.merge import merge_into
from pipelinewise_spark.lake.table import (
    COMPACT_DELTA_CHAIN,
    COMPACT_MAX_FILES_PER_BUCKET,
    MAX_APPLIED_BATCH_IDS,
    LakeTable,
)


class _StreamRunner:
    """The streaming entry points of :class:`CdcPipeline` and
    :class:`MultiStreamPipeline`: one file-source micro-batch stream whose
    ``foreachBatch`` is the class's own ``apply_batch`` (change-event
    files) or ``ingest_singer_lines`` (singer text frames)."""

    def run_file_stream(
        self,
        path: str,
        checkpoint_dir: str,
        *,
        fmt: str = "parquet",
        schema: StructType | None = None,
        available_now: bool = True,
        processing_time: str | None = None,
        max_files_per_trigger: int | None = None,
        timeout_sec: float | None = None,
    ):
        """Tail a directory of change-event files (the sandbox stand-in for
        a binlog/WAL/Kafka source; swapping in ``format("kafka")`` changes
        nothing downstream), read with ``schema`` (default: the
        change-event envelope) and applied by ``apply_batch``.
        ``fmt="text"`` reads singer frames instead (see
        :meth:`run_singer_stream`).

        ``available_now=True`` (default) is the reference's bounded run:
        drain what the directory holds, await (up to ``timeout_sec``) and
        return the finished query; kill + rerun with the same checkpoint
        resumes exactly where it stopped (tests/test_streaming_resume.py).
        ``available_now=False`` starts a continuous tail, triggered every
        ``processing_time`` when given, and returns the live query for the
        caller to await or stop."""
        reader = self.spark.readStream
        if fmt == "text":
            handle = self.ingest_singer_lines
        else:
            handle = self.apply_batch
            reader = reader.schema(schema or CHANGE_EVENT_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        writer = (
            getattr(reader, fmt)(path)
            .writeStream.foreachBatch(lambda df, bid: handle(df, batch_id=bid))
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        query = writer.start()
        if available_now:
            query.awaitTermination(timeout_sec)
        return query

    def run_singer_stream(self, frames_path: str, checkpoint_dir: str, **kw):
        """Tail a directory of singer-framed TEXT files (SCHEMA / RECORD
        / STATE lines — what ``jobs/run_feed.py --export-format singer``
        emits, or any reference tap's stdout captured to files) and run
        each micro-batch through ``ingest_singer_lines``: SCHEMA messages
        drive drift mid-stream, RECORDs decode under the pipeline's
        ``validate`` mode (incl. the quarantine dead-letter path). Frame
        ORDER within a batch doesn't matter — control messages are
        collected wholesale and records fold last-per-key by LSN — so the
        distributed text read needs no ordering guarantee. Exactly-once is
        the same two-layer guard as every other source: Spark's checkpoint
        + the manifest batch-id guard. ``kw`` are
        :meth:`run_file_stream`'s trigger options."""
        return self.run_file_stream(frames_path, checkpoint_dir, fmt="text", **kw)


class CdcPipeline(_StreamRunner):
    def __init__(
        self,
        table: LakeTable,
        *,
        stream: str = "default",
        pipeline_id: str = "default",
        transform: Callable[[DataFrame], DataFrame] | None = None,
        compact_every: int | None = None,
        mode: str = "cow",
        validate: str = "permissive",
        quarantine_path: str | None = None,
        widen: str = "version",
        filter_applied_lsn: bool = True,
        primary_key_required: bool = True,
    ):
        # reference default: a stream without key_properties is rejected
        # unless the target config opts out
        # (target_postgres/__init__.py:203-206) — keyless streams load
        # append-only, which silently duplicates on replay, so the opt-in
        # must be explicit
        if primary_key_required and not table.key_cols:
            raise ValueError(
                f"table {table.path} has no primary key; pass "
                "primary_key_required=False to load it append-only"
            )
        self.table = table
        self.stream = stream
        self.pipeline_id = pipeline_id
        self.transform = transform
        #: compact every N applied batches; in merge-on-read mode the
        #: delta-chain backstop (``COMPACT_DELTA_CHAIN``) also compacts
        #: between those batches
        self.compact_every = compact_every
        self.mode = mode
        #: T12 — record-validation mode for singer ingest ("permissive" |
        #: "strict" | "quarantine"); strict FAILFASTs on malformed RECORD
        #: payloads, quarantine diverts them to a dead-letter LakeTable
        #: (``quarantine_path``, default ``<table>_quarantine`` sibling)
        #: instead of nulling fields or killing the pipeline — the
        #: production posture when one producer's bad day must not stop
        #: every other stream. Quarantined rows are NOT merged: to
        #: recover one, fix the line and re-inject it with a FRESH
        #: ``_sdc_lsn`` above the stream's current bookmark — its
        #: original lsn is by then below the bookmark and the merge's
        #: replay filter would silently drop it as already-applied.
        self.validate = validate
        self.quarantine_path = quarantine_path or (
            table.path.rstrip("/") + "_quarantine"
        )
        #: widening type changes (int→long, float→double) under a
        #: SCHEMA message: "version" (reference parity) or "promote"
        #: (in-place native promotion, evolution/drift.py).
        self.widen = widen
        #: ((SCHEMA message, widen, table fields after the reconcile),
        #: message struct) of the last SCHEMA reconciled: reconcile is a
        #: pure diff of (fields, message, widen) and idempotent, so the
        #: same message against the fields it produced is skipped — a
        #: batch of N singer files carries N identical SCHEMA lines per
        #: stream.
        self._last_schema: tuple | None = None
        #: drop events at/below the committed LSN bookmark before merging
        #: (the reference tap-restart replay contract). REQUIRES the
        #: source to deliver non-decreasing LSNs across micro-batches —
        #: true of a binlog/WAL tail, FALSE for a multi-partition Kafka
        #: topic, where batch boundaries follow per-partition OFFSETS and
        #: a lagging partition's frames can carry LSNs below an already-
        #: committed bookmark; the filter would silently drop them as
        #: replays. For Kafka set False: exactly-once then rests on the
        #: checkpoint + batch-id guard (per-partition offsets — exactly
        #: the reference tap_kafka's own bookmark model, sync.py:80-93).
        self.filter_applied_lsn = filter_applied_lsn
        #: the last MAX_APPLIED_BATCH_IDS merge metrics and control
        #: records (auto_compact, activate_version) — bounded, so a
        #: long-running tail keeps O(1) driver memory
        self.history: list[dict] = []
        #: applied batches so far: the ``compact_every`` cadence counts
        #: these, not the (bounded, control-interleaved) history
        self.n_applied = 0

    def _record(self, entry: dict) -> None:
        self.history.append(entry)
        if len(self.history) > MAX_APPLIED_BATCH_IDS:
            del self.history[0]

    # ------------------------------------------------------------- batching

    def apply_batch(self, df: DataFrame, batch_id: Any = None) -> dict:
        """One micro-batch: optional inline transform (the reference's
        transform-field stage) → LSN dedup → MERGE → atomic bookmark →
        optional compaction."""
        if self.transform is not None:
            df = self.transform(df)
        metrics = merge_into(
            self.table,
            df,
            batch_id=batch_id,
            pipeline_id=self.pipeline_id,
            stream=self.stream,
            mode=self.mode,
            filter_applied_lsn=self.filter_applied_lsn,
        )
        self._record(metrics)
        self.n_applied += 1
        if self.compact_every and self.n_applied % self.compact_every == 0:
            self.table.compact(max_files_per_bucket=COMPACT_MAX_FILES_PER_BUCKET)
        elif self.mode == "mor":
            p = self.table.delta_pressure()
            if p["max_chain"] > COMPACT_DELTA_CHAIN:
                self.table.compact(
                    max_files_per_bucket=COMPACT_MAX_FILES_PER_BUCKET
                )
                self._record({"control": "auto_compact", "pressure": p})
        return metrics

    # ----------------------------------------------------- singer ingestion

    def ingest_singer_lines(
        self,
        lines: DataFrame,
        batch_id: Any = None,
        *,
        _ctrl: dict | None = None,
        _claim_unparseable: bool = True,
    ) -> dict:
        """Bounded singer-framed ingest: control messages steer the engine
        (SCHEMA → schema-drift reconcile, ACTIVATE_VERSION → recorded —
        targets treat it as a no-op/log, ``target_postgres/__init__.py:
        223-228``; STATE lines are informational, the committed bookmark
        is authoritative), RECORDs decode and merge. ``_ctrl`` /
        ``_claim_unparseable`` are MultiStreamPipeline plumbing: the
        fanout collects the shared control lines ONCE and nominates one
        pipe to quarantine stream-unattributable garbage lines."""
        from pyspark.sql.types import StructType

        from pipelinewise_spark.evolution.drift import reconcile
        from pipelinewise_spark.singer import protocol
        from pipelinewise_spark.singer.schema import jsonschema_to_struct

        ctrl = _ctrl if _ctrl is not None else (
            protocol.collect_control_messages(lines)
        )
        payload = None
        # strict stream match: a batch carrying only ANOTHER stream's
        # SCHEMA must not evolve this table with foreign columns — fall
        # back to the table's own schema instead
        for msg in ctrl["SCHEMA"]:
            if msg.get("stream") != self.stream:
                continue
            seen = (msg["schema"], self.widen, self.table.manifest["fields"])
            if self._last_schema is not None and self._last_schema[0] == seen:
                payload = self._last_schema[1]
                continue
            payload = jsonschema_to_struct(msg["schema"])
            reconcile(self.table, payload, widen=self.widen)
            self._last_schema = (
                (msg["schema"], self.widen, self.table.manifest["fields"]),
                payload,
            )
        if payload is None:
            payload = StructType(
                [
                    f
                    for f in self.table.logical_schema.fields
                    if f.name in self.table.data_cols
                ]
            )
        # same strict stream match as SCHEMA: another stream's version
        # activation is not this pipeline's history
        versions = [
            m.get("version") for m in ctrl["ACTIVATE_VERSION"]
            if m.get("stream") == self.stream
        ]
        if versions:
            self._record({"control": "activate_version", "versions": versions})
        decoded = protocol.decode_records(
            lines, payload, stream=self.stream, validate=self.validate,
            claim_unparseable=_claim_unparseable,
        )
        if self.validate != "quarantine":
            return self.apply_batch(decoded, batch_id=batch_id)
        from pyspark.sql import functions as F

        # the split consumes the decode THREE times (bad probe, bad
        # append, good merge) and the singer decode is exactly the CPU
        # cost this module's fast path exists to pay once — pin it
        decoded = decoded.persist()
        try:
            bad = decoded.where(F.col("_sdc_rejected").isNotNull()).select(
                F.lit(self.stream).alias("stream"),
                F.col("_sdc_rejected").alias("value"),
                F.col("_sdc_reject_reason").alias("reason"),
            )
            n_quarantined = self._quarantine(bad, batch_id)
            good = decoded.where(F.col("_sdc_rejected").isNull()).drop(
                "_sdc_rejected", "_sdc_reject_reason"
            )
            metrics = self.apply_batch(good, batch_id=batch_id)
            metrics["quarantined"] = n_quarantined
            return metrics
        finally:
            decoded.unpersist()

    def _quarantine(self, bad: DataFrame, batch_id: Any) -> int:
        """Dead-letter append: offending raw lines land in a keyless
        LakeTable (created on first use) under the same replay guard as
        the data merge (pipeline id suffixed ``-quarantine``), so a
        checkpoint replay of the batch does not duplicate them. Written
        BEFORE the data merge: if the merge fails mid-batch, the replay
        skips the already-recorded quarantine and re-applies the merge —
        both sides converge.

        The rows carry a synthetic monotonic ``lsn`` (the numeric batch
        id when there is one, else wall-clock µs): without it, an
        append-only source with no lsn column hits the
        ExactlyOnceWindowError guard once 1024 quarantining batches
        evict the replay window — the DLQ would brick the pipeline it
        exists to protect. A numeric batch id doubles as the bookmark
        backstop (a post-eviction replay of batch N folds under
        ``lsn > N`` exactly like a change event would).

        A direct call without a batch id gets a content-derived one, so a
        retry over the same rejected lines folds to a no-op. The digest
        is the row count plus the sums of two independently seeded
        64-bit hashes of the lines: one distributed reduce, blind to line
        order, with negligible collisions (xor would let two identical
        lines cancel). The fold holds only while that id is inside the
        quarantine pipeline's applied-batch-id window: after
        ``MAX_APPLIED_BATCH_IDS`` later quarantining batches evict it, a
        retry of the same lines appends them again."""
        if bad.limit(1).count() == 0:
            return 0
        import hashlib
        import time as _time

        from pyspark.sql import functions as F
        from pyspark.sql.types import StringType, StructField

        try:
            q_lsn = int(batch_id)
        except (TypeError, ValueError):
            q_lsn = int(_time.time() * 1_000_000)
            if batch_id is None:
                # The lsn MUST stay monotonic (it is the quarantine
                # table's bookmark — a content-hash lsn lower than the
                # bookmark would silently drop NEW dead letters), so
                # dedup by a content-derived synthetic BATCH ID instead.
                # Two legitimately identical garbage batches also fold —
                # that is the dedup semantics the DLQ wants. The hash
                # sums are decimal: a long sum overflows under ANSI.
                digest = bad.select(
                    F.count(F.lit(1)),
                    *[F.sum(F.xxhash64(F.lit(seed), "value")
                            .cast("decimal(38,0)")) for seed in (1, 2)],
                ).first()
                batch_id = "q-content-" + hashlib.md5(
                    repr(tuple(digest)).encode()
                ).hexdigest()
        bad = bad.withColumn("lsn", F.lit(q_lsn).cast("long"))
        q_schema = StructType([
            StructField("stream", StringType()),
            StructField("value", StringType()),
            StructField("reason", StringType()),
        ])
        if LakeTable.exists(self.quarantine_path):
            qt = LakeTable(self.table.spark, self.quarantine_path)
        else:
            qt = LakeTable.create(
                self.table.spark, self.quarantine_path, q_schema,
                key_cols=[], num_buckets=min(4, self.table.num_buckets),
            )
        m = merge_into(
            qt, bad, stream=self.stream, batch_id=batch_id,
            pipeline_id=f"{self.pipeline_id}-quarantine",
        )
        return int(m.get("inserted") or 0)

    def replay(self, events: DataFrame, *, n_batches: int = 1, lsn_bounds: list[tuple[int, int]] | None = None) -> list[dict]:
        """Batch-mode replay of a bounded event set, split by LSN range —
        the initial-load / backfill path when no streaming source exists."""
        from pyspark.sql import functions as F

        if lsn_bounds is None:
            row = events.agg(
                F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
            ).collect()[0]
            if row["hi"] is None:
                return [self.apply_batch(events, batch_id="replay-empty")]
            lo0, hi = int(row["lo"]) - 1, int(row["hi"])  # (lo, hi] ranges
            span = hi - lo0
            step = max(1, (span + n_batches - 1) // n_batches)
            lsn_bounds = [
                (lo0 + i * step, min(lo0 + (i + 1) * step, hi))
                for i in range(n_batches)
                if lo0 + i * step < hi
            ]
        out = []
        for i, (lo, hi) in enumerate(lsn_bounds):
            batch = events.where(
                (F.col("lsn") > lo) & (F.col("lsn") <= hi)
            )
            out.append(self.apply_batch(batch, batch_id=f"replay-{lo}-{hi}"))
        return out

    @property
    def spark(self) -> SparkSession:
        return self.table.spark


class MultiStreamPipeline(_StreamRunner):
    """Routes a mixed change stream (many tables in one log — the
    reference's combined binlog pass over all LOG_BASED streams,
    ``tap_mysql/.../binlog.py:857-897``) to one LakeTable per stream.

    Each micro-batch splits by the ``stream`` column and merges into the
    matching table; per-stream bookmarks and batch-id guards live in each
    table's own manifest, so per-stream exactly-once is preserved even
    when one stream's merge fails mid-batch (the replay skips streams
    already committed for that batch id)."""

    def __init__(
        self,
        pipelines: dict[str, CdcPipeline],
        *,
        stream_col: str = "stream",
        snapshot_provider: Any = None,
        max_concurrency: int = 4,
    ):
        # the dict key is the stream-column VALUE the batch splits on,
        # and each pipeline filters RECORDs / commits bookmarks under its
        # own .stream — a mismatch would split data under one name and
        # bookmark it under another, so fail fast
        for key, pipe in pipelines.items():
            if pipe.stream != key:
                raise ValueError(
                    f"pipelines[{key!r}].stream is {pipe.stream!r}; the dict "
                    "key must equal the pipeline's stream"
                )
        self.pipelines = pipelines
        self.stream_col = stream_col
        #: how many streams' merges run concurrently per micro-batch.
        #: Safe because streams write DISJOINT tables (own manifest, own
        #: optimistic-concurrency commit) and Spark schedules actions
        #: from multiple driver threads natively; with dozens of streams
        #: per log, one slow stream no longer serializes the rest (the
        #: reference's loop is sequential, target_postgres/__init__.py:
        #: 285-294 — that is a single-connection constraint Spark does
        #: not have). 1 = sequential.
        self.max_concurrency = max(1, int(max_concurrency))
        #: Callable[[stream], (snapshot DataFrame, lsn0)] — the reference's
        #: fastsync/singer routing (``cli/pipelinewise.py:172-368``): a
        #: stream with NO committed bookmark goes through bulk initial load
        #: (snapshot captured after lsn0) before its log tail applies;
        #: bookmarked streams tail directly. None disables routing.
        self.snapshot_provider = snapshot_provider

    @property
    def spark(self) -> SparkSession:
        return next(iter(self.pipelines.values())).table.spark

    def _route_initial_loads(self) -> dict[str, dict]:
        """Send every stream lacking a committed bookmark through
        ``initial_load`` (atomic snapshot + lsn₀ bookmark in one commit).
        Idempotent: once the bookmark exists the stream never routes again."""
        from pipelinewise_spark.cdc.snapshot import initial_load

        done = {}
        if self.snapshot_provider is None:
            return done
        for pipe in self.pipelines.values():
            # keyed by pipe.stream — the SAME name the merges filter and
            # commit bookmarks under (dict key == pipe.stream is enforced
            # in __init__)
            bm = pipe.table.bookmarks.get(pipe.stream, {}).get("lsn")
            if bm is None:
                snapshot, lsn0 = self.snapshot_provider(pipe.stream)
                done[pipe.stream] = initial_load(
                    pipe.table, snapshot, lsn0=lsn0, stream=pipe.stream
                )
        return done

    def _fanout(self, work: Callable[[str], dict]) -> dict[str, dict]:
        """Run ``work(stream)`` for every stream, overlapped up to
        ``max_concurrency``: disjoint tables, independent commits, so
        failures stay stream-scoped. If any stream fails, the others
        still finish (and commit) — the re-raised error makes the engine
        retry the batch, where committed streams no-op via their
        batch-id guard (exactly-once holds)."""
        streams = list(self.pipelines)
        if self.max_concurrency == 1 or len(streams) == 1:
            return {s: work(s) for s in streams}
        from concurrent.futures import ThreadPoolExecutor

        results: dict[str, dict] = {}
        errors: dict[str, BaseException] = {}
        with ThreadPoolExecutor(
            max_workers=min(self.max_concurrency, len(streams)),
            thread_name_prefix="pw-stream",
        ) as pool:
            futures = {s: pool.submit(work, s) for s in streams}
            for s, fut in futures.items():
                try:
                    results[s] = fut.result()
                except BaseException as e:  # noqa: BLE001 — re-raised
                    errors[s] = e
        if errors:
            first = next(iter(errors))
            raise RuntimeError(
                f"{len(errors)} stream merge(s) failed "
                f"({sorted(errors)}); committed streams will skip on "
                f"replay via their batch-id guard"
            ) from errors[first]
        return results

    def apply_batch(self, df: DataFrame, batch_id: Any = None) -> dict[str, dict]:
        self._route_initial_loads()
        # persist once — each stream's merge triggers multiple jobs and
        # would otherwise re-scan the whole micro-batch per stream
        df = df.persist()
        try:
            return self._fanout(
                lambda s: self.pipelines[s].apply_batch(
                    df.where(df[self.stream_col] == s), batch_id=batch_id
                )
            )
        finally:
            df.unpersist()

    def ingest_singer_lines(
        self, lines: DataFrame, batch_id: Any = None
    ) -> dict[str, dict]:
        """Mixed-stream singer frames — a real tap emits EVERY selected
        stream into ONE stdout (reference: the combined tap|target pipe;
        ``target_postgres`` groups records by their ``stream`` field) —
        fanned out to each stream's pipeline: every pipe reacts to its
        OWN SCHEMA messages (per-stream drift) and decodes its OWN
        RECORDs (``decode_records`` filters on stream; a foreign
        stream's malformed payload is not this pipe's error). The lines
        frame is persisted once, the control messages are collected ONCE
        (not once per stream — a driver round-trip per pipe per batch),
        and exactly ONE pipe quarantines stream-unattributable garbage
        lines so they don't land in every stream's dead-letter table —
        deterministically the lexicographically-first QUARANTINE-mode
        pipe (a permissive claimer would silently drop them), falling
        back to the first pipe when none quarantine. Failure
        semantics match :meth:`apply_batch` (stream-scoped,
        replay-safe)."""
        from pipelinewise_spark.singer import protocol

        self._route_initial_loads()
        lines = lines.persist()
        try:
            ctrl = protocol.collect_control_messages(lines)
            # Unattributable-garbage claimer: prefer a pipe whose
            # validate mode is 'quarantine' — a permissive/strict
            # claimer silently drops (or hard-fails on) lines no stream
            # can own, defeating the DLQ's "never silently dropped"
            # contract when per-table validate modes are mixed
            # (ADVICE r7). Deterministic: min() within each class.
            quarantining = [
                s for s, p in self.pipelines.items()
                if p.validate == "quarantine"
            ]
            claimer = min(quarantining) if quarantining else min(self.pipelines)
            return self._fanout(
                lambda s: self.pipelines[s].ingest_singer_lines(
                    lines, batch_id=batch_id, _ctrl=ctrl,
                    _claim_unparseable=(s == claimer),
                )
            )
        finally:
            lines.unpersist()
