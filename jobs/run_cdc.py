#!/usr/bin/env python
"""CDC apply job — the ``spark-submit --py-files`` entrypoint.

Cluster usage (north rule deployment shape):

    ./scripts/build_pyfiles.sh                      # → dist/pipelinewise_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/pipelinewise_spark.zip \\
        jobs/run_cdc.py \\
        --events  s3://bucket/change-log/ \\
        --table   s3://bucket/lake/transcripts \\
        --checkpoint s3://bucket/ckpt/transcripts \\
        --stream  public-transcripts \\
        --mode    stream

Modes:
- ``stream``   bounded availableNow run over the change-log directory
  (kill + rerun with the same --checkpoint resumes exactly); with
  ``--continuous`` it keeps tailing on a processingTime trigger and
  SIGTERM/SIGINT stop it cleanly (exit 0, checkpoint resumes — the
  reference's ``stop_tap``);
- ``replay``   batch replay of the whole event set in --batches chunks;
- ``snapshot`` initial load from --snapshot parquet, bookmark at --lsn0;
- ``singer``   --events is a directory of singer-framed TEXT files
  (SCHEMA/RECORD/STATE lines — a captured tap stdout, or what
  ``run_feed --export-format singer`` emits): SCHEMA messages drive
  schema drift mid-stream, ``--validate`` selects T12 record validation
  (``quarantine`` = dead-letter table), and the resume/exactly-once
  contract is identical to ``stream``.

The table is created on first run from the transcript schema (or
--append-only for a keyless append table).

With ``--project <tap.yml>``, ``--sync-tables s1,s2 --snapshot <dir>
--lsn0 N`` re-snapshots ONLY the named streams before streaming — the
``pipelinewise sync_tables`` verb (selective full resync while the rest
of the project keeps its incremental state). ``--project --mode singer``
tails a directory of MIXED-stream singer text files (one tap's whole
stdout — the reference's tap|target pipe): each stream's pipeline
decodes its own RECORDs/SCHEMA messages and applies its own YAML
transforms.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# `python jobs/run_cdc.py` puts jobs/ (not the repo root) on sys.path;
# under spark-submit --py-files the zip provides the package instead.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--events", help="change-event parquet dir (lsn/op/... envelope)")
    p.add_argument(
        "--project",
        help="PipelineWise tap YAML: wires all schemas[].tables[] as a "
        "multi-stream pipeline under --table as the lake root "
        "(replication methods/transformations from the YAML; events must "
        "carry the <source_schema>-<table_name> stream column)",
    )
    p.add_argument("--table", required=True, help="LakeTable root path (or lake ROOT with --project)")
    p.add_argument("--checkpoint", help="streaming checkpoint dir (mode=stream)")
    p.add_argument("--stream", default=None,
                   help="stream name (default: 'default'; mode=singer "
                        "auto-detects it from the frames' SCHEMA lines "
                        "when omitted — a silent mismatch would ingest "
                        "zero records)")
    p.add_argument("--mode", choices=["stream", "replay", "snapshot", "singer"],
               default="stream",
               help="singer: --events is a dir of singer-framed TEXT files (SCHEMA/RECORD/STATE lines — a captured tap stdout, or run_feed --export-format singer output); SCHEMA messages drive drift, --validate picks the record-validation mode")
    p.add_argument("--batches", type=int, default=1, help="replay batch count")
    p.add_argument("--snapshot", help="snapshot parquet path (mode=snapshot)")
    p.add_argument("--lsn0", type=int, help="log position captured BEFORE snapshot export")
    p.add_argument("--soft-delete", action="store_true")
    p.add_argument("--append-only", action="store_true")
    p.add_argument("--num-buckets", type=int, default=256)
    p.add_argument("--compact-every", type=int, default=None)
    p.add_argument("--transform-config", help="JSON file: transform-field mask list")
    p.add_argument("--validate",
                   choices=["permissive", "strict", "quarantine"],
                   default="permissive",
                   help="mode=singer record validation (T12): strict FAILFASTs on the first malformed RECORD; quarantine diverts bad lines to a dead-letter LakeTable instead of failing")
    p.add_argument("--quarantine-path", default=None,
                   help="--validate quarantine: dead-letter table path (default <table>_quarantine)")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--sync-tables",
                   help="--project mode: comma-separated stream names to "
                        "RE-SNAPSHOT before streaming (the `pipelinewise "
                        "sync_tables` verb, cli/pipelinewise.py:1382-1428): "
                        "each selected stream is atomically overwritten "
                        "from --snapshot/<stream>.parquet with its "
                        "bookmark reset to --lsn0, other streams "
                        "untouched; the tail then catches up from lsn0")
    p.add_argument("--secret",
                   help="vault password file: decrypts !vault values in "
                        "the --project YAML (the reference's --secret)")
    p.add_argument("--pidfile",
                   help="single-instance guard: refuse to start if the "
                        "file names a live pid, else write ours and "
                        "remove it on exit — the handle `pipelinewise "
                        "stop_tap` signals (reference "
                        "cli/pipelinewise.py:1386-1392)")
    p.add_argument("--continuous", action="store_true",
                   help="mode=stream: keep tailing (processingTime "
                        "trigger) instead of the bounded availableNow "
                        "drain; SIGTERM/SIGINT stop the tap cleanly "
                        "(exit 0, checkpoint resumes — the stop_tap "
                        "analog)")
    p.add_argument("--trigger-sec", type=float, default=2.0,
                   help="--continuous micro-batch cadence (seconds)")
    args = p.parse_args(argv)
    if args.stream is None and args.mode != "singer":
        args.stream = "default"  # singer mode keeps None = auto-detect

    if args.pidfile:
        import atexit
        import os as _os

        if _os.path.exists(args.pidfile):
            other = None
            alive = False
            try:
                with open(args.pidfile) as fh:
                    other = int(fh.read().strip() or 0)
                if other <= 0:
                    # empty/corrupt file: pid 0 would signal OUR OWN
                    # process group and always "succeed" — stale, reclaim
                    raise ValueError(other)
                _os.kill(other, 0)  # raises if dead
                alive = True
            except (ValueError, ProcessLookupError):
                pass  # stale — reclaim below
            except PermissionError:
                alive = True  # pid exists under another uid
            if alive:
                print(
                    f"another instance (pid {other}) already holds "
                    f"{args.pidfile}", file=sys.stderr,
                )
                return 1
            _os.unlink(args.pidfile)
        with open(args.pidfile, "w") as fh:
            fh.write(str(_os.getpid()))

        def _release(path=args.pidfile):
            try:
                _os.unlink(path)
            except FileNotFoundError:
                pass

        atexit.register(_release)

    from pyspark.sql import SparkSession

    from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
    from pipelinewise_spark.cdc.pipeline import CdcPipeline
    from pipelinewise_spark.cdc.snapshot import initial_load
    from pipelinewise_spark.lake.table import LakeTable

    spark = SparkSession.builder.appName("pipelinewise-spark-cdc").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # pre-spawn the Python worker pool: a bounded availableNow run would
    # otherwise pay worker spawn + arrow imports inside its first
    # micro-batch (~7 s at 32 cores; BENCH.md round 5)
    from pipelinewise_spark.session import warm_python_workers

    warm_python_workers(spark)

    if args.project:
        # YAML-project mode: the reference's tap file wires everything;
        # --table is the lake ROOT, streams route by the events' stream
        # column (<source_schema>-<table_name>). All argument validation
        # happens BEFORE build_project — wiring creates tables on disk,
        # and a usage error must leave no side effects.
        if args.mode not in ("stream", "singer"):
            p.error("--project supports mode=stream or mode=singer only")
        for flag, name in ((args.transform_config, "--transform-config"),
                           (args.append_only, "--append-only"),
                           (args.validate != "permissive", "--validate"),
                           (args.quarantine_path, "--quarantine-path"),
                           (args.snapshot and not args.sync_tables,
                            "--snapshot")):
            if flag:
                p.error(f"{name} is incompatible with --project (the tap "
                        "YAML declares transformations/keys/"
                        "validate_records per table; --snapshot is only "
                        "meaningful with --sync-tables)")
        from pipelinewise_spark.config import (
            build_project, load_tap_yaml, stream_ids,
        )

        if args.sync_tables and (not args.snapshot or args.lsn0 is None):
            p.error("--sync-tables requires --snapshot (dir holding "
                    "<stream>.parquet per selected stream) and --lsn0")
        cfg = load_tap_yaml(args.project, args.secret)
        # alert wiring fails FAST (a typo'd alert_handlers block must
        # fail here, not at the 3 a.m. failure it was supposed to
        # report) — reference cli/pipelinewise.py:97
        from pipelinewise_spark.alerts import AlertSender
        from pipelinewise_spark.config import SUPPORTED_TAP_TYPES

        alert_sender = AlertSender(cfg.get("alert_handlers"))

        if SUPPORTED_TAP_TYPES.get(cfg.get("type", "")) == "rest":
            # SaaS family: bounded pull → merge → bookmark per stream
            # (no change-log dir or checkpoint — the API IS the log and
            # the bookmark lives in the table manifest). Rerun = next
            # incremental window.
            from pipelinewise_spark.config import reader_spec
            from pipelinewise_spark.sources.rest import (
                rest_reader, run_rest_sync,
            )

            if args.sync_tables or args.continuous:
                p.error("--sync-tables/--continuous apply to change-log "
                        "taps; a REST tap rerun IS the next window")
            token = (cfg.get("db_conn") or {}).get("token")
            auth = ("bearer", token) if token else None

            # schema discovery from the endpoint itself (the singer
            # discover step): one bounded GET per NEW stream, schema
            # inferred from live records — key_properties come from the
            # YAML. Existing tables keep their stored schema.
            specs = {}
            for sch in cfg["schemas"]:
                for tb in sch.get("tables", []) or []:
                    sid = f"{sch['source_schema']}-{tb['table_name']}"
                    specs[sid] = reader_spec(cfg, sch["source_schema"], tb)

            def _discover(stream):
                kw = dict(specs[stream]["kwargs"])
                for k in ("stream", "pagination", "since_param",
                          "replication_key"):
                    kw.pop(k, None)
                df, _ = rest_reader(
                    spark, kw.pop("base_url"), kw.pop("path"),
                    stream=stream, pagination="none", auth=auth, **kw,
                )
                df = df.drop("_sdc_extracted_at", "_sdc_source")
                if not df.columns or df.limit(1).count() == 0:
                    raise ValueError(
                        f"{stream}: cannot discover a schema from an "
                        f"empty endpoint — load one record upstream or "
                        f"create the lake table first"
                    )
                return df.schema, None  # keys come from the YAML

            proj = build_project(
                spark, cfg, lake_root=args.table,
                schema_provider=_discover,
                num_buckets=args.num_buckets,
                soft_delete=bool(args.soft_delete),
            )
            out = {}
            try:
                for stream, spec in proj["readers"].items():
                    out[stream] = run_rest_sync(
                        spark, table=proj["tables"][stream], spec=spec,
                        stream=stream, auth=auth,
                        # YAML transformations compile into the wired
                        # pipelines — a REST sync must apply them too
                        # (masking that silently lapses is a PII leak)
                        transform=proj["pipeline"]
                        .pipelines[stream].transform,
                    )
            except Exception as exc:
                if cfg.get("send_alert", True) and alert_sender.handlers:
                    alert_sender.send_to_all_handlers(
                        message=f"{cfg.get('id', 'tap')} tap failed",
                        exc=exc,
                        tap_slack_channel=cfg.get("slack_alert_channel"),
                    )
                raise
            print(json.dumps({"mode": "rest", "streams": out},
                             default=str))
            return 0

        # change-log taps stream a change-event dir exactly-once
        if not args.events or not args.checkpoint:
            p.error("--events and --checkpoint required with --project "
                    "(change-log taps; REST taps need neither)")
        sync = [x.strip() for x in (args.sync_tables or "").split(",")
                if x.strip()]
        # validated BEFORE build_project like every other usage error —
        # wiring creates tables on disk; stream_ids() is build_project's
        # own keying, so a passing name cannot KeyError after wiring
        known = set(stream_ids(cfg))
        if set(sync) - known:
            p.error(f"--sync-tables: unknown stream(s) "
                    f"{sorted(set(sync) - known)} "
                    f"(project streams: {sorted(known)})")
        if sync:
            import os as _os

            # every snapshot file must exist up front: discovering a
            # missing one after stream #1 was overwritten would leave a
            # half-applied resync
            missing = [
                s for s in sync
                if not _os.path.exists(
                    _os.path.join(args.snapshot, f"{s}.parquet"))
            ]
            if missing:
                p.error(f"--sync-tables: no snapshot parquet for "
                        f"{missing} under {args.snapshot}")
            # the checkpoint gap guard: the per-stream bookmark is the
            # max lsn already consumed from the checkpointed log for
            # that stream, so a snapshot OLDER than it (lsn0 <
            # bookmark) would leave (lsn0, bookmark] permanently
            # missing — those events live in files the streaming
            # source already marked consumed and will never redeliver.
            # Export the snapshot AFTER stopping the tap (lsn0 >= the
            # stream's position), the reference's resync flow.
            from pipelinewise_spark.lake.table import LakeTable as _LT

            by_stream = {}
            for sch in cfg["schemas"]:
                for tb in sch.get("tables", []) or []:
                    sid = f"{sch['source_schema']}-{tb['table_name']}"
                    by_stream[sid] = _os.path.join(
                        args.table, sch.get("target_schema")
                        or sch["source_schema"], tb["table_name"],
                    )
            for s in sync:
                if not _LT.exists(by_stream[s]):
                    continue  # fresh table: nothing consumed yet
                bm = (_LT(None, by_stream[s]).bookmarks
                      .get(s, {}).get("lsn"))
                if bm is not None and args.lsn0 < int(bm):
                    p.error(
                        f"--sync-tables {s}: --lsn0 {args.lsn0} is older "
                        f"than the stream's applied position {bm}; events "
                        f"in ({args.lsn0}, {bm}] were already consumed "
                        f"from the checkpoint and would be lost. Export a "
                        f"snapshot at/after the current position (stop "
                        f"the tap first), or rebuild table+checkpoint "
                        f"from scratch."
                    )
        proj = build_project(
            spark,
            cfg,
            lake_root=args.table,
            # the built-in provider serves the engine's transcript payload
            # schema; tables whose key_properties fall outside it fail at
            # wiring time with a clear error (build_project validates) —
            # for other payloads, wire build_project with a catalog-backed
            # schema_provider from your own driver script
            schema_provider=lambda s: (TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY),
            num_buckets=args.num_buckets,
            soft_delete=bool(args.soft_delete),
        )
        resynced = []
        if sync:
            # sync_tables verb: atomically re-snapshot ONLY the selected
            # streams (overwrite + lsn0 bookmark in one commit via
            # initial_load); the stream run below catches them up from
            # lsn0 while untouched streams keep their own bookmarks
            import os as _os

            for s in sync:
                snap = _os.path.join(args.snapshot, f"{s}.parquet")
                initial_load(
                    proj["tables"][s], spark.read.parquet(snap),
                    lsn0=args.lsn0, stream=s,
                )
                resynced.append(s)
        try:
            # mode=singer: --events is ONE tap's whole stdout as text
            # files (every selected stream mixed in one frame sequence,
            # the reference's tap|target pipe); each stream's pipeline
            # decodes its own RECORDs and SCHEMA messages
            run = (proj["pipeline"].run_singer_stream
                   if args.mode == "singer"
                   else proj["pipeline"].run_file_stream)
            if args.continuous:
                from pipelinewise_spark.streaming.control import (
                    run_until_stopped,
                )

                q = run(
                    args.events, args.checkpoint,
                    max_files_per_trigger=args.max_files_per_trigger,
                    available_now=False,
                    processing_time=f"{args.trigger_sec} seconds",
                )
                run_until_stopped(q)
            else:
                run(
                    args.events, args.checkpoint,
                    max_files_per_trigger=args.max_files_per_trigger,
                )
        except Exception as exc:
            # reference pipelinewise.py:1304-1317: '<tap_id> tap failed'
            # to every handler, tap-level send_alert: false opts out;
            # send failures surface on stderr, the REAL error re-raises
            if cfg.get("send_alert", True) and alert_sender.handlers:
                alert_sender.send_to_all_handlers(
                    message=f"{cfg.get('id', 'tap')} tap failed", exc=exc,
                    tap_slack_channel=cfg.get("slack_alert_channel"),
                )
            raise
        print(json.dumps({
            "mode": "project",
            "resynced": resynced,
            "streams": {
                s: t.refresh().bookmarks.get(s)
                for s, t in proj["tables"].items()
            },
        }, default=str))
        return 0

    if args.sync_tables:
        p.error("--sync-tables requires --project (single-table resync "
                "is mode=snapshot)")
    if args.mode == "singer" and args.stream is None:
        # decode_records drops every RECORD of a non-matching stream,
        # so a default-vs-exported name mismatch would "succeed" with
        # an empty table — detect from the frames instead of guessing.
        # Resolved BEFORE the table is created and the pipe/transform
        # constructed: a usage error here must leave no side effects
        # (same contract as the --project branch).
        if not args.events:
            p.error("--events required for mode=singer")
        from pyspark.sql import functions as F
        from pyspark.sql.utils import AnalysisException

        def _streams_of(types):
            try:
                return [
                    r["s"] for r in spark.read.text(args.events)
                    .where(F.get_json_object("value", "$.type").isin(*types))
                    .select(F.get_json_object("value", "$.stream").alias("s"))
                    .where(F.col("s").isNotNull()).distinct().collect()
                ]
            except AnalysisException as exc:
                # ADVICE r7: an empty/not-yet-populated events dir made
                # spark.read.text raise a schema-inference traceback —
                # a stream job launched before the first frame file
                # lands should get usage guidance, not a crash. Only
                # AnalysisException (path/schema inference) is
                # rewritten; runtime failures keep their traceback. (A
                # continuous tail that must start BEFORE frames exist
                # needs --stream explicitly; auto-detect requires at
                # least one frame to read.)
                p.error(
                    f"{args.events}: no frame files to auto-detect the "
                    f"stream from (dir empty or unreadable: {exc}); "
                    f"pass --stream explicitly to start before frames "
                    f"land"
                )

        # control-plane first: SCHEMA lines are few and every exporter
        # (ours and the reference taps) emits them before RECORDs — a
        # multi-GB capture shouldn't pay a full-corpus JSON extraction
        # just to learn its own stream name. RECORD fallback only for
        # schema-less captures.
        found = _streams_of(["SCHEMA"]) or _streams_of(["RECORD"])
        if len(found) == 1:
            args.stream = found[0]
            print(f"auto-detected stream {found[0]!r} from frames",
                  file=sys.stderr)
        elif not found:
            p.error(f"{args.events}: no singer frames with a stream "
                    f"field found; pass --stream explicitly")
        else:
            p.error(f"{args.events} carries {len(found)} streams "
                    f"({sorted(found)}); pass --stream explicitly")

    if LakeTable.exists(args.table):
        table = LakeTable(spark, args.table)
    else:
        table = LakeTable.create(
            spark,
            args.table,
            TRANSCRIPT_SCHEMA,
            [] if args.append_only else TRANSCRIPT_KEY,
            num_buckets=args.num_buckets,
            # soft-delete is a table-level property (single source of
            # truth for merge AND read tombstone visibility)
            properties={"soft_delete": bool(args.soft_delete)},
        )

    transform = None
    if args.transform_config:
        from pipelinewise_spark.transform.compiler import compile_transformations

        with open(args.transform_config) as fh:
            transform = compile_transformations(json.load(fh), stream=args.stream)

    # soft-delete is governed by the TABLE property (set at create above)
    # and the merge follows it; surface a clear error if the flag
    # contradicts an existing table instead of silently hard-deleting.
    prop_soft = bool(table.manifest["properties"].get("soft_delete", False))
    if args.soft_delete and not prop_soft:
        p.error(
            f"--soft-delete contradicts existing table {args.table} "
            "(created without soft_delete property)"
        )
    pipe = CdcPipeline(
        table,
        stream=args.stream,
        transform=transform,
        compact_every=args.compact_every,
        validate=args.validate,
        quarantine_path=args.quarantine_path,
        # --append-only is the CLI's explicit opt-out of the reference's
        # primary_key_required guard (a keyless table without the flag
        # errors rather than silently duplicating on replay)
        primary_key_required=not args.append_only,
    )

    if args.mode == "snapshot":
        if not args.snapshot or args.lsn0 is None:
            p.error("--snapshot and --lsn0 required for mode=snapshot")
        initial_load(
            table, spark.read.parquet(args.snapshot), lsn0=args.lsn0,
            stream=args.stream,
        )
        print(json.dumps({"mode": "snapshot", "rows": table.read().count(),
                          "bookmarks": table.bookmarks}))
        return 0

    if not args.events:
        p.error("--events required for mode=stream/replay/singer")
    if args.mode == "replay":
        metrics = pipe.replay(spark.read.parquet(args.events), n_batches=args.batches)
    else:
        if not args.checkpoint:
            p.error("--checkpoint required for mode=stream/singer")
        # mode=singer: the tap/target loop over files — singer-framed
        # text lands in the lake with the same exactly-once and resume
        # contract as the parquet change log (and our own
        # --export-format singer output round-trips)
        run = (pipe.run_singer_stream if args.mode == "singer"
               else pipe.run_file_stream)
        if args.continuous:
            from pipelinewise_spark.streaming.control import (
                run_until_stopped,
            )

            q = run(
                args.events, args.checkpoint,
                max_files_per_trigger=args.max_files_per_trigger,
                available_now=False,
                processing_time=f"{args.trigger_sec} seconds",
            )
            run_until_stopped(q)
        else:
            run(
                args.events, args.checkpoint,
                max_files_per_trigger=args.max_files_per_trigger,
            )
        metrics = pipe.history
    print(json.dumps({
        "mode": args.mode,
        "batches": pipe.n_applied,
        "bookmarks": table.bookmarks,
        "version": table.version,
        "metrics": metrics,
    }, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
