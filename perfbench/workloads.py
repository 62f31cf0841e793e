"""The CDC workloads: set-up, timed window, closed-loop scaling pass.

Every workload is a sequence of micro-batches handed to the engine's public
entry points. Each event has a due time -- when the engine could first have
applied it -- and becomes visible when the commit that covers its LSN
returns:

- ``tail_singer`` (open loop): a generator thread releases singer-framed
  files on a fixed schedule into a directory that
  ``MultiStreamPipeline.run_singer_stream`` tails; a file is due at its
  scheduled release time.
- ``mor_read_mix`` (closed loop, writes beside reads): medium LSN ranges
  applied with ``mode="mor"``, each followed by one forced full read; a
  batch is due when it is handed over.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.pipeline import CdcPipeline, MultiStreamPipeline
from pipelinewise_spark.cdc.snapshot import initial_load
from pipelinewise_spark.lake.table import LakeTable

import inputs as inp
from spans import median

STREAM = "public-transcripts"
#: Buckets per table. Every batch touches all of them, so each CoW batch
#: rewrites the whole table and ``lake.buckets_rewritten`` cannot move:
#: bucket pruning is not measured here (see README). Few enough buckets
#: that the set-ups and the MoR rounds fit one run.
BUCKETS = 4
#: Processing-time trigger of the tail. Spark fires it on epoch-aligned
#: multiples of the interval, and the release schedule is aligned to the
#: same grid, so every run cuts the files into the same micro-batches:
#: back-to-back triggers instead made the batch boundaries, and with them
#: the freshness percentiles, depend on where the first batch happened to
#: end.
TRIGGER_S = 5
#: Files released per trigger interval, evenly spaced: 10 files/s (160
#: events/s) offered, on a schedule that never waits for the engine. One
#: batch applies them in ~4 s on the reference host, inside the interval.
#: Two intervals give the 100 files p90 needs.
TAIL_FILES_PER_TRIGGER = 50
#: No file is due within this many seconds of a trigger-grid point, so
#: which trigger picks a file up does not hinge on a few ms of jitter.
TAIL_GRID_MARGIN_S = 0.2
#: Longest wait for the tail's backlog to commit after the schedule ends.
TAIL_DRAIN_S = 30.0
#: Forced reads of the tail's four tables after the drain, each after a
#: full GC and followed by the host-speed reference job, the first
#: TAIL_UNTIMED_READS uncounted. Reads taken while the query was still
#: running took ~30% longer than these, and reads that overlapped a batch
#: ~2x as long: a median over a mix of kinds moved with the mix.
TAIL_READS = 10
TAIL_UNTIMED_READS = 2
#: The pipeline's delta-chain backstop compacts a MoR table on every 9th
#: batch (a chain longer than 8), so the MoR window runs whole cycles of 9
#: rounds: every run then has the same share of compacting batches.
MOR_CYCLE = 9
#: Commit-then-read rounds ``mor_read_mix`` makes at least, whatever
#: ``--seconds`` says: two cycles put 2 compacting batches (11% of the
#: events) above p90, so p90 is the latency of a compacting batch rather
#: than the slowest of the others. A third cycle moved none of the MoR
#: metrics' spreads between seeds and cost ~10 s a run.
MOR_MIN_ROUNDS = 2 * MOR_CYCLE
#: Rounds of the ``mor_read_mix`` warm-up pass: one cycle, so the
#: compaction path is warm too. The per-round time keeps falling for ~10
#: rounds after the JVM starts; with 3 warm-up rounds the window caught
#: the rest of that fall, and on a slow host more of it.
WARM_ROUNDS = MOR_CYCLE
#: Host-speed reference: a fixed Spark job that runs no engine code, timed
#: after every ``mor_read_mix`` round and every counted tail read (outside
#: them). The VM shares its cores with other guests, and its speed moved by
#: up to 2.5x within minutes, so the closed-loop time metrics are scaled by
#: ``REF_S / median(reference time)``: reported as on a host where the
#: reference takes ``REF_S``, about its time on the 4-core VM when quiet.
REF_ROWS = 10_000_000
REF_S = 0.1
#: Closed-loop batches per side of the ``scaling_eff`` comparison, at
#: local[4] and at local[1], per workload. The first runs untimed (it is
#: the first after a session start on the local[1] side); the median of the
#: rest counts. A tail batch costs ~2.5 s and a MoR batch ~0.5-1.3 s, so
#: the tail gets fewer timed batches to keep a run inside its time budget.
SCALE_BATCHES = {"mor_read_mix": 6, "tail_singer": 3}
SCALE_FILES_PER_BATCH = 8


class Failures:
    """Micro-batches attempted and failed, per workload."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, fn, *args, **kw):
        """Run one micro-batch; a raised error counts it failed."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception as e:  # noqa: BLE001 -- counted and reported
            self.error(e)
            return None

    def error(self, e: Exception, what: str = "") -> None:
        """Count a failed operation and keep its error for the report."""
        self.failed += 1
        self.errors.append(f"{what}{type(e).__name__}: {e}"[:500])


def reference_job(spark) -> float:
    """Wall time of the host-speed reference job: :data:`REF_ROWS` rows
    hashed and summed in four tasks."""
    t0 = time.time()
    spark.range(0, REF_ROWS, 1, 4).selectExpr("sum(hash(id))").collect()
    return time.time() - t0


def forced_read(spark, *paths: str) -> float:
    """Wall time of one full current-state read of the tables, as one job
    forced by a no-op sink so every column of every row is materialised."""
    t0 = time.time()
    df = LakeTable(spark, paths[0]).read()
    for p in paths[1:]:
        df = df.unionByName(LakeTable(spark, p).read(), allowMissingColumns=True)
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _preload(spark, path: str, events_path: str, n_inserts: int, stream: str) -> None:
    """Target preload: the log's insert phase as one atomic snapshot."""
    t = LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, TRANSCRIPT_KEY,
                         num_buckets=BUCKETS)
    snap = (spark.read.parquet(events_path)
            .where((F.col("lsn") <= n_inserts) & (F.col("stream") == stream))
            .select(*inp.PAYLOAD))
    initial_load(t, snap, lsn0=n_inserts, stream=stream)


def cycle_rates(rounds) -> list[float]:
    """Events/s of each whole :data:`MOR_CYCLE`-round cycle of the closed
    loop: its events over the summed wall time of its rounds, each from the
    hand-over of its batch to the end of the read after it. A cycle with a
    failed round is left out."""
    cycles: dict[int, list] = {}
    for i, h, end, n in rounds:
        cycles.setdefault(i // MOR_CYCLE, []).append((end - h, n))
    return [sum(n for _, n in c) / sum(t for t, _ in c)
            for c in cycles.values() if len(c) == MOR_CYCLE]


def _manifest_commits(path: str) -> list[tuple[float, dict]]:
    """(commit time, bookmarks) of every manifest version of a table, read
    after the run. The commit time is the one the manifest records."""
    out = []
    for p in sorted(glob.glob(os.path.join(path, "_manifests", "v*.json"))):
        with open(p) as fh:
            m = json.load(fh)
        out.append((float(m["created_at"]), m.get("bookmarks", {})))
    return out


# ------------------------------------------------------------ mor_read_mix


class MorReadMix:
    name = "mor_read_mix"
    batch_spans = {"pipeline.apply_batch"}

    def __init__(self, meta: dict, workdir: str):
        self.meta, self.work = meta, workdir
        self.n = 0

    def _apply(self, spark, path, log, fails, *, reads: bool, limit=None,
               seconds=None, min_rounds=0, reference=False) -> dict:
        """Batches in LSN order, each followed by a forced read if
        ``reads`` and then, if ``reference``, by the host-speed reference
        job; ``limit`` rounds, or whole :data:`MOR_CYCLE` cycles until both
        ``min_rounds`` and ``seconds`` are reached."""
        pipe = CdcPipeline(LakeTable(spark, path), stream=STREAM, mode="mor")
        events = spark.read.parquet(log["path"])
        t0 = time.time()
        batches, read_s, refs, max_lsn = [], [], [], log["n_inserts"]
        rounds = []  # (round index, hand-over, end of the round, events)
        for i, ((lo, hi), n) in enumerate(zip(log["bounds"], log["counts"])):
            if limit is not None and i >= limit:
                break
            if (seconds is not None and i % MOR_CYCLE == 0 and i >= min_rounds
                    and time.time() >= t0 + seconds):
                break
            h = time.time()
            if fails.run(pipe.replay, events, lsn_bounds=[(lo, hi)]) is None:
                continue
            max_lsn = hi
            batches.append((h, time.time(), n))
            if reads:
                try:
                    read_s.append(forced_read(spark, path))
                except Exception as e:  # noqa: BLE001 -- counted and reported
                    fails.error(e, "read: ")
            rounds.append((i, h, time.time(), n))
            if reference:
                try:
                    refs.append(reference_job(spark))
                except Exception as e:  # noqa: BLE001 -- counted and reported
                    fails.error(e, "reference: ")
        return {"batches": batches, "reads": read_s, "refs": refs,
                "rounds": rounds, "max_lsn": max_lsn, "path": path}

    def setup(self, spark) -> dict:
        """Target preload: the log's insert phase as the table's snapshot."""
        self.n += 1
        path = os.path.join(self.work, f"mor-{self.n}")
        log = self.meta["main"]
        _preload(spark, path, log["path"], log["n_inserts"], STREAM)
        return {"path": path}

    def warm_up(self, spark, state: dict) -> None:
        """:data:`WARM_ROUNDS` rounds (batch, then read) on a throwaway
        preloaded table, so the window does not measure how fast the JIT
        compiler catches up."""
        self._apply(spark, state["path"], self.meta["main"], Failures(), reads=True,
                    limit=WARM_ROUNDS)

    def window(self, spark, state: dict, seconds: float, fails: Failures,
               share: float = 1.0) -> dict:
        min_rounds = MOR_CYCLE * max(1, int(MOR_MIN_ROUNDS * share) // MOR_CYCLE)
        r = self._apply(spark, state["path"], self.meta["main"], fails, reads=True,
                        seconds=seconds, min_rounds=min_rounds, reference=True)
        ev = sum(n for _, _, n in r["batches"])
        ref = median(r["refs"]) if r["refs"] else None
        # with no reference time (its failure is counted) nothing is scaled
        k = REF_S / ref if ref else None
        done = r["batches"] if k else []
        return {
            "eps": [e / k for e in cycle_rates(r["rounds"])] if k else [],
            "fresh": [(c - h) * k for h, c, _ in done],
            "fresh_w": [n for _, _, n in done],
            "reads": [t * k for t in r["reads"]] if k else [], "events_in": ev,
            "reference_s": ref,
            "tables": [(r["path"], r["max_lsn"], None)],
        }

    def closed_loop(self, spark, path: str, fails: Failures) -> tuple[float, list]:
        """Median per-batch events/s of the first :data:`SCALE_BATCHES`
        batches, applied without reads, the first one untimed; and the
        table to check."""
        r = self._apply(spark, path, self.meta["main"], fails, reads=False,
                        limit=SCALE_BATCHES[self.name])
        ok = len(r["batches"]) == SCALE_BATCHES[self.name]
        eps = median([n / (c - h) for h, c, n in r["batches"][1:]]) if ok else 0.0
        return eps, [(r["path"], r["max_lsn"], None)]

    def oracle_events(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.meta["main"]["path"], "*.parquet")))


# ------------------------------------------------------------- tail_singer


class TailSinger:
    name = "tail_singer"
    batch_spans = {"pipeline.fanout"}

    def __init__(self, meta: dict, workdir: str):
        self.meta, self.work = meta, workdir
        self.n = 0
        self.streams = meta["main"]["streams"]
        self.queries: list = []

    def _tables(self, spark) -> str:
        """Preload the four stream tables, one thread each (the initial
        loads are independent, as the fan-out's merges are)."""
        log = self.meta["main"]
        self.n += 1
        d = os.path.join(self.work, f"tail-{self.n}")
        with ThreadPoolExecutor(max_workers=len(self.streams)) as pool:
            futures = [pool.submit(_preload, spark, os.path.join(d, s), log["events_path"],
                                   log["n_inserts"], s) for s in self.streams]
            for f in futures:
                f.result()
        return d

    def _multi(self, spark, d: str) -> MultiStreamPipeline:
        return MultiStreamPipeline(
            {s: CdcPipeline(LakeTable(spark, os.path.join(d, s)), stream=s)
             for s in self.streams},
            max_concurrency=len(self.streams),
        )

    def setup(self, spark) -> dict:
        """Target preload: the four tables."""
        return {"path": self._tables(spark)}

    def _read_all(self, spark, d: str) -> float:
        """The replicated state of all four streams, read as one job: a
        single small table's read (~0.13 s) is mostly task-scheduling
        latency."""
        return forced_read(spark, *(os.path.join(d, s) for s in self.streams))

    def _gc_read(self, spark, d: str) -> float:
        """:meth:`_read_all` after a full GC: these sub-second reads
        otherwise spread ±25% between seeds with where the collector
        happened to run."""
        spark.sparkContext._jvm.System.gc()
        return self._read_all(spark, d)

    def warm_up(self, spark, state: dict) -> None:
        """One closed-loop batch into throwaway preloaded tables, then two
        forced reads of them."""
        self._closed_loop(spark, state["path"], Failures(), 1, "warm")
        for _ in range(2):
            self._read_all(spark, state["path"])

    def window(self, spark, state: dict, seconds: float, fails: Failures,
               share: float = 1.0) -> dict:
        files = self.meta["main"]["files"]
        per = TAIL_FILES_PER_TRIGGER
        n_files = min(len(files), per * max(1, int(seconds // TRIGGER_S)))
        src = os.path.join(self.meta["cache_dir"], "files")
        d = state["path"]
        watch, staging = os.path.join(d, "_watch"), os.path.join(d, "_staging")
        os.makedirs(watch)
        os.makedirs(staging)
        for f in files[:n_files]:
            shutil.copy(os.path.join(src, f["name"]), os.path.join(staging, f["name"]))
        multi = self._multi(spark, d)
        q = multi.run_singer_stream(watch, os.path.join(d, "_ck"), available_now=False,
                                    processing_time=f"{TRIGGER_S} seconds")
        self.queries.append(q)
        # the query's first trigger fires at start, off the grid; release
        # only after it has ended, from the next grid point on
        deadline = time.time() + 30
        while q.lastProgress is None and q.exception() is None and time.time() < deadline:
            time.sleep(0.05)
        grid = (time.time() + 0.5) // TRIGGER_S * TRIGGER_S + TRIGGER_S
        gap = (TRIGGER_S - 2 * TAIL_GRID_MARGIN_S) / (per - 1)
        due = [grid + (i // per) * TRIGGER_S + TAIL_GRID_MARGIN_S + (i % per) * gap
               for i in range(n_files)]
        released = [None] * n_files

        def release():
            for i, f in enumerate(files[:n_files]):
                delay = due[i] - time.time()
                if delay > 0:
                    time.sleep(delay)
                os.rename(os.path.join(staging, f["name"]), os.path.join(watch, f["name"]))
                released[i] = time.time()

        gen = threading.Thread(target=release, name="tail-generator", daemon=True)
        gen.start()
        gen.join(timeout=seconds + 30)
        last = {s: max(f["last_lsn"].get(s, 0) for f in files[:n_files]) for s in self.streams}
        deadline = time.time() + TAIL_DRAIN_S
        while time.time() < deadline and q.exception() is None:
            tabs = {s: LakeTable(spark, os.path.join(d, s)) for s in self.streams}
            if all(tabs[s].bookmarks.get(s, {}).get("lsn", 0) >= last[s] for s in self.streams):
                break
            time.sleep(0.1)
        # the last batch reports its progress just after its commits land
        deadline = time.time() + 10
        while q.status["isTriggerActive"] and time.time() < deadline:
            time.sleep(0.05)
        error = q.exception()
        progress = list(q.recentProgress)
        q.stop()
        self.queries.remove(q)
        reads, refs = [], []
        try:
            for i in range(TAIL_UNTIMED_READS + TAIL_READS):
                t = self._gc_read(spark, d)
                if i >= TAIL_UNTIMED_READS:
                    reads.append(t)
                    refs.append(reference_job(spark))
        except Exception as e:  # noqa: BLE001 -- counted and reported
            fails.error(e, "read: ")
        ref = median(refs) if refs else None
        # per file: the commit that makes its last LSN visible in each of
        # its streams' tables
        commits = {s: _manifest_commits(os.path.join(d, s)) for s in self.streams}
        visible = []
        for f in files[:n_files]:
            t_vis = 0.0
            for s, lsn in f["last_lsn"].items():
                t_s = next((t for t, bm in commits[s] if bm.get(s, {}).get("lsn", 0) >= lsn), None)
                t_vis = None if t_s is None or t_vis is None else max(t_vis, t_s)
            visible.append(t_vis)
        committed = [i for i, v in enumerate(visible) if v is not None]
        batches = [p for p in progress if p.numInputRows > 0]
        fails.attempted += len(batches) + (n_files - len(committed))
        fails.failed += (n_files - len(committed)) + (1 if error is not None else 0)
        if error is not None:
            fails.errors.append(str(error)[:500])
        ev = sum(files[i]["events"] for i in committed)
        end = max((visible[i] for i in committed), default=due[0])
        return {
            "eps": [ev / (end - due[0])] if committed else [],
            "fresh": [visible[i] - due[i] for i in committed], "fresh_w": None,
            "reads": [t * REF_S / ref for t in reads] if ref else [], "events_in": ev,
            "reference_s": ref,
            "late_s": max((released[i] - due[i] for i in range(n_files) if released[i]), default=0.0),
            "progress": [json.loads(p.json) for p in batches],
            "checkpoint": os.path.join(d, "_ck"), "due": due, "visible": visible,
            "batch_files": _files_per_batch(os.path.join(d, "_ck"), batches),
            "released": released, "files": files[:n_files],
            "tables": [(os.path.join(d, s), max(last[s], self.meta["main"]["n_inserts"]), s)
                       for s in self.streams],
        }

    def _closed_loop(self, spark, d: str, fails: Failures, n: int, tag: str) -> list:
        """Ingest the first ``n`` chunks of files into the tables under
        ``d``, one batch each; (start, end, events) of every batch that
        committed."""
        files = self.meta["main"]["files"]
        src = os.path.join(self.meta["cache_dir"], "files")
        multi = self._multi(spark, d)
        out = []
        for b in range(n):
            chunk = files[b * SCALE_FILES_PER_BATCH:(b + 1) * SCALE_FILES_PER_BATCH]
            lines = spark.read.text([os.path.join(src, f["name"]) for f in chunk])
            h = time.time()
            if fails.run(multi.ingest_singer_lines, lines, batch_id=f"{tag}-{b}") is not None:
                out.append((h, time.time(), sum(f["events"] for f in chunk)))
        return out

    def closed_loop(self, spark, d: str, fails: Failures) -> tuple[float, list]:
        """The tail's offered rate caps its throughput, so scaling is
        measured closed-loop: the first files ingested batch after batch
        into preloaded tables. Median per-batch events/s of all but the
        first of :data:`SCALE_BATCHES`; and the tables to check."""
        n = SCALE_BATCHES[self.name]
        done = self._closed_loop(spark, d, fails, n, "scale")
        ok = len(done) == n
        eps = median([ev / (c - h) for h, c, ev in done[1:]]) if ok else 0.0
        files = self.meta["main"]["files"][:n * SCALE_FILES_PER_BATCH]
        n_ins = self.meta["main"]["n_inserts"]
        return eps, [(os.path.join(d, s), max([n_ins] + [f["last_lsn"].get(s, 0) for f in files]), s)
                     for s in self.streams]

    def oracle_events(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.meta["main"]["events_path"], "*.parquet")))

    def stop(self) -> None:
        for q in list(self.queries):
            q.stop()


WORKLOADS = {w.name: w for w in (TailSinger, MorReadMix)}


def _files_per_batch(checkpoint: str, progress) -> list[int]:
    """Files each micro-batch read, from the file source's metadata log."""
    out = []
    for p in progress:
        path = os.path.join(checkpoint, "sources", "0", str(p.batchId))
        if os.path.exists(path):
            with open(path) as fh:
                out.append(sum(1 for line in fh if line.startswith("{")))
    return out
