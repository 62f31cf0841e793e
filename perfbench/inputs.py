"""Seeded inputs, generated once per (workload, seed, size) and cached.

Everything here runs before any timed window. Change logs come from the
engine's own generator, ``cdc.gen.generate_change_events(seed=...)``, and
are written to parquet (``mor_read_mix``) or encoded as
singer-framed text files (``tail_singer``), so the measured program
receives only files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import duckdb

from pyspark.sql import functions as F

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
from pipelinewise_spark.cdc.gen import generate_change_events
from pipelinewise_spark.singer import protocol
from pipelinewise_spark.singer.schema import struct_to_jsonschema

PAYLOAD = [f.name for f in TRANSCRIPT_SCHEMA.fields]
TURNS = 10

#: Input sizes. The warm-up pass replays the first batches of the same
#: input into throwaway preloaded tables of its own.
SIZES = {
    # 30 batches of 1500 LSNs: room for the MoR window's 18 rounds and a
    # third cycle on a fast host
    "mor_read_mix": {
        "main": dict(n_convs=2000, n_updates=45_000), "batch_lsns": 1500,
    },
    "tail_singer": {
        "main": dict(n_convs=1000, n_updates=400), "streams": 4,
        "files": 100,
    },
}

#: Shape knobs shared by every log: 5% deletes, every 50th update replayed
#: verbatim (2%), update traffic skewed toward low conversation ids.
SHAPE = dict(turns_per_conv=TURNS, delete_pct=5, dup_every=50, skew_alpha=2.0)

#: The stream whose SCHEMA gains a nullable column partway through the
#: tail, from file EVOLVE_AT on: inside the first 50 files, which every run
#: releases, traced halves included.
EVOLVING = 0
NEW_COLUMN = "lang"
EVOLVE_AT = 25


def stream_name(k: int) -> str:
    return f"tap-s{k}"


def _log(spark, seed: int, size: dict, stream: str):
    return generate_change_events(spark, seed=seed, stream=stream, **SHAPE, **size)


def _lsn_counts(path: str, bounds: list[tuple[int, int]]) -> list[int]:
    """Events per ``(lo, hi]`` LSN range of the parquet log at ``path``."""
    con = duckdb.connect()
    try:
        return [con.execute(
            f"SELECT count(*) FROM read_parquet('{path}/*.parquet') "
            f"WHERE lsn > {lo} AND lsn <= {hi}").fetchone()[0] for lo, hi in bounds]
    finally:
        con.close()


def _ranges(lo: int, hi: int, n: int) -> list[tuple[int, int]]:
    step = -(-(hi - lo) // n)
    return [(lo + i * step, min(lo + (i + 1) * step, hi)) for i in range(n)
            if lo + i * step < hi]


def _parquet_log(spark, seed, size, path, stream, batch_lsns, from_lsn) -> dict:
    _log(spark, seed, size, stream).write.mode("overwrite").parquet(path)
    n_ins = size["n_convs"] * TURNS
    hi = n_ins + size["n_updates"]
    bounds = [(lo, min(lo + batch_lsns, hi)) for lo in range(from_lsn, hi, batch_lsns)]
    return {"path": path, "n_inserts": n_ins, "bounds": bounds,
            "counts": _lsn_counts(path, bounds)}


def _singer_files(spark, seed, size, n_files, out_dir, events_path) -> dict:
    """Encode the update phase of four streams as one tap's stdout cut into
    ``n_files`` files by LSN window. Every file opens with a SCHEMA line
    per stream; from file ``EVOLVE_AT`` on, stream ``EVOLVING``'s SCHEMA
    and records carry the extra nullable column."""
    n_streams = SIZES["tail_singer"]["streams"]
    n_ins = size["n_convs"] * TURNS
    logs = [_log(spark, seed * 131 + k, size, stream_name(k)) for k in range(n_streams)]
    allev = logs[0]
    for lg in logs[1:]:
        allev = allev.unionByName(lg)
    allev.write.mode("overwrite").parquet(events_path)
    allev = spark.read.parquet(events_path)
    bounds = _ranges(n_ins, n_ins + size["n_updates"], n_files)
    evolve_from = bounds[EVOLVE_AT][0]
    upd = allev.where(F.col("lsn") > n_ins).withColumn(
        NEW_COLUMN,
        F.when((F.col("stream") == stream_name(EVOLVING)) & (F.col("lsn") > evolve_from),
               F.lit("en")),
    )
    rows = sorted(
        (r["_order"], json.loads(r["value"])["stream"], r["value"])
        for r in protocol.encode_records(upd, PAYLOAD + [NEW_COLUMN]).collect()
    )
    os.makedirs(out_dir, exist_ok=True)
    base_js = struct_to_jsonschema(TRANSCRIPT_SCHEMA)
    evolved_js = {**base_js, "properties": {**base_js["properties"],
                                            NEW_COLUMN: {"type": ["null", "string"]}}}
    files = []
    per_file: list[list] = [[] for _ in bounds]
    step = bounds[0][1] - bounds[0][0]
    for r in rows:
        per_file[min((r[0] - n_ins - 1) // step, len(bounds) - 1)].append(r)
    for i, recs in enumerate(per_file):
        name = f"f-{i:05d}.jsonl"
        last = {}
        with open(os.path.join(out_dir, name), "w") as fh:
            for k in range(n_streams):
                js = evolved_js if (k == EVOLVING and i >= EVOLVE_AT) else base_js
                fh.write(protocol.schema_message(stream_name(k), js, TRANSCRIPT_KEY) + "\n")
            for lsn, stream, line in recs:
                fh.write(line + "\n")
                last[stream] = max(last.get(stream, 0), lsn)
            fh.write(protocol.state_message({s: {"lsn": v} for s, v in last.items()}) + "\n")
        files.append({"name": name, "events": len(recs), "last_lsn": last})
    return {"events_path": events_path, "n_inserts": n_ins, "files": files,
            "streams": [stream_name(k) for k in range(n_streams)]}


def prepare(spark, workload: str, seed: int, cache_root: str) -> dict:
    """Return the input description for (workload, seed), generating it into
    ``cache_root`` first if it is not cached yet."""
    sz = SIZES[workload]
    tag = json.dumps([sz, SHAPE, EVOLVING, NEW_COLUMN, EVOLVE_AT], sort_keys=True)
    key = f"{workload}-s{seed}-{hashlib.sha1(tag.encode()).hexdigest()[:10]}"
    d = os.path.join(cache_root, key)
    meta_path = os.path.join(d, "inputs.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return {**json.load(fh), "cache_dir": d}
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if workload == "mor_read_mix":
        meta = {"main": _parquet_log(
            spark, seed, sz["main"], os.path.join(d, "events"), "public-transcripts",
            sz["batch_lsns"], sz["main"]["n_convs"] * TURNS)}
    else:
        meta = {"main": _singer_files(spark, seed, sz["main"], sz["files"],
                                      os.path.join(d, "files"), os.path.join(d, "events"))}
    meta.update(workload=workload, seed=seed, sizes=sz)
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)
    return {**meta, "cache_dir": d}
