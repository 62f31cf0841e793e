#!/usr/bin/env python3
"""CDC benchmark: one seeded command, three workloads, oracle-checked.

    python3 perfbench/run.py --workload tail_singer --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
``--seed`` (cached under ``.perfbench_work/``), sets up a Spark session at
``local[4]`` several times, measures ``--seconds`` of the workload, checks
every final table against the DuckDB oracle and prints one JSON object as
the last line of standard output:

- ``--trace 0``: the end-to-end metrics, measured untraced;
- ``--trace 1``: the per-layer metrics from a traced window, plus the
  tracing overhead against an untraced window of the same run.

See ``perfbench/README.md`` for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = [
    ("events_per_s", "1/s"), ("scaling_eff", "ratio"),
    ("freshness_s_p50", "s"), ("freshness_s_p90", "s"),
    ("read_s_p50", "s"), ("setup_s", "s"), ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("pipeline.batch_s", "s"), ("pipeline.fanout_overlap", "ratio"),
    ("pipeline.unattributed_s", "s"),
    ("stream.trigger_overhead_s", "s"), ("stream.files_per_batch", "count"),
    ("stream.backlog_files", "count"),
    ("singer.control_collect_s", "s"), ("drift.reconcile_s", "s"),
    ("merge.self_s", "s"), ("merge.useful_frac", "ratio"), ("dedup.in_per_out", "ratio"),
    ("lake.write_s", "s"), ("lake.commit_s", "s"), ("lake.buckets_rewritten", "count"),
    ("lake.files_added", "count"), ("lake.bytes_written_per_event", "B"),
    ("lake.compact_s", "s"), ("lake.compactions", "count"),
    ("lake.delta_chain_max", "count"), ("lake.read_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.shuffle_read_bytes", "B"), ("spark.shuffle_write_bytes", "B"),
    ("spark.input_bytes", "B"), ("spark.driver_serial_frac", "ratio"),
    ("setup.session_s", "s"), ("setup.warmup_s", "s"), ("setup.preload_s", "s"),
    ("trace.overhead_frac", "ratio"),
]
MASTER = "local[4]"
CORES = 4
#: Set-ups per run; ``setup_s`` is their median (here: their mean).
N_SETUP = 2


def _cpu_control() -> float:
    """Seconds for a fixed amount of pure-Python work: a contended host
    shows here beside the numbers."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_record() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
            "cpu_control_s": _cpu_control(), "steal_s": _steal_s()}


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap keeps the driver's resident memory from
            # depending on when the collector chose to grow the heap
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms1g",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }

    def session(self, master: str) -> float:
        from pipelinewise_spark.session import get_spark

        t0 = time.time()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", master=master, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.time() - t0

    def jvm_pid(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 -- a JVM that ignores EOF is killed
                proc.kill()
                proc.wait(timeout=30)


def install_tracing(tracer) -> None:
    """Wrap the public entry points of every layer the report splits."""
    import pipelinewise_spark.cdc.merge as mg
    import pipelinewise_spark.cdc.pipeline as pl
    import pipelinewise_spark.lake.table as lt
    from pipelinewise_spark.evolution import drift
    from pipelinewise_spark.singer import protocol

    def merge_counts(span, args, kw, res):
        span.counts.update({k: v for k, v in (res or {}).items()
                            if isinstance(v, int) and not isinstance(v, bool)})

    def commit_counts(span, args, kw, m):
        summ = m.get("summary", {})
        files = summ.get("added_files", [])
        span.counts.update(
            files=len(files), bytes=sum(f.get("bytes") or 0 for f in files),
            buckets=len(summ.get("replaced_buckets", [])),
            chain=args[0].delta_pressure()["max_chain"],
        )

    tracer.wrap(pl.MultiStreamPipeline, "ingest_singer_lines", "pipeline.fanout",
                batch_arg="batch_id", adopt=True)
    tracer.wrap(pl.CdcPipeline, "ingest_singer_lines", "pipeline.stream_apply",
                batch_arg="batch_id")
    tracer.wrap(pl.CdcPipeline, "apply_batch", "pipeline.apply_batch", batch_arg="batch_id")
    tracer.wrap(pl, "merge_into", "merge.merge_into", on_result=merge_counts)
    tracer.wrap(mg, "latest_per_key", "dedup.latest_per_key")
    tracer.wrap(lt.LakeTable, "write_bucket_files", "lake.write")
    tracer.wrap(lt.LakeTable, "commit", "lake.commit", on_result=commit_counts)
    tracer.wrap(lt.LakeTable, "compact", "lake.compact")
    tracer.wrap(lt.LakeTable, "read", "lake.read")
    tracer.wrap(protocol, "collect_control_messages", "singer.control_collect")
    tracer.wrap(protocol, "decode_records", "singer.decode")
    tracer.wrap(drift, "reconcile", "drift.reconcile")


# ------------------------------------------------------------------ metrics


def _guard(problems: list[str], name: str, fn):
    """``fn()``, or None with the reason noted in ``problems`` when failed
    batches left too little to compute the metric from."""
    from spans import TooFewSamples

    try:
        return fn()
    except (TooFewSamples, ValueError, ZeroDivisionError) as e:
        problems.append(f"{name}: {type(e).__name__}: {e}")
        return None


def _scaling(eps4: float, eps1: float) -> float:
    if not eps4 or not eps1:
        raise ValueError("a scaling pass had a failed batch")
    return eps4 / (CORES * eps1)


def e2e_metrics(res: dict, setup_s: float, eps4: float, eps1: float, rss_mb: float,
                problems: list[str]) -> dict:
    """The end-to-end metrics; one that cannot be computed is None and
    says why in ``problems``."""
    from spans import median, percentile

    def get(name, fn):
        return _guard(problems, name, fn)

    return {
        "events_per_s": get("events_per_s", lambda: median(res["eps"])),
        "scaling_eff": get("scaling_eff", lambda: _scaling(eps4, eps1)),
        "freshness_s_p50": get("freshness_s_p50", lambda: percentile(
            res["fresh"], 0.5, weights=res["fresh_w"])),
        "freshness_s_p90": get("freshness_s_p90", lambda: percentile(
            res["fresh"], 0.9, weights=res["fresh_w"])),
        "read_s_p50": get("read_s_p50", lambda: median(res["reads"])),
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
    }


def _primary(name: str, res: dict) -> tuple[float, bool]:
    """The workload's headline figure and whether higher is better."""
    from spans import median, percentile

    if name == "tail_singer":
        return percentile(res["fresh"], 0.5, weights=res["fresh_w"]), False
    return median(res["eps"]), True


def stream_stats(res: dict) -> dict:
    """Trigger overhead, files per batch and backlog from the query's
    progress reports and its file-source log, read after the run."""
    from spans import median

    prog = res.get("progress") or []
    if not prog:
        return {"stream.trigger_overhead_s": 0.0, "stream.files_per_batch": 0.0,
                "stream.backlog_files": 0.0}
    over = [(p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0))
            / 1000.0 for p in prog]
    per_batch = res["batch_files"]
    backlog = []
    for p in prog:
        t = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        rel = sum(1 for r in res["released"] if r is not None and r <= t)
        com = sum(1 for v in res["visible"] if v is not None and v <= t)
        backlog.append(rel - com)
    return {"stream.trigger_overhead_s": median(over),
            "stream.files_per_batch": sum(per_batch) / max(len(per_batch), 1),
            "stream.backlog_files": float(max(backlog))}


def layer_metrics(tracer, jobs, wl, res_t: dict) -> tuple[dict, list[str]]:
    """Per-layer metrics and the printed self-time table, from the traced
    window's spans and the Spark jobs attributed to them."""
    from spans import attribute_jobs, covered, median, self_times

    spans = [s for s in tracer.spans if s.end is not None]
    by_id = {s.id: s for s in spans}
    st = self_times(spans)

    def root(s):
        while s is not None and s.name not in wl.batch_spans:
            s = by_id.get(s.parent)
        return s

    batches = [s for s in spans if s.name in wl.batch_spans and root(by_id.get(s.parent)) is None]
    nb = max(len(batches), 1)
    in_batch = [s for s in spans if root(s) is not None]
    layers: dict[str, dict] = {}
    for s in in_batch:
        lay = layers.setdefault(s.name, {"calls": 0, "self": 0.0, "dur": 0.0, "jobs": 0,
                                         "exec": 0.0})
        lay["calls"] += 1
        lay["self"] += st[s.id]
        lay["dur"] += s.dur
    by_span = attribute_jobs(jobs, spans, wl.batch_spans)
    batch_jobs: dict[int, list] = {}
    for sid, js in by_span.items():
        s = by_id[sid]
        b = root(s)
        if b is None:
            continue
        batch_jobs.setdefault(b.id, []).extend(js)
        lay = layers.get(s.name)
        if lay is not None:
            lay["jobs"] += len(js)
            lay["exec"] += sum(j.run_s for j in js)
    all_jobs = [j for js in batch_jobs.values() for j in js]

    def tot(name, key="self"):
        return layers.get(name, {}).get(key, 0.0)

    def count_sum(name, key):
        return sum(s.counts.get(key, 0) or 0 for s in in_batch if s.name == name)

    merges = [s for s in in_batch if s.name == "merge.merge_into"]
    joined = sum(s.counts.get("joined_rows", 0) or 0 for s in merges)
    useful = sum(sum(s.counts.get(k, 0) or 0 for k in ("inserted", "updated", "deleted",
                                                       "tombstoned")) for s in merges)
    after_dedup = sum((s.counts.get("joined_rows", 0) or 0) - (s.counts.get("carried", 0) or 0)
                      + (s.counts.get("rows", 0) or 0) for s in merges)
    events_in = res_t["events_in"]
    commits = [s for s in in_batch if s.name == "lake.commit"]
    fanout_wall = sum(s.dur for s in batches if s.name == "pipeline.fanout")
    stream_apply = tot("pipeline.stream_apply", "dur")
    serial = [1.0 - covered([(j.submitted, j.completed) for j in batch_jobs.get(b.id, [])],
                            b.start, b.end) / b.dur for b in batches if b.dur > 0]
    m = {
        "pipeline.batch_s": median([b.dur for b in batches]) if batches else 0.0,
        "pipeline.fanout_overlap": stream_apply / fanout_wall if fanout_wall else 1.0,
        "pipeline.unattributed_s": sum(st[b.id] for b in batches) / nb,
        **stream_stats(res_t),
        "singer.control_collect_s": tot("singer.control_collect") / nb,
        "drift.reconcile_s": tot("drift.reconcile") / nb,
        "merge.self_s": tot("merge.merge_into") / nb,
        "merge.useful_frac": useful / joined if joined else 1.0,
        "dedup.in_per_out": events_in / after_dedup if after_dedup else 0.0,
        "lake.write_s": tot("lake.write") / nb,
        "lake.commit_s": tot("lake.commit") / nb,
        "lake.buckets_rewritten": count_sum("lake.commit", "buckets") / nb,
        "lake.files_added": count_sum("lake.commit", "files") / nb,
        "lake.bytes_written_per_event":
            count_sum("lake.commit", "bytes") / events_in if events_in else 0.0,
        "lake.compact_s": tot("lake.compact", "dur") / nb,
        "lake.compactions": float(tot("lake.compact", "calls")),
        "lake.delta_chain_max": float(max((s.counts.get("chain", 0) for s in commits), default=0)),
        "lake.read_s": median(res_t["reads"]) if res_t["reads"] else None,
        "spark.jobs": len(all_jobs) / nb,
        "spark.tasks": sum(j.tasks for j in all_jobs) / nb,
        "spark.executor_run_s": sum(j.run_s for j in all_jobs) / nb,
        "spark.shuffle_read_bytes": sum(j.shuffle_read for j in all_jobs) / nb,
        "spark.shuffle_write_bytes": sum(j.shuffle_write for j in all_jobs) / nb,
        "spark.input_bytes": sum(j.input_bytes for j in all_jobs) / nb,
        "spark.driver_serial_frac": sum(serial) / len(serial) if serial else 0.0,
    }
    batch_wall = sum(b.dur for b in batches)
    lines = [f"# per-layer self time, {wl.name}: {len(batches)} batches, "
             f"batch wall p50 {m['pipeline.batch_s']:.3f} s; per-stream layers run "
             f"in parallel, so their shares of batch wall can sum past 100%",
             f"# {'layer':<26}{'calls':>7}{'self_s/batch':>14}{'share':>8}"
             f"{'jobs/batch':>12}{'exec_s/batch':>14}"]
    for name, lay in sorted(layers.items(), key=lambda kv: -kv[1]["self"]):
        label = "unattributed (batch self)" if name in wl.batch_spans else name
        lines.append(f"# {label:<26}{lay['calls']:>7}{lay['self'] / nb:>14.4f}"
                     f"{lay['self'] / batch_wall if batch_wall else 0:>8.1%}"
                     f"{lay['jobs'] / nb:>12.2f}{lay['exec'] / nb:>14.3f}")
    return m, lines


# --------------------------------------------------------------------- main


def run(args, work: str, cache: str) -> tuple[dict, list[str]]:
    import inputs
    import workloads
    from spans import Tracer, median, spark_jobs

    bench = Bench(work)
    report: list[str] = []
    wl = None
    try:
        phase = {"jvm": bench.session(MASTER)}
        t0 = time.time()
        meta = inputs.prepare(bench.spark, args.workload, args.seed, cache)
        phase["inputs"] = time.time() - t0
        wl = workloads.WORKLOADS[args.workload](meta, work)
        # the warm-up runs first, on tables of its own: timed set-ups that
        # followed input generation or not (a cached seed) then start from
        # the same JVM state
        t0 = time.time()
        wl.warm_up(bench.spark, wl.setup(bench.spark))
        phase["warm_up"] = time.time() - t0
        setups = []
        for _ in range(N_SETUP):
            sess = bench.session(MASTER)
            t0 = time.time()
            state = wl.setup(bench.spark)
            setups.append({"session": sess, "preload": time.time() - t0, "state": state})
        for s in setups:
            s["total"] = s["session"] + s["preload"]
        setup_s = median([s["total"] for s in setups])
        conf = dict(bench.spark.sparkContext.getConf().getAll())
        fails = workloads.Failures()
        if not args.trace:
            # both scaling passes start from the first set-up's tables, as
            # preloaded; the copy is made once, outside every timed interval
            scale4 = setups[0]["state"]["path"]
            scale1 = scale4 + "-scale1"
            shutil.copytree(scale4, scale1)
            t0 = time.time()
            res = wl.window(bench.spark, setups[-1]["state"], args.seconds, fails)
            phase["window"] = time.time() - t0
            t0 = time.time()
            eps4, tables = wl.closed_loop(bench.spark, scale4, fails)
            res["tables"] += tables
            bench.session("local[1]")
            eps1, tables = wl.closed_loop(bench.spark, scale1, fails)
            res["tables"] += tables
            phase["scaling"] = time.time() - t0
        else:
            t0 = time.time()
            half = args.seconds / 2.0
            res_u = wl.window(bench.spark, setups[-2]["state"], half, fails, share=0.5)
            # each half is the first window of its session, so first-batch
            # costs do not land in the untraced half only
            bench.session(MASTER)
            tracer = Tracer(bench.spark.sparkContext)
            install_tracing(tracer)
            try:
                res = wl.window(bench.spark, setups[-1]["state"], half, fails, share=0.5)
            finally:
                tracer.uninstall()
            res["tables"] += res_u["tables"]
            phase["window"] = time.time() - t0
            jobs = spark_jobs(bench.spark.sparkContext)
        pid = bench.jvm_pid()
        rss = _hwm_mb(pid) if pid else 0.0
    finally:
        if wl is not None and hasattr(wl, "stop"):
            wl.stop()
        bench.close()
    rss += _hwm_mb("self")

    import oracle

    t0 = time.time()
    for path, max_lsn, stream in res["tables"]:
        r = oracle.compare(wl.oracle_events(), path, max_lsn=max_lsn, stream=stream)
        if not r["ok"]:
            fails.failed += 1
            fails.errors.append(f"oracle mismatch in {os.path.relpath(path, work)}: {r}")
    phase["oracle"] = time.time() - t0
    problems: list[str] = []
    if args.trace:
        metrics, report = layer_metrics(tracer, jobs, wl, res)

        def overhead():
            val, higher = _primary(wl.name, res)
            ref, _ = _primary(wl.name, res_u)
            return (ref / val - 1.0) if higher else (val / ref - 1.0)

        metrics["trace.overhead_frac"] = _guard(problems, "trace.overhead_frac", overhead)
        metrics.update({
            "setup.session_s": median([s["session"] for s in setups]),
            "setup.warmup_s": phase["warm_up"],
            "setup.preload_s": median([s["preload"] for s in setups]),
        })
        units = dict(PER_LAYER)
        os.makedirs(os.path.join(os.path.dirname(work), "traces"), exist_ok=True)
        tracer.dump(os.path.join(os.path.dirname(work), "traces",
                                 f"{wl.name}-s{args.seed}-{int(time.time())}.json"),
                    {"metrics": metrics})
    else:
        metrics = e2e_metrics(res, setup_s, eps4, eps1, rss, problems)
        units = dict(E2E)
    problems += [f"{k}: not computed" for k in units
                 if metrics.get(k) is None and not any(p.startswith(k + ":") for p in problems)]
    fails.errors += problems
    # a run with a failed batch, an oracle mismatch or a metric it could
    # not compute is reported, counts and all, but never as correct
    correct = not fails.failed and not problems
    report.insert(0, "# run " + json.dumps({
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "master": MASTER, "phases_s": {k: round(v, 2) for k, v in phase.items()},
        "setups_s": [round(s["total"], 3) for s in setups],
        "attempted": fails.attempted, "failed": fails.failed,
        "samples": {"freshness": len(res["fresh"]) if res["fresh_w"] is None
                    else sum(res["fresh_w"]), "reads": len(res["reads"])},
        "tail_generator_late_s": res.get("late_s"), "reference_s": res.get("reference_s"),
        "tail_files_per_batch": res.get("batch_files"), "errors": fails.errors[:5],
    }))
    report.append("# spark conf " + json.dumps(
        {k: v for k, v in sorted(conf.items()) if k.startswith(("spark.sql.", "spark.driver.m"))}))
    out = {
        "correct": correct, "attempted": max(fails.attempted, 1), "failed": fails.failed,
        "metrics": {k: {"value": None if metrics.get(k) is None else float(metrics[k]),
                        "unit": units[k]} for k in units},
    }
    return out, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tail_singer", "mor_read_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "pipelinewise_spark", "__init__.py")):
        print(f"perfbench: no pipelinewise_spark package under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    host = {"before": host_record()}
    try:
        out, report = run(args, work, os.path.join(base, "cache"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host["after"] = host_record()
    host["steal_during_run_s"] = host["after"]["steal_s"] - host["before"]["steal_s"]
    for line in report:
        print(line)
    print("# host " + json.dumps(host))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except Exception:  # noqa: BLE001 -- report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
