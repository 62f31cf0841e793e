#!/usr/bin/env python
"""Pipeline status CLI — the ``pipelinewise status`` analog
(reference: pipelinewise/cli/pipelinewise.py:971-1008, which tabulates
every imported tap with its enabled/last-sync state).

Walks a lake root, finds every LakeTable (any dir holding
``_manifests/``) and every persisted ANN index (any dir holding
``index.json``), and prints one status row each: current version, live
files/bytes, merge-on-read delta pressure, the last commit's operation
+ I/U/D metrics + age, and the stream bookmarks — plus, for indexes,
the feed watermark and the drift probe's verdict.

PURE driver-side: reads only manifests and ``os.path.getsize`` — no
SparkSession, no data scan — so it answers instantly even on a lake
whose tables hold terabytes (status cost scales with file COUNT, the
same envelope as planning a query, not with data volume). Local /
mounted filesystems only (it walks with ``os``): object-store lakes
need their fuse mount or a driver-side variant; a URI root is rejected
loudly rather than reported as an empty lake.

Usage:

    python jobs/status.py --root /mnt/lake                 # all tables
    python jobs/status.py --root /mnt/lake/transcripts     # one table
    python jobs/status.py --root /mnt/lake --json          # machine-readable
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def find_tables(root: str) -> list[str]:
    """Every dir under ``root`` (inclusive) that is a LakeTable."""
    out = []
    for dirpath, dirnames, _ in os.walk(root):
        if "_manifests" in dirnames:
            out.append(dirpath)
            # a table's data dirs can't nest another table
            dirnames[:] = []
    return sorted(out)


#: the index kinds this engine persists; anything else holding an
#: ``index.json`` is a foreign artifact the walk must not claim
INDEX_KINDS = frozenset({"pq", "ivf", "minhash"})


def find_indexes(root: str) -> list[str]:
    """Every dir under ``root`` (inclusive) holding an ``index.json``
    of a RECOGNIZED kind. An unrelated or unparseable ``index.json``
    (some other tool's artifact under the lake root) is skipped and its
    subtree keeps being walked — it must neither abort the whole status
    command nor get its subdirs vacuumed by ``vacuum --indexes``."""
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        if "index.json" in filenames:
            try:
                with open(os.path.join(dirpath, "index.json")) as fh:
                    kind = json.load(fh).get("kind")
            except (OSError, ValueError, AttributeError):
                kind = None
            if kind in INDEX_KINDS:
                out.append(dirpath)
                dirnames[:] = []  # codes LakeTables inside are part of it
    return sorted(out)


def _base_bytes(t) -> int:
    """On-disk bytes of the table's base files (a stat per file)."""
    total = 0
    for fl in t.manifest["buckets"].values():
        for rel in fl:
            try:
                total += os.path.getsize(os.path.join(t.path, rel))
            except OSError:
                pass
    return total


def table_status(path: str, root: str) -> dict:
    from pipelinewise_spark.lake.table import LakeTable

    t = LakeTable(None, path)  # manifest-only: no SparkSession needed
    m = t.manifest
    s = m.get("summary", {}) or {}
    mm = s.get("metrics", {}) or {}
    files = sum(len(v) for v in m.get("buckets", {}).values())
    pressure = t.delta_pressure()
    rel = os.path.relpath(path, root) if path != root else os.path.basename(
        path.rstrip("/"))
    return {
        "table": rel,
        "version": t.version,
        "keys": ",".join(t.key_cols) or "(append-only)",
        "num_buckets": t.num_buckets,
        "files": files,
        "bytes": _base_bytes(t),
        "delta_files": pressure["files"],
        "delta_max_chain": pressure["max_chain"],
        "last_operation": s.get("operation"),
        "last_commit_age_sec": (
            round(time.time() - float(m["created_at"]), 1)
            if m.get("created_at") else None
        ),
        "last_metrics": {
            k: mm[k]
            for k in ("inserted", "updated", "deleted", "tombstoned")
            if mm.get(k) is not None
        },
        "bookmarks": t.bookmarks,
    }


def index_status(path: str, root: str) -> dict:
    from pipelinewise_spark.functions import ann_index

    doc = ann_index._load_doc_any(path)
    rel = os.path.relpath(path, root) if path != root else os.path.basename(
        path.rstrip("/"))
    return {
        "index": rel,
        "kind": doc.get("kind"),
        "id_col": doc.get("id_col"),
        "feed_lsn_watermark": doc.get("feed_lsn_watermark"),
        "fit_error": doc.get("fit_error"),
        "delta_rows_since_fit": doc.get("delta_rows_sum"),
        "needs_retrain": ann_index.needs_retrain(path),
    }


def _fmt_bytes(n: int) -> str:
    for unit in ("B", "KB", "MB", "GB", "TB"):
        if n < 1024 or unit == "TB":
            return f"{n:.1f}{unit}" if unit != "B" else f"{n}{unit}"
        n /= 1024
    return f"{n}B"


def _print_table(rows: list[dict], cols: list[tuple[str, str]]) -> None:
    """Plain aligned columns — the reference uses tabulate('simple');
    same shape without the dependency."""
    headers = [h for h, _ in cols]
    body = []
    for r in rows:
        line = []
        for _, key in cols:
            v = r.get(key)
            if key == "bytes" and v is not None:
                v = _fmt_bytes(v)
            elif isinstance(v, dict):
                v = json.dumps(v, separators=(",", ":"))
            line.append("-" if v is None else str(v))
        body.append(line)
    widths = [
        max(len(headers[i]), *(len(b[i]) for b in body)) if body
        else len(headers[i])
        for i in range(len(headers))
    ]
    print("  ".join(h.ljust(w) for h, w in zip(headers, widths)))
    print("  ".join("-" * w for w in widths))
    for b in body:
        print("  ".join(c.ljust(w) for c, w in zip(b, widths)))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--root", required=True,
                   help="lake root (or a single table/index path)")
    p.add_argument("--json", action="store_true", dest="as_json",
                   help="one JSON object (tables + indexes) on stdout")
    args = p.parse_args(argv)

    if "://" in args.root:
        p.error(f"{args.root}: object-store URIs are not walkable with "
                f"os; point --root at a local/mounted path")
    root = os.path.abspath(args.root)
    table_dirs = find_tables(root)
    index_dirs = find_indexes(root)
    # a PQ/IVF index's codes dir IS a LakeTable; fold it out of the
    # table listing BEFORE the per-table stat work (it's reported
    # through its index row). Absolute-path containment with a
    # separator boundary: `emb_legacy` must not fold under index `emb`,
    # and a --root pointing AT an index folds its codes table too.
    table_dirs = [
        t for t in table_dirs
        if not any(t == i or t.startswith(i + os.sep) for i in index_dirs)
    ]
    tables = [table_status(t, root) for t in table_dirs]
    indexes = [index_status(i, root) for i in index_dirs]

    if args.as_json:
        print(json.dumps({"tables": tables, "indexes": indexes}))
        return 0

    _print_table(tables, [
        ("Table", "table"), ("Ver", "version"), ("Keys", "keys"),
        ("Buckets", "num_buckets"), ("Files", "files"), ("Size", "bytes"),
        ("Deltas", "delta_files"), ("Last Op", "last_operation"),
        ("Age(s)", "last_commit_age_sec"), ("Last I/U/D", "last_metrics"),
        ("Bookmarks", "bookmarks"),
    ])
    print(f"{len(tables)} table(s)")
    if indexes:
        print()
        _print_table(indexes, [
            ("Index", "index"), ("Kind", "kind"), ("Id", "id_col"),
            ("Watermark", "feed_lsn_watermark"), ("FitErr", "fit_error"),
            ("DeltaRows", "delta_rows_since_fit"),
            ("NeedsRetrain", "needs_retrain"),
        ])
        print(f"{len(indexes)} index(es)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
