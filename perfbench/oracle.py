"""Independent correctness oracle: DuckDB fold of the generated log compared
with the live files of a final table, both read without Spark.

The fold keeps, per ``(conv_id, turn_idx)``, the event with the highest
``lsn`` (equal-LSN rows are verbatim replays, so any of them may win) and
removes keys whose winning event is a hard delete. The table side reads
the newest manifest directly (``_manifests/v*.json``, plus per-bucket
segment files when the manifest is segmented), takes every base and delta
file it references, resolves merge-on-read deltas last-per-key by ``_lsn``
and drops tombstones. The two are compared per turn on ``text``.
"""

from __future__ import annotations

import json
import os

import duckdb

KEY = ("conv_id", "turn_idx")


def _manifest(table_path: str) -> dict:
    d = os.path.join(table_path, "_manifests")
    versions = sorted(
        n for n in os.listdir(d) if n.startswith("v") and n.endswith(".json")
    )
    if not versions:
        raise FileNotFoundError(f"no manifest under {d}")
    with open(os.path.join(d, versions[-1])) as fh:
        m = json.load(fh)
    for seg in (m.get("segments") or {}).values():
        with open(os.path.join(d, seg)) as fh:
            s = json.load(fh)
        m.setdefault("buckets", {}).update(s.get("buckets", {}))
        m.setdefault("deltas", {}).update(s.get("deltas", {}))
    return m


def _files(table_path: str, m: dict, key: str) -> list[str]:
    return [
        os.path.join(table_path, rel)
        for fl in (m.get(key) or {}).values()
        for rel in fl
    ]


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def compare(events: list[str], table_path: str, *, max_lsn: int | None = None,
            stream: str | None = None, examples: int = 3) -> dict:
    """Fold the events in parquet files ``events`` (only those with
    ``lsn <= max_lsn`` and, if given, of ``stream``) and compare with the
    table at ``table_path``. Returns the mismatch counts; ``ok`` is true
    when every count is zero."""
    m = _manifest(table_path)
    phys = {f["logical"]: f["physical"] for f in m["fields"]}
    base, delta = _files(table_path, m, "buckets"), _files(table_path, m, "deltas")
    con = duckdb.connect()
    try:
        where = ["TRUE"]
        if max_lsn is not None:
            where.append(f"lsn <= {int(max_lsn)}")
        if stream is not None:
            where.append("stream = '" + stream.replace("'", "''") + "'")
        con.execute(f"""
            CREATE TEMP VIEW oracle AS
            SELECT conv_id, turn_idx, text FROM (
                SELECT conv_id, turn_idx, text, op, row_number() OVER (
                    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
                FROM read_parquet({_sql_list(events)})
                WHERE {' AND '.join(where)})
            WHERE rn = 1 AND op <> 'D'""")
        cols = (
            f'"{phys["conv_id"]}" AS conv_id, "{phys["turn_idx"]}" AS turn_idx, '
            f'"{phys["text"]}" AS text, "{phys["_lsn"]}" AS lsn, '
            f'"{phys["_sdc_deleted_at"]}" AS deleted_at'
        )
        parts = []
        if base:
            parts.append(f"SELECT {cols}, 0 AS is_delta FROM read_parquet("
                         f"{_sql_list(base)}, union_by_name = true)")
        if delta:
            parts.append(f"SELECT {cols}, 1 AS is_delta FROM read_parquet("
                         f"{_sql_list(delta)}, union_by_name = true)")
        if not parts:
            parts.append("SELECT NULL::VARCHAR AS conv_id, NULL::INT AS turn_idx, "
                         "NULL::VARCHAR AS text, NULL::BIGINT AS lsn, "
                         "NULL::TIMESTAMP AS deleted_at, 0 AS is_delta WHERE FALSE")
        con.execute("CREATE TEMP VIEW raw AS " + " UNION ALL ".join(parts))
        dup_base = con.execute("""
            SELECT count(*) FROM (SELECT conv_id, turn_idx FROM raw
            WHERE is_delta = 0 GROUP BY ALL HAVING count(*) > 1)""").fetchone()[0]
        con.execute("""
            CREATE TEMP VIEW live AS
            SELECT conv_id, turn_idx, text FROM (
                SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                    ORDER BY lsn DESC, is_delta DESC) AS rn FROM raw)
            WHERE rn = 1 AND deleted_at IS NULL""")
        diff = con.execute("""
            SELECT o.conv_id, o.turn_idx, l.conv_id, l.turn_idx, o.text, l.text
            FROM oracle o FULL OUTER JOIN live l
              ON o.conv_id = l.conv_id AND o.turn_idx = l.turn_idx
            WHERE o.conv_id IS NULL OR l.conv_id IS NULL
               OR o.text IS DISTINCT FROM l.text""").fetchall()
        expected = con.execute("SELECT count(*) FROM oracle").fetchone()[0]
    finally:
        con.close()
    missing = [d for d in diff if d[2] is None]
    extra = [d for d in diff if d[0] is None]
    changed = [d for d in diff if d[0] is not None and d[2] is not None]
    return {
        "ok": not diff and not dup_base,
        "rows": expected,
        "missing": len(missing),
        "extra": len(extra),
        "changed": len(changed),
        "duplicate_keys": dup_base,
        "examples": [list(d) for d in diff[:examples]],
    }
