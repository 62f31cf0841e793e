"""Project-config loader: the reference's tap YAML → a wired engine.

PipelineWise's primary UX is a YAML project (``pipelinewise import`` +
``run_tap``): one file per tap declaring connection, target, and a
``schemas[].tables[]`` mapping with per-table ``replication_method``,
``replication_key`` and load-time ``transformations`` (samples:
``cli/samples/tap_mysql_mariadb.yml.sample``; loader ``cli/config.py``;
stream splitting ``cli/pipelinewise.py:172-368``). A user switching to
this engine keeps that file: :func:`build_project` turns the SAME shape
into LakeTables + compiled transformations + a
:class:`~pipelinewise_spark.cdc.pipeline.MultiStreamPipeline`, and
returns reader SPECS for each table's replication method so the caller
can bind live connections where they exist (JDBC / Kafka / files) — the
sandbox has no live databases, so specs are data, not connections.

Vault-encrypted values (``!vault`` inline scalars or a whole-file
envelope) decrypt at load time when the caller passes the project's
vault password file — the reference's ``load_yaml(file, vault_secret)``
(``cli/utils.py:174-210``), served here by
:mod:`pipelinewise_spark.vault`. Without a secret, encrypted input
still fails loudly rather than flowing downstream as ciphertext.
Connector types outside the engine's source surface are rejected.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import SparkSession

from pipelinewise_spark.cdc.pipeline import CdcPipeline, MultiStreamPipeline
from pipelinewise_spark.lake.table import LakeTable
from pipelinewise_spark.transform.compiler import compile_transformations

#: tap ``type`` → the sources module that serves its reads.
SUPPORTED_TAP_TYPES = {
    "tap-mysql": "jdbc",
    "tap-postgres": "jdbc",
    "tap-oracle": "jdbc",
    "tap-snowflake": "jdbc",
    "tap-kafka": "kafka",
    "tap-s3-csv": "files",
    "tap-mongodb": "mongo",
    # the SaaS family: one generic REST incremental reader
    # (sources/rest.py) — endpoint paths/pagination are per-table
    # CONFIG, not baked-in catalogs (see rest.py docstring)
    "tap-github": "rest",
    "tap-jira": "rest",
    "tap-zendesk": "rest",
    "tap-slack": "rest",
    "tap-mixpanel": "rest",
    "tap-twilio": "rest",
    "tap-salesforce": "rest",
    "tap-rest": "rest",
}

#: REST base URLs that are unambiguous per service; every other REST
#: tap (site-/subdomain-scoped APIs) must set ``db_conn.base_url``.
_REST_BASE_DEFAULT = {
    "tap-github": "https://api.github.com",
    "tap-slack": "https://slack.com/api",
    "tap-twilio": "https://api.twilio.com",
}

#: per-dialect JDBC URL templates — a spec must never render a URL that
#: is silently wrong for its engine.
_JDBC_URL = {
    "tap-mysql": "jdbc:mysql://{host}:{port}/{dbname}",
    "tap-postgres": "jdbc:postgresql://{host}:{port}/{dbname}",
    "tap-oracle": "jdbc:oracle:thin:@//{host}:{port}/{dbname}",
    "tap-snowflake": "jdbc:snowflake://{host}/?db={dbname}",
}

REPLICATION_METHODS = ("LOG_BASED", "INCREMENTAL", "FULL_TABLE")


def _vault_loader(password: str):
    """A SafeLoader subclass whose ``!vault`` constructor decrypts the
    tagged scalar with ``password`` — the same YAML surface ansible's
    ``AnsibleLoader`` gives the reference (``cli/utils.py:202``)."""
    import yaml

    from pipelinewise_spark import vault as _vault

    class _Loader(yaml.SafeLoader):
        pass

    def _construct(loader, node):
        return _vault.decrypt_text(loader.construct_scalar(node), password)

    _Loader.add_constructor("!vault", _construct)
    return _Loader


def load_yaml(path_or_text: str, vault_secret: str | None = None) -> Any:
    """Parse a project YAML file (any shape). A single-line argument is
    treated as a PATH (missing → FileNotFoundError, not a misleading
    parse error — the CLI always passes a path); multi-line input parses
    as literal YAML text (test fixtures).

    ``vault_secret`` is the path to the vault password file (the
    reference's ``--secret``): with it, ``!vault``-tagged scalars — and
    a whole-file vault envelope — decrypt in place; without it,
    encrypted input fails loudly rather than flowing downstream as
    ciphertext."""
    import yaml

    from pipelinewise_spark import vault as _vault

    if "\n" not in path_or_text:
        with open(path_or_text) as fh:  # raises FileNotFoundError cleanly
            text = fh.read()
    else:
        text = path_or_text
    password = (
        _vault.load_secret_file(vault_secret) if vault_secret else None
    )
    if _vault.is_vault(text):
        if password is None:
            raise ValueError(
                "project file is vault-encrypted; pass the vault password "
                "file (--secret)"
            )
        text = _vault.decrypt_text(text, password)
    if password is not None:
        return yaml.load(text, Loader=_vault_loader(password))
    try:
        return yaml.safe_load(text)
    except yaml.constructor.ConstructorError as e:
        # the ONLY unknown tag we translate: a real !vault scalar (a
        # "!vault" inside a comment or quoted string is fine)
        if "!vault" in str(e):
            raise ValueError(
                "project file contains vault-encrypted values; pass the "
                "vault password file (--secret) to decrypt them"
            ) from e
        raise


def load_tap_yaml(path_or_text: str, vault_secret: str | None = None) -> dict:
    """:func:`load_yaml` + the tap-config shape check."""
    cfg = load_yaml(path_or_text, vault_secret)
    if not isinstance(cfg, dict) or "schemas" not in cfg:
        raise ValueError("not a PipelineWise tap config (no 'schemas' key)")
    return cfg


def _stream_id(source_schema: str, table: dict) -> str:
    # the reference's tap_stream_id format: "<schema>-<table>"
    return f"{source_schema}-{table['table_name']}"


def stream_ids(cfg: dict) -> list[str]:
    """Every stream id a :func:`build_project` call over ``cfg`` will
    key its tables by — the ONE derivation (callers validating stream
    selections, e.g. run_cdc --sync-tables, must use this rather than
    re-deriving the format)."""
    return [
        _stream_id(s["source_schema"], t)
        for s in cfg.get("schemas", [])
        for t in s.get("tables", []) or []
    ]


def _transform_config(table: dict) -> list[dict]:
    """YAML ``transformations`` (column/type/when) → the transform-field
    JSON shape (field_id/type/when) the compiler takes — the same
    translation ``cli/config.py`` does when generating connector JSONs."""
    out = []
    for t in table.get("transformations", []) or []:
        entry = {"field_id": t["column"], "type": t["type"]}
        if t.get("when"):
            entry["when"] = t["when"]
        out.append(entry)
    return out


def reader_spec(cfg: dict, source_schema: str, table: dict) -> dict:
    """The read plan for one table, as data:

    - ``module`` / ``function`` — which
      ``pipelinewise_spark.sources.<module>.<function>`` serves the
      table's ``replication_method``;
    - ``kwargs`` — every argument derivable from the YAML, verbatim;
    - ``required_at_bind`` — arguments the YAML cannot know (snapshot
      partition bounds from a max-PK probe, the current bookmark, a
      live change-stream DataFrame): the caller supplies these when
      binding ``<function>(spark, **kwargs, **bound)``. Listing them
      explicitly keeps the spec honest — nothing here renders a call
      that would TypeError or a URL that is silently wrong.

    LOG_BASED's spec is its INITIAL LOAD (``snapshot_reader`` — the
    FastSync path, like the reference routes bookmark-less LOG_BASED
    streams, ``cli/pipelinewise.py:172-368``); the continuous tail then
    runs through the streaming pipeline, not a batch reader."""
    method = table.get("replication_method", "FULL_TABLE")
    if method not in REPLICATION_METHODS:
        raise ValueError(
            f"{_stream_id(source_schema, table)}: unknown "
            f"replication_method {method!r}"
        )
    tap_type = cfg.get("type", "")
    if tap_type not in SUPPORTED_TAP_TYPES:
        raise ValueError(f"unsupported tap type {tap_type!r}")
    module = SUPPORTED_TAP_TYPES[tap_type]
    conn = cfg.get("db_conn", {}) or {}
    spec: dict[str, Any] = {
        "module": module,
        "method": method,
        "table": f"{source_schema}.{table['table_name']}",
        "required_at_bind": [],
    }
    if module == "jdbc":
        url = _JDBC_URL[tap_type].format(
            host=conn.get("host", ""),
            port=conn.get("port", ""),
            dbname=conn.get("dbname", ""),
        )
        spec["kwargs"] = {
            "url": url,
            "table": spec["table"],
            "fetchsize": int(conn.get("export_batch_rows", 50000)),
        }
        if method == "INCREMENTAL":
            key = table.get("replication_key")
            if not key:
                # the reference rejects this at import time too
                raise ValueError(
                    f"{_stream_id(source_schema, table)}: INCREMENTAL "
                    "requires replication_key"
                )
            spec["function"] = "incremental_reader"
            spec["kwargs"]["replication_key"] = key
            spec["required_at_bind"] = ["bookmark"]
        else:  # FULL_TABLE, and LOG_BASED's initial load
            spec["function"] = "snapshot_reader"
            spec["required_at_bind"] = [
                "partition_column", "lower_bound", "upper_bound",
            ]
    elif module == "kafka":
        spec["function"] = "kafka_stream_reader"
        spec["kwargs"] = {
            "bootstrap_servers": conn.get("bootstrap_servers", ""),
            "topic": conn.get("topic", ""),
        }
    elif module == "files":
        spec["function"] = "read_csv_batch"
        spec["kwargs"] = {
            "path": "s3a://%s/%s"
            % (conn.get("bucket", ""), conn.get("s3_key_prefix", "") or ""),
        }
    elif module == "mongo":
        # decode_change_stream takes the change-stream LINES DataFrame
        # (from db.watch() relayed through any transport), not a
        # connection — declared, not faked
        spec["function"] = "decode_change_stream"
        spec["kwargs"] = {}
        spec["required_at_bind"] = ["lines"]
    elif module == "rest":
        base_url = conn.get("base_url") or _REST_BASE_DEFAULT.get(tap_type)
        if not base_url:
            raise ValueError(
                f"{_stream_id(source_schema, table)}: {tap_type} needs "
                f"db_conn.base_url (site-/subdomain-scoped API)"
            )
        spec["function"] = "rest_reader"
        spec["kwargs"] = {
            "base_url": base_url,
            # endpoint path is per-table config; default to the
            # conventional /<table_name> listing
            "path": table.get("path") or f"/{table['table_name']}",
            "records_path": table.get("records_path", ""),
            "pagination": table.get("pagination", "link"),
            "stream": _stream_id(source_schema, table),
        }
        if method == "INCREMENTAL":
            key = table.get("replication_key")
            if not key:
                raise ValueError(
                    f"{_stream_id(source_schema, table)}: INCREMENTAL "
                    "requires replication_key"
                )
            spec["kwargs"]["replication_key"] = key
            spec["kwargs"]["since_param"] = table.get("since_param", "since")
            spec["required_at_bind"] = ["auth", "bookmark"]
        else:
            spec["required_at_bind"] = ["auth"]
    return spec


def build_project(
    spark: SparkSession,
    tap_config: dict | str,
    *,
    lake_root: str,
    schema_provider,
    num_buckets: int = 256,
    soft_delete: bool = False,
    max_concurrency: int = 4,
    widen: str = "version",
) -> dict:
    """Wire a whole tap project:

    - one :class:`LakeTable` per ``schemas[].tables[]`` entry at
      ``lake_root/<target_schema>/<table_name>`` (created if absent,
      with ``key_properties`` from the table entry or, failing that,
      from ``schema_provider``; keys are validated against the schema at
      WIRING time — a bad key fails here, not mid-stream);
    - the YAML ``transformations`` compiled per stream (T3-T7 DSL);
    - a :class:`MultiStreamPipeline` keyed by the reference's
      ``<source_schema>-<table_name>`` stream ids;
    - a reader spec per table (see :func:`reader_spec`).

    ``schema_provider(stream_id) -> (StructType, key_cols)`` supplies
    the payload schema — from catalog discovery
    (:mod:`pipelinewise_spark.singer.catalog`) in a live deployment, or
    a static mapping in tests. Returns
    ``{"pipeline", "tables", "readers", "batch_size_rows"}``."""
    cfg = (
        tap_config
        if isinstance(tap_config, dict)
        else load_tap_yaml(tap_config)
    )
    pipelines: dict[str, CdcPipeline] = {}
    tables: dict[str, LakeTable] = {}
    readers: dict[str, dict] = {}
    for schema in cfg["schemas"]:
        src = schema["source_schema"]
        tgt = schema.get("target_schema", src)
        for table in schema["tables"]:
            stream = _stream_id(src, table)
            struct, keys = schema_provider(stream)
            keys = table.get("key_properties", keys)
            missing = set(keys) - {f.name for f in struct.fields}
            if missing:
                raise ValueError(
                    f"{stream}: key_properties {sorted(missing)} not in "
                    f"the schema_provider schema "
                    f"({[f.name for f in struct.fields]})"
                )
            path = os.path.join(lake_root, tgt, table["table_name"])
            if LakeTable.exists(path):
                lt = LakeTable(spark, path)
                prop_soft = bool(
                    lt.manifest["properties"].get("soft_delete", False)
                )
                if bool(soft_delete) != prop_soft:
                    # fail at WIRING time with a clear message: the merge
                    # follows the table property, so the requested mode
                    # would otherwise be silently ignored
                    raise ValueError(
                        f"{stream}: soft_delete={soft_delete} contradicts "
                        f"existing table {path} (property={prop_soft})"
                    )
                if list(keys) != list(lt.key_cols):
                    # same wiring-time contract as soft_delete: a tap YAML
                    # whose key_properties drifted from the on-disk table
                    # must not silently merge on the OLD keys
                    raise ValueError(
                        f"{stream}: key_properties {list(keys)} contradict "
                        f"existing table {path} (key_cols={lt.key_cols}); "
                        f"recreate the table or fix the YAML"
                    )
            else:
                lt = LakeTable.create(
                    spark, path, struct, keys, num_buckets=num_buckets,
                    properties={"soft_delete": soft_delete}
                    if soft_delete
                    else None,
                )
            transform = None
            tconf = _transform_config(table)
            if tconf:
                transform = compile_transformations(tconf)
            # reference parity: validate_records=true raises on malformed
            # records (strict); the string forms select the engine's
            # modes directly, incl. the dead-letter "quarantine"
            vr = cfg.get("validate_records", False)
            validate = (
                vr if isinstance(vr, str)
                else ("strict" if vr else "permissive")
            )
            pipelines[stream] = CdcPipeline(
                lt, stream=stream, transform=transform,
                widen=widen,
                validate=validate,
                # multi-partition Kafka micro-batches follow per-
                # partition OFFSETS, not global LSN order — the LSN
                # prefix filter would drop a lagging partition's frames
                # as replays, so kafka taps wire it OFF automatically
                # (exactly-once = checkpoint + batch-id guard, the
                # reference tap_kafka's own bookmark model)
                filter_applied_lsn=(cfg.get("type") != "tap-kafka"),
            )
            tables[stream] = lt
            readers[stream] = reader_spec(cfg, src, table)
    return {
        "pipeline": MultiStreamPipeline(
            pipelines, max_concurrency=max_concurrency
        ),
        "tables": tables,
        "readers": readers,
        "batch_size_rows": int(cfg.get("batch_size_rows", 20000)),
    }
