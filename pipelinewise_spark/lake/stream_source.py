"""LakeTable as a first-class Spark STREAMING SOURCE (Python Data Source
API, Spark 4): ``spark.readStream.format("laketable")`` tails a table's
commit log — offsets are manifest versions, each micro-batch is the rows
the commits in ``(start, end]`` added.

This is the downstream half of the CDC story: the merge writes the
table exactly-once; consumers (a training-data pipeline, a replica
builder) tail it as a change feed with the SAME exactly-once guarantee,
because the offset range maps to immutable manifest versions and a
replayed range re-reads identical files. The reference has no analog —
its consumers poll warehouse tables by ``_sdc_*`` columns; here the
feed is a native ``readStream`` with checkpointed offsets.

Semantics (documented, not hidden):
- feed unit = FILES ADDED per commit (CoW bucket rewrites re-emit the
  rewritten buckets' rows — a bucket-level changelog; MoR delta appends
  and append-only tables emit exactly the batch rows). Downstream
  last-per-key folding collapses re-emits, same as any CDC consumer. A
  copy-on-write batch reaches the feed with its fold, which re-emits
  every row of its delta commit (``operation="merge_delta"``, skipped
  here); a batch whose fold was lost reaches it with the next fold or
  compaction of its buckets.
- EXECUTOR-PARALLEL reads: the driver plans InputPartitions from
  manifest JSON only (O(commits) small reads); parquet decode runs in
  Spark tasks. Consecutive small files PACK into shared partitions up
  to ``maxBytesPerPartition`` (64 MB default) so partition count scales
  with data volume, not file count — a commit of 200 tiny bucket files
  is a handful of tasks, a commit of 200 big files fans out across the
  cluster. At 100 TB this is the difference between a feed that keeps
  up and a driver bottleneck.
- offsets never move backward: a manifest rollback / table re-create
  under a live checkpoint fails loudly instead of re-emitting
  delivered ranges.

Register once per session::

    spark.dataSource.register(LakeTableStreamSource)
    df = (spark.readStream.format("laketable")
          .option("path", table.path).load())
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from pipelinewise_spark.lake.table import (
    _struct_from_fields,
    manifest_versions,
    read_manifest,
)


class _LakeTableStreamReader(DataSourceStreamReader):
    """Partition-planning reader: offsets = manifest versions; added
    files pack into byte-budgeted InputPartitions; parquet decode runs
    in executor tasks (the driver never opens a data file)."""

    def __init__(self, schema: StructType, options: dict):
        opts = {k.lower(): v for k, v in options.items()}
        self.path = os.path.abspath(options["path"])
        self.fields = read_manifest(
            self.path, manifest_versions(self.path)[-1]
        )["fields"]
        # small files PACK into shared partitions up to this many bytes
        # (per-task Python-worker startup dominates tiny-file reads —
        # packing amortizes it; a big file still gets its own task)
        self.max_bytes = int(opts.get("maxbytesperpartition", 64 << 20))
        # highest version this reader has observed — rollback tripwire
        self._max_seen = -1

    def initialOffset(self) -> dict:
        # start tailing AFTER the current version by default ("latest",
        # the change-feed convention); option startingVersion=0 replays
        # history from the beginning
        return {"version": manifest_versions(self.path)[-1]}

    def latestOffset(self) -> dict:
        latest = manifest_versions(self.path)[-1]
        if latest < self._max_seen:
            raise RuntimeError(
                f"change-feed table at {self.path} moved backward "
                f"(latest manifest v{latest} < previously observed "
                f"v{self._max_seen}): rolled back or re-created; restart "
                f"the consumer with a fresh checkpoint"
            )
        self._max_seen = latest
        return {"version": latest}

    def _added_files(self, after: int, upto: int) -> list[tuple[str, int]]:
        rels: list[tuple[str, int]] = []
        for v in range(after + 1, upto + 1):
            try:
                m = read_manifest(self.path, v)
            except FileNotFoundError:
                # vacuum(keep_versions=N) also drops superseded manifests
                # — a consumer lagging past retention must ERROR, never
                # silently thin the feed
                raise RuntimeError(
                    f"change-feed manifest v{v} was vacuumed; increase "
                    f"vacuum keep_versions above the consumer lag"
                )
            if m.get("summary", {}).get("operation") == "merge_delta":
                continue
            for ent in m.get("summary", {}).get("added_files", []):
                rels.append((ent["path"], int(ent.get("bytes") or 0)))
        return rels

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        if end["version"] < start["version"]:
            # checkpoint ahead of the table: rollback / re-create —
            # advancing (or silently emitting nothing) would corrupt the
            # exactly-once contract, so refuse
            raise RuntimeError(
                f"change-feed offset v{start['version']} is ahead of the "
                f"table's latest manifest v{end['version']}: the table "
                f"was rolled back or re-created; restart the consumer "
                f"with a fresh checkpoint"
            )
        # greedy pack in commit order: consecutive small files share a
        # partition — partition count scales with DATA VOLUME, not file
        # count (192 tiny bucket files in one range must not cost 192
        # Python-worker startups). The byte budget adapts DOWNWARD from
        # maxBytesPerPartition so a small batch still fans out across
        # the cluster instead of collapsing into one task: aim for
        # ~defaultParallelism partitions, floored at 1 MB/partition.
        files = self._added_files(start["version"], end["version"])
        total = sum(b for _, b in files)
        budget = self.max_bytes
        par = self._default_parallelism()
        if par > 1 and total > 0:
            # floor never exceeds an explicitly smaller maxBytesPerPartition
            floor = min(1 << 20, self.max_bytes)
            budget = min(self.max_bytes, max(floor, -(-total // par)))
        groups: list[list[str]] = []
        cur: list[str] = []
        cur_bytes = 0
        for rel, nbytes in files:
            if cur and cur_bytes + nbytes > budget:
                groups.append(cur)
                cur, cur_bytes = [], 0
            cur.append(rel)
            cur_bytes += nbytes
        if cur:
            groups.append(cur)
        return [InputPartition(g) for g in groups]

    @staticmethod
    def _default_parallelism() -> int:
        """Cluster parallelism hint for the packing budget. partitions()
        runs on the driver, where the active SparkContext is reachable;
        a conservative 1 (no downscaling) if it is not."""
        try:
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            return int(sc.defaultParallelism) if sc is not None else 1
        except Exception:
            return 1

    def read(self, partition: InputPartition):
        # runs in an EXECUTOR task — a byte-budgeted group of immutable
        # parquet files, yielded as ARROW RECORD BATCHES (zero per-row
        # Python: parquet pages → arrow → Spark's arrow ingestion; the
        # tuple-yield path would pickle every row through the worker)
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            from pyspark.sql.pandas.types import to_arrow_schema
        except ImportError:  # pragma: no cover - pyspark always ships it
            to_arrow_schema = None

        target = None
        if to_arrow_schema is not None:
            target = to_arrow_schema(
                _struct_from_fields(
                    [(f["logical"], f["type"]) for f in self.fields]
                )
            )
        for rel in partition.value:
            full = os.path.join(self.path, rel)
            try:
                t = pq.read_table(full)
            except FileNotFoundError:
                # vacuumed beyond retention — fail loudly rather than
                # silently dropping a slice of the feed
                raise RuntimeError(
                    f"change-feed file {rel} was vacuumed; increase "
                    f"vacuum keep_versions above the consumer lag"
                )
            if target is None:
                cols = []
                for f in self.fields:
                    p = f["physical"]
                    if p in t.column_names:
                        cols.append(t.column(p).to_pylist())
                    else:
                        cols.append([None] * t.num_rows)
                yield from zip(*cols)
                continue
            arrays = []
            for f, tf in zip(self.fields, target):
                p = f["physical"]
                if p in t.column_names:
                    # cast covers pre-promotion narrow pages (int32→
                    # int64) and timezone normalization in one step
                    arrays.append(
                        t.column(p).cast(tf.type).combine_chunks()
                    )
                else:  # pre-evolution file: logical column → NULL
                    arrays.append(pa.nulls(t.num_rows, type=tf.type))
            yield from pa.table(arrays, schema=target).to_batches()

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint; manifests are immutable —
        # nothing to clean up on our side
        pass


class LakeTableStreamSource(DataSource):
    """``spark.readStream.format("laketable").option("path", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "laketable"

    def schema(self) -> StructType:
        path = os.path.abspath(self.options["path"])
        fields = read_manifest(path, manifest_versions(path)[-1])["fields"]
        return _struct_from_fields(
            [(f["logical"], f["type"]) for f in fields]
        )

    def streamReader(self, schema: StructType):
        reader = _LakeTableStreamReader(schema, dict(self.options))
        if str(self.options.get("startingversion", self.options.get("startingVersion", ""))) != "":
            sv = int(
                self.options.get("startingversion")
                or self.options.get("startingVersion")
            )
            reader.initialOffset = lambda: {"version": sv}  # type: ignore[method-assign]
        return reader
