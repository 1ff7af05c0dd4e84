"""Spark 4 Python DataSource over the tx-log table (sources/txlog.py):
`spark.read.format("txlog")` snapshot reads and — the point —
`spark.readStream.format("txlog")`, the Delta-streaming-source
equivalent: COMMIT VERSIONS ARE THE OFFSETS, so the ACID table the
warehouse writes through tx_append/tx_sink_batch is directly a
replayable Structured Streaming source with exactly-once semantics
from the query checkpoint.

Why versions make perfect offsets: commits are dense, immutable, and
atomic (O_EXCL), so an offset {"v": N} names an exact, re-derivable
set of data files forever — partitions(start, end) re-reads the SAME
add-actions during recovery, and a replayed micro-batch yields
byte-identical rows. Removal commits (delete/merge/compact/restore)
are NOT representable as an append feed; the reader raises loudly and
routes the consumer to tx_changes — the tx_read_incremental contract,
now enforced inside the source itself.

Scan parallelism: one InputPartition per ADDED FILE (not per commit),
Arrow record batches across the Python->JVM boundary (the A12 lane).
Schema is pinned at query start from the table's committed schema;
files predating an additive evolution backfill the missing columns
with NULLs — the same mergeSchema contract read_table honors. The
converse (an evolution committed AFTER the query started) follows
Spark's pinned-query-schema rule: the new columns are ignored until
the query restarts and re-reads the table schema — standard
streaming-source behavior, not data loss (the files keep them).

Burst protection: `.option("maxVersionsPerBatch", N)` caps how far
latestOffset advances past this reader's last-seen position (the A12
shard reader's pacing discipline, including its measured caveat: the
4.1 runner asks latestOffset before initialOffset, so the first batch
of a fresh query is necessarily uncapped). `.option(
"maxBytesPerBatch", B)` paces by DATA VOLUME instead of commit count
(r13 verdict item 6: commits vary in size, so a resumed stream under
a count cap can still get one huge micro-batch): versions are
admitted while the batch's accumulated added-file bytes stay under B,
always at least one commit per batch so the stream can never stall.
Byte sizes come from the commit's recorded file stats (`bytes`,
written by _write_files since r14) with an os.path.getsize fallback
for older commits. Both caps compose — the tighter one wins."""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    _meta_at,
    _read_json_commit,
    _schema_ddl,
    latest_version,
    snapshot_files,
)

ARROW_BATCH_ROWS = 4096


def _table_schema_ddl(table: str, version: int | None = None) -> str:
    v = latest_version(table) if version is None else version
    if v < 0:
        raise ValueError(f"txlog source: {table} has no commits")
    fields = _meta_at(table, v)["schema"]
    if not fields:
        raise ValueError(
            f"txlog source: {table} records no schema at version {v}")
    # ONE renderer for the committed schema (txlog._schema_ddl): two
    # renderers diverging on quoting would break this source — and
    # only this source — for column names needing backticks
    return _schema_ddl(fields)


def _dv_positions(dv_dirs: list[str], rel_file: str):
    """Deleted row positions for one data file as a numpy int64 array,
    unioned across its deletion-vector dirs (pyarrow only — runs on
    the worker). Columnar end to end (ADVICE r13): the per-file match
    is a pushed-down parquet filter (row-group stats prune non-matching
    DV files before decode), not a Python row loop."""
    import glob as _glob

    import numpy as np
    import pyarrow.parquet as pq

    chunks = []
    for d in dv_dirs:
        for p in sorted(_glob.glob(os.path.join(d, "*.parquet"))):
            t = pq.read_table(p, columns=["pos"],
                              filters=[("file", "==", rel_file)])
            if t.num_rows:
                chunks.append(t.column("pos").to_numpy(
                    zero_copy_only=False))
    if not chunks:
        return None
    return np.unique(np.concatenate(chunks)).astype(np.int64)


def _conform_batches(path: str, schema: StructType,
                     dv_pos=None, colmap: dict | None = None,
                     part: dict | None = None):
    """Read one parquet data file and yield Arrow record batches
    conformed to the READER schema: columns reordered, files that
    predate an additive evolution get NULL-filled columns, types cast
    to the declared arrow types, deletion-vector positions (a numpy
    int64 array from _dv_positions) masked out with one vectorized
    boolean filter (runs on the WORKER — pyarrow only, no Spark).
    `colmap` maps the reader's LOGICAL names to the PHYSICAL names the
    files store (the txlog column-mapping contract — a renamed column
    reads its old on-disk name). `part` carries a hive-partitioned
    file's typed partition values (from the add-action's `_part`
    stats): partition columns live in directory names, not in the
    file, so they re-materialize here as constants."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    colmap = colmap or {}
    target = pa.schema([
        (f.name, to_arrow_type(f.dataType)) for f in schema.fields
    ])
    t = pq.read_table(path)
    if dv_pos is not None and len(dv_pos):
        import numpy as np

        keep = np.ones(t.num_rows, dtype=bool)
        keep[dv_pos] = False
        t = t.filter(pa.array(keep))
    n = t.num_rows
    part = part or {}
    cols = []
    for f in target:
        phys = colmap.get(f.name, f.name)
        if phys in t.column_names:
            cols.append(t.column(phys).cast(f.type))
        elif phys in part and part[phys] is not None:
            cols.append(pa.array([part[phys]] * n).cast(f.type))
        else:
            cols.append(pa.nulls(n, f.type))
    conformed = pa.table(cols, schema=target)
    for batch in conformed.to_batches(max_chunksize=ARROW_BATCH_ROWS):
        yield batch


class TxLogSource(DataSource):
    """format("txlog") — batch snapshot reads + the version-offset
    streaming source over a sources/txlog.py table."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("txlog source requires .option('path', table)")
        v = self.options.get("version")
        # time travel reads the contract AS OF the version — schema and
        # column mapping both (the read_table rule)
        return _table_schema_ddl(path, int(v) if v is not None else None)

    def reader(self, schema: StructType) -> "TxLogBatchReader":
        return TxLogBatchReader(schema, self.options)

    def streamReader(self, schema: StructType) -> "TxLogStreamReader":
        return TxLogStreamReader(schema, self.options)


class TxLogBatchReader(DataSourceReader):
    """Snapshot read through the log (time travel via
    .option('version', N)): one task per live file, Arrow lane. The
    stats-pruned `where=` path stays on read_table — this is the
    plugin surface, useful where the consumer speaks formats, not
    this library."""

    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._path = options.get("path")
        if not self._path:
            raise ValueError("txlog source requires .option('path', table)")
        v = options.get("version")
        self._version = int(v) if v is not None else None
        # logical→physical mapping at the read version (files store
        # physical names; the reader schema is logical)
        self._colmap = _meta_at(
            self._path,
            latest_version(self._path) if self._version is None
            else self._version)["colmap"]

    def partitions(self):
        live = snapshot_files(self._path, self._version)
        # partition value: (abs data file, relative name, abs DV dirs,
        # hive partition values) — the reader masks deletion-vector
        # positions and re-materializes partition columns worker-side
        return [
            InputPartition((
                os.path.join(self._path, f), f,
                [os.path.join(self._path, d)
                 for d in live[f].get("_dvs", [])],
                live[f].get("_part"),
            ))
            for f in sorted(live)
        ]

    def read(self, partition: InputPartition):
        path, rel, dv_dirs, part = partition.value
        if not dv_dirs:
            yield from _conform_batches(path, self._schema,
                                        colmap=self._colmap, part=part)
            return
        yield from _conform_batches(path, self._schema,
                                    _dv_positions(dv_dirs, rel),
                                    colmap=self._colmap, part=part)


class TxLogStreamReader(DataSourceStreamReader):
    """The tx log as a streaming source: offset {"v": N} = consumed
    THROUGH commit version N. `.option("startingVersion", K)` begins
    the feed at commit K (default 0 — the whole history-as-appends);
    a removal commit inside a planned range raises and names
    tx_changes; a cleaned (checkpointed-away) commit inside a range
    raises rather than silently skipping data."""

    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._path = options.get("path")
        if not self._path:
            raise ValueError("txlog source requires .option('path', table)")
        self._start = int(options.get("startingVersion", 0))
        mvb = options.get("maxVersionsPerBatch")
        self._max_versions = int(mvb) if mvb is not None else None
        if self._max_versions is not None and self._max_versions < 1:
            raise ValueError("maxVersionsPerBatch must be >= 1")
        mbb = options.get("maxBytesPerBatch")
        self._max_bytes = int(mbb) if mbb is not None else None
        if self._max_bytes is not None and self._max_bytes < 1:
            raise ValueError("maxBytesPerBatch must be >= 1")
        self._seen_v = None  # last version this INSTANCE has seen
        # pinned like the schema: a rename committed after query start
        # applies on restart (files keep physical names either way)
        self._colmap = _meta_at(self._path,
                                latest_version(self._path))["colmap"]

    def initialOffset(self) -> dict:
        self._seen_v = self._start - 1
        return {"v": self._start - 1}

    def _commit_added_bytes(self, v: int) -> int:
        total = 0
        for a in _read_json_commit(self._path, v)["actions"]:
            if a["op"] == "add":
                b = (a.get("stats") or {}).get("bytes")
                if b is None:  # commit predates the bytes stat
                    try:
                        b = os.path.getsize(
                            os.path.join(self._path, a["file"]))
                    except OSError:
                        b = 0
                total += int(b)
        return total

    def latestOffset(self) -> dict:
        v = latest_version(self._path)
        floor = self._start - 1 if self._seen_v is None else self._seen_v
        if self._max_versions is not None and self._seen_v is not None:
            v = min(v, self._seen_v + self._max_versions)
        if (self._max_bytes is not None and self._seen_v is not None
                and v > self._seen_v):
            # admit commits while the accumulated added bytes stay
            # under the budget; ALWAYS at least one (a single commit
            # larger than the budget must still flow or the stream
            # stalls forever — the Delta maxBytesPerTrigger rule)
            admitted = self._seen_v
            total = 0
            try:
                for cand in range(self._seen_v + 1, v + 1):
                    total += self._commit_added_bytes(cand)
                    if total > self._max_bytes and cand > self._seen_v + 1:
                        break
                    admitted = cand
                    if total >= self._max_bytes:
                        break
            except FileNotFoundError:
                # a cleaned commit in range: stop pacing and let
                # partitions() raise its loud re-bootstrap error
                admitted = v
            v = admitted
        return {"v": max(v, floor)}

    def partitions(self, start: dict, end: dict):
        # pacing position = the END of the in-flight range (the A12
        # reader's measured lesson: commit() is not reliably invoked
        # by the 4.1 runner; end-tracking here is the dependable
        # signal, and it is also how a restarted query's first batch
        # reveals the checkpointed position)
        self._seen_v = max(self._seen_v or self._start - 1, end["v"])
        files = []
        for v in range(start["v"] + 1, end["v"] + 1):
            try:
                entry = _read_json_commit(self._path, v)
            except FileNotFoundError:
                raise RuntimeError(
                    f"txlog stream: commit {v} is gone (log cleaned past "
                    "a checkpoint while a consumer was behind) — "
                    "re-bootstrap this consumer from a snapshot read"
                ) from None
            for a in entry["actions"]:
                if a["op"] in ("remove", "dv"):
                    raise RuntimeError(
                        f"txlog stream: version {v} removed rows "
                        "(delete/merge/compact/restore/deletion-vector) "
                        "— an append feed cannot represent it; consume "
                        "tx_changes instead")
                files.append((a["file"],
                              (a.get("stats") or {}).get("_part")))
        return [InputPartition((os.path.join(self._path, f), part))
                for f, part in files]

    def read(self, partition: InputPartition):
        path, part = partition.value
        yield from _conform_batches(path, self._schema,
                                    colmap=self._colmap, part=part)

    def commit(self, end: dict) -> None:
        self._seen_v = max(self._seen_v or self._start - 1, end["v"])


def register_txlog_source(spark) -> None:
    """Idempotent registration: spark.read/readStream.format('txlog').

    The source's classes are shipped to the Python data-source runner
    and the read workers BY VALUE (pyspark's vendored cloudpickle):
    those processes inherit the JVM's cwd, not the driver's sys.path,
    so a by-reference pickle would need this package importable from
    an arbitrary cwd — exactly what a plain driver session doesn't
    guarantee. By-value registration makes format("txlog") work from
    any session that can import it once on the driver."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(
        sys.modules["saurav_nayak_recipe_etl_project_spark.sources.txlog"])
    spark.dataSource.register(TxLogSource)
