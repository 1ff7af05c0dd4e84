"""Python DataSource (Spark 4 `spark.dataSource.register`) for JSONL
document shards — the interchange format LLM-corpus pipelines
actually exchange (one JSON object per line, one file per shard).

This is the EXTENSION-SURFACE twin of the UDTF capability (E100): a
user-defined source/sink that plugs into `spark.read.format(...)` /
`df.write.format(...)` with real partition parallelism, not a
driver-side loop:

- Read side: one `InputPartition` PER SHARD FILE, so scan
  parallelism equals shard count and each task streams one file —
  the same task model as the built-in text source. No driver work
  beyond the directory listing.
- Write side: Spark's two-phase contract. Each task writes a
  uniquely-named `_tmp-*.jsonl` and returns it as a commit message;
  `commit()` on the driver removes `_SUCCESS` FIRST, renames the
  staged files to deterministic `part-NNNNN.jsonl` names (appends
  continue numbering past the existing max index), and re-drops
  `_SUCCESS` last; `abort()` removes the staging files. A marker-
  checking reader therefore never sees a half-swapped shard set —
  the plain-JSONL miniature of the WAP protocol
  (operators/maintenance.py).

HONEST scale note: rows cross the Python worker boundary (this is
the row-path extension lane, like UDTFs — documented slow path).
For bulk parquet<->JSONL conversion the built-in `spark.read.json`
is the hot path; this source exists to prove the pluggable-source
surface with correct partitioning and commit semantics.

Reference scope: the reference ingests documents from a Firestore
export (src/etl_pipeline.py:28-60); a sharded-JSONL drop is the
self-hosted equivalent of that feed.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

# matches the documents table (TESTDATA.md)
DOC_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint"
)


class _ShardCommit(WriterCommitMessage):
    def __init__(self, tmp_name: str | None):
        self.tmp_name = tmp_name


def _stage_shard(path: str, fields, iterator,
                 writer_id: str) -> _ShardCommit:
    """Task side of both sinks: write this task's rows to a unique
    `_tmp-<writer_id>-*.jsonl`; empty tasks stage nothing. The
    writer_id prefix (one uuid per writer instance, minted on the
    driver and shipped with the pickled writer) namespaces staging so
    a CONCURRENT job writing to the same directory can never have its
    not-yet-committed files purged by this job's commit (round-8
    advisory)."""
    os.makedirs(path, exist_ok=True)
    tmp = f"_tmp-{writer_id}-{uuid.uuid4().hex}.jsonl"
    full = os.path.join(path, tmp)
    wrote = False
    with open(full, "w", encoding="utf-8") as fh:
        for row in iterator:
            fh.write(json.dumps(
                {f: row[i] for i, f in enumerate(fields)},
                ensure_ascii=False,
            ))
            fh.write("\n")
            wrote = True
    if not wrote:
        os.remove(full)
        return _ShardCommit(None)
    return _ShardCommit(tmp)


def _remove_staged(path: str, messages) -> None:
    for m in messages:
        if m is not None and m.tmp_name is not None:
            try:
                os.remove(os.path.join(path, m.tmp_name))
            except FileNotFoundError:
                pass


def _purge_tmp(path: str, writer_id: str) -> None:
    """Remove THIS WRITER'S remaining `_tmp-<writer_id>-*` files —
    called after a commit's renames, when every surviving own-prefix
    `_tmp` is by elimination a dead task attempt's orphan (Spark only
    commits once tasks finished; a zombie speculative attempt may
    still hold an fd, but unlinking an open file just discards data
    nobody references). Other writers' staging is untouchable by
    design (round-8 advisory: a blanket purge silently dropped a
    concurrent appender's staged data). Orphans of a CRASHED writer
    instance are merely disk litter — every reader skips `_`-prefixed
    files — and are reclaimed by the next overwrite or an external
    janitor."""
    prefix = f"_tmp-{writer_id}-"
    for f in os.listdir(path):
        if f.startswith(prefix) and f.endswith(".jsonl"):
            try:
                os.remove(os.path.join(path, f))
            except FileNotFoundError:
                pass


class JsonlDocsSource(DataSource):
    """`format("jsonl_docs")` with `.option("path", dir)`."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_docs"

    def schema(self) -> str:
        return DOC_SCHEMA

    def reader(self, schema: StructType) -> "JsonlDocsReader":
        return JsonlDocsReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool
               ) -> "JsonlDocsWriter":
        return JsonlDocsWriter(schema, self.options, overwrite)

    def streamReader(self, schema: StructType) -> "JsonlDocsStreamReader":
        return JsonlDocsStreamReader(schema, self.options)

    def streamWriter(self, schema: StructType, overwrite: bool
                     ) -> "JsonlDocsStreamWriter":
        return JsonlDocsStreamWriter(schema, self.options)


ARROW_BATCH_ROWS = 4096


class JsonlDocsReader(DataSourceReader):
    """Batch reader with an ARROW lane (default): rows are
    accumulated into pyarrow RecordBatches of ARROW_BATCH_ROWS before
    crossing the Python->JVM boundary — one columnar transfer per few
    thousand rows instead of one pickled tuple per row (the same
    Arrow-batching argument as Pandas UDFs vs row UDFs).
    `.option("arrow", "false")` keeps the plain row lane for
    comparison/debugging."""

    def __init__(self, schema: StructType, options):
        self._fields = [f.name for f in schema.fields]
        self._path = options.get("path")
        if not self._path:
            raise ValueError("jsonl_docs requires .option('path', dir)")
        self._arrow = str(options.get("arrow", "true")).lower() != "false"
        # simple type map: the doc schema only carries long + string
        self._long_fields = {
            f.name for f in schema.fields
            if f.dataType.simpleString() == "bigint"
        }

    def partitions(self):
        names = os.listdir(self._path)
        name_set = set(names)
        # enforce the writer's own contract: part-* files without the
        # _SUCCESS marker mean a batch commit died mid-swap — reading
        # the partial set silently would inflate or lose rows on the
        # retry. (batch-* shards come from the STREAM writer, whose
        # per-batch _COMMITTED markers replace the job-level marker —
        # a tailing/bus directory legitimately has no _SUCCESS.)
        if any(f.startswith("part-") for f in names) \
                and "_SUCCESS" not in name_set:
            raise RuntimeError(
                f"jsonl_docs: {self._path} has part-*.jsonl shards but "
                "no _SUCCESS marker — a batch write crashed mid-commit; "
                "rerun the write (overwrite) before reading"
            )

        # batch-<id>-* shards are only visible once their
        # _batch-<id>._COMMITTED marker exists (round-8 advisory):
        # between the stream writer's first rename and its marker
        # drop — a crash, or simply a commit in flight — the batch is
        # partial, and skipping it gives this reader the consistent
        # committed-prefix snapshot instead of a torn one. (The
        # tailing STREAM reader is paced by its own offsets and never
        # consulted markers; this closes the window for BATCH reads
        # of a bus directory.)
        def _committed(f: str) -> bool:
            if not f.startswith("batch-"):
                return True
            bid = f[len("batch-"):].split("-", 1)[0]
            return f"_batch-{bid}._COMMITTED" in name_set

        shards = sorted(
            os.path.join(self._path, f)
            for f in names
            if f.endswith(".jsonl") and not f.startswith("_")
            and _committed(f)
        )
        # one task per shard: scan parallelism == shard count
        return [InputPartition(s) for s in shards]

    def _arrow_schema(self):
        import pyarrow as pa

        return pa.schema([
            (f, pa.int64() if f in self._long_fields else pa.string())
            for f in self._fields
        ])

    def read(self, partition: InputPartition):
        fields = self._fields
        if not self._arrow:
            with open(partition.value, encoding="utf-8") as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    obj = json.loads(line)
                    yield tuple(obj.get(f) for f in fields)
            return
        import pyarrow as pa

        schema = self._arrow_schema()
        cols = {f: [] for f in fields}
        n = 0
        with open(partition.value, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                obj = json.loads(line)
                for f in fields:
                    cols[f].append(obj.get(f))
                n += 1
                if n >= ARROW_BATCH_ROWS:
                    yield pa.record_batch(
                        [pa.array(cols[f], schema.field(f).type)
                         for f in fields], schema=schema)
                    cols = {f: [] for f in fields}
                    n = 0
        if n:
            yield pa.record_batch(
                [pa.array(cols[f], schema.field(f).type)
                 for f in fields], schema=schema)


class JsonlDocsWriter(DataSourceWriter):
    def __init__(self, schema: StructType, options, overwrite: bool):
        self._fields = [f.name for f in schema.fields]
        self._path = options.get("path")
        if not self._path:
            raise ValueError("jsonl_docs requires .option('path', dir)")
        self._overwrite = overwrite
        # one staging namespace per writer instance (= per job):
        # pickled out to every task, so all of this job's _tmp files
        # share it and commit/purge can't touch a concurrent job's
        self._writer_id = uuid.uuid4().hex

    def write(self, iterator) -> _ShardCommit:
        return _stage_shard(
            self._path, self._fields, iterator, self._writer_id
        )

    def commit(self, messages) -> None:
        staged = sorted(
            m.tmp_name for m in messages
            if m is not None and m.tmp_name is not None
        )
        # drop the marker FIRST: a crash anywhere inside this commit
        # must leave the directory claiming nothing (readers that
        # require _SUCCESS see either the old-complete or the
        # new-complete set, never a half-swapped one)
        try:
            os.remove(os.path.join(self._path, "_SUCCESS"))
        except FileNotFoundError:
            pass
        existing = [
            f for f in os.listdir(self._path)
            if f.endswith(".jsonl") and f.startswith("part-")
        ]
        if self._overwrite:
            for f in existing:
                os.remove(os.path.join(self._path, f))
            base = 0
        else:
            # append: continue numbering past the existing max part
            # index — renaming from 0 would clobber prior shards
            base = 1 + max(
                (int(f[len("part-"):].split(".")[0]) for f in existing),
                default=-1,
            )
        for i, tmp in enumerate(staged):
            os.replace(
                os.path.join(self._path, tmp),
                os.path.join(self._path, f"part-{base + i:05d}.jsonl"),
            )
        # every own-prefix _tmp still present is a dead task
        # attempt's orphan
        _purge_tmp(self._path, self._writer_id)
        with open(os.path.join(self._path, "_SUCCESS"), "w"):
            pass

    def abort(self, messages) -> None:
        _remove_staged(self._path, messages)


class JsonlDocsStreamReader(DataSourceStreamReader):
    """Streaming half of the plugin surface (the PARTITIONED
    DataSourceStreamReader, not the driver-side Simple variant —
    micro-batch rows never pass through the driver): each new shard
    landing in the directory becomes read tasks in the next
    micro-batch.

    Offset contract: shards must land with lexicographically
    INCREASING names (part-00000..., or timestamped names — what any
    sane shard producer emits); the offset is then just
    {"n": consumed_count} over the sorted listing, trivially
    checkpointable and replayable (partitions(start,end) re-derives
    the same file slice during recovery). A file sorting BEFORE an
    already-consumed name raises rather than being silently skipped.

    Backpressure: `.option("maxFilesPerBatch", N)` caps how far
    latestOffset advances past the last position this reader
    instance has seen — BURST PROTECTION for a resident query: a
    producer dumping 500 shards mid-run becomes ceil(500/N) bounded
    micro-batches instead of one giant one. Scope, measured not
    assumed: Spark asks latestOffset BEFORE initialOffset even on a
    brand-new query (traced against pyspark 4.1's
    python_streaming_source_runner), so the FIRST batch of any run
    is necessarily uncapped — the API gives a fresh reader no
    position to pace against, and a blind cap below a restored
    checkpoint offset would report latest < start and wedge the
    stream forever, strictly worse than one oversized batch. Every
    batch after the first is capped (position learned from
    partitions()/commit())."""

    def __init__(self, schema: StructType, options):
        self._fields = [f.name for f in schema.fields]
        self._path = options.get("path")
        if not self._path:
            raise ValueError("jsonl_docs requires .option('path', dir)")
        mfb = options.get("maxFilesPerBatch")
        self._max_files = int(mfb) if mfb is not None else None
        if self._max_files is not None and self._max_files < 1:
            raise ValueError("maxFilesPerBatch must be >= 1")
        # last position this INSTANCE has seen; None until
        # initialOffset (fresh query) or partitions/commit (restart)
        # reveals one — the cap only applies once a position is known
        self._seen_n = None

    def _shards(self):
        try:
            names = os.listdir(self._path)
        except FileNotFoundError:
            return []
        return sorted(
            f for f in names
            if f.endswith(".jsonl") and not f.startswith("_")
        )

    def initialOffset(self) -> dict:
        self._seen_n = 0
        return {"n": 0, "last": ""}

    def latestOffset(self) -> dict:
        shards = self._shards()
        n = len(shards)
        if self._max_files is not None and self._seen_n is not None:
            n = min(n, self._seen_n + self._max_files)
        return {"n": n, "last": shards[n - 1] if n else ""}

    def partitions(self, start: dict, end: dict):
        # pacing position = the END of the batch being planned (the
        # range [start,end) is in-flight from here on; tracking the
        # START would freeze latestOffset at the committed position
        # and wedge the stream — and commit() is NOT reliably invoked
        # by the 4.1 runner, traced, so end-tracking here is the one
        # dependable signal). Also how a restarted query's first
        # batch reveals the checkpointed position.
        self._seen_n = max(self._seen_n or 0, end["n"])
        shards = self._shards()
        if len(shards) < end["n"]:
            raise RuntimeError(
                f"shard listing shrank below committed offset {end['n']} "
                "(files deleted from a streaming source directory?)"
            )
        lo, hi = start["n"], end["n"]
        # the offset's index range only identifies the same files if
        # nothing landed BEHIND the consumed prefix — verify via the
        # recorded boundary names instead of silently re-slicing
        for off in (start, end):
            if off["n"] and shards[off["n"] - 1] != off["last"]:
                raise RuntimeError(
                    f"out-of-order shard landing: offset {off} no longer "
                    f"points at {off['last']!r} (shard names must be "
                    "lexicographically increasing)"
                )
        return [
            InputPartition(os.path.join(self._path, s))
            for s in shards[lo:hi]
        ]

    def read(self, partition: InputPartition):
        fields = self._fields
        with open(partition.value, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                obj = json.loads(line)
                yield tuple(obj.get(f) for f in fields)

    def commit(self, end: dict) -> None:
        # offsets live in the query checkpoint; belt-and-braces sync
        # (the 4.1 runner was traced NOT calling this — partitions()
        # end-tracking above is the load-bearing pacing signal)
        self._seen_n = max(self._seen_n or 0, end["n"])


class JsonlDocsStreamWriter(DataSourceStreamWriter):
    """Streaming JSONL sink with per-micro-batch two-phase commit and
    IDEMPOTENT batch replay — the property that turns Spark's
    at-least-once batch redelivery into exactly-once OUTPUT:

    - each task stages `_tmp-*.jsonl` and reports it in its commit
      message;
    - `commit(messages, batchId)` is FIRST-COMMIT-WINS: if the
      batch's `_batch-<id>._COMMITTED` marker exists, a replayed
      batch discards its own staging and keeps the original files —
      a downstream reader tailing this directory (the file-bus) may
      already hold committed offsets over them, and deleting+
      rewriting on every replay would shrink its listing and wedge
      it. Only when the marker is ABSENT (first commit, or a crash
      mid-commit left a partial batch) are that batch's partials
      removed, staging renamed to deterministic
      `batch-<id>-part-<i>.jsonl` names, and the marker dropped
      last. Residual window, stated honestly: a crash between the
      first rename and the marker leaves a partial batch visible to
      a TAILING STREAM reader until the replay repairs it — closing
      that needs a manifest/directory swap, which plain renamed
      files cannot express. BATCH readers are no longer exposed:
      JsonlDocsReader.partitions() skips batch-* shards whose
      _COMMITTED marker is absent (round-8 advisory);
    - `abort` removes the staged files, leaving prior batches intact.

    Batch-prefixed names (10-digit zero-padded, monotone through
    10^10 batches — ~300 years at 1 batch/s) keep output
    lexicographically increasing in batch order, so a
    JsonlDocsStreamReader can tail the directory a downstream stage
    writes — the two halves compose into a file-bus pipeline."""

    def __init__(self, schema: StructType, options):
        self._fields = [f.name for f in schema.fields]
        self._path = options.get("path")
        if not self._path:
            raise ValueError("jsonl_docs requires .option('path', dir)")
        # per-query staging namespace (see JsonlDocsWriter)
        self._writer_id = uuid.uuid4().hex

    def write(self, iterator) -> _ShardCommit:
        return _stage_shard(
            self._path, self._fields, iterator, self._writer_id
        )

    def commit(self, messages, batchId: int) -> None:
        prefix = f"batch-{batchId:010d}-"
        marker = os.path.join(self._path, f"_batch-{batchId:010d}._COMMITTED")
        if os.path.exists(marker):
            # replayed batch: the original commit completed — keep
            # its files (a downstream tailing reader may hold
            # offsets over them) and discard this replay's staging
            _remove_staged(self._path, messages)
            return
        staged = sorted(
            m.tmp_name for m in messages
            if m is not None and m.tmp_name is not None
        )
        # no marker: first commit, or a crash left a partial batch —
        # remove the partials, then rename, then mark
        for f in os.listdir(self._path):
            if f.startswith(prefix):
                os.remove(os.path.join(self._path, f))
        for i, tmp in enumerate(staged):
            os.replace(
                os.path.join(self._path, tmp),
                os.path.join(self._path, f"{prefix}part-{i:05d}.jsonl"),
            )
        _purge_tmp(self._path, self._writer_id)
        with open(marker, "w"):
            pass

    def abort(self, messages, batchId: int) -> None:
        _remove_staged(self._path, messages)


def register(spark) -> None:
    spark.dataSource.register(JsonlDocsSource)
