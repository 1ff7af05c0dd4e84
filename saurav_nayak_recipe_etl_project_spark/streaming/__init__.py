"""Structured Streaming operators (file-source ingest, windowed aggs,
sessionization, stream joins, keyed upserts, streaming dedup).

This module is the one home of the plumbing every runner and
materialized view (MV) shares: the schema'd drop reader
(`read_drops`), the availableNow drain (`drain`), the key-range batch
split and batch-0 replay of the registered replay entries
(`key_batches`, `replay_batches`), the Hadoop FileSystem lookup
(`hadoop_fs`, `batch_dirs`) and the crash-safe fold-and-swap
compaction of `batch_id=N` partial partitions (`fold_batches`,
`swap_dirs`, `recover_swap`)."""

from __future__ import annotations

from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.functions.cachereg import scratch_dir

DEFAULT_STREAM_TIMEOUT = 120


def rebalance_for_write(df, *cols):
    """Size the file fan-out of a per-batch state write with the AQE
    REBALANCE hint (guide §6: coalesce on write, target-sized files):
    without it, every `partitionBy` state write emits
    (input partitions × partition values) files — hundreds of tiny
    files per micro-batch at local shuffle settings, and every later
    state read pays their open cost. REBALANCE lets AQE coalesce a
    small batch into few advisory-size partitions (→ one file per
    hive value here) and SPLIT a large one (→ ~advisory-size files at
    warehouse scale), so the same code is right at sf0.001 and at
    100 TB. Keyed form clusters rows of one hive partition value
    together so each value gets its own file(s), never one writer
    holding all values."""
    # column args must reach the analyzer as attributes, not string
    # literals (REBALANCE rejects literal parameters)
    return (df.hint("rebalance", *[F.col(c) for c in cols])
            if cols else df.hint("rebalance"))


def parallel_actions(*thunks) -> None:
    """Run independent Spark ACTIONS from concurrent driver threads
    (guide §2.6, overlap independent jobs): their per-job driver
    latencies overlap and the scheduler back-fills executor slots
    freed by one action's straggler tail with the others' tasks.
    Callers must pass actions whose plans read only already-
    materialized inputs (caches, checkpoints, state files) — two
    concurrent first consumers of one unmaterialized lazy checkpoint
    each re-evaluate its whole plan (the r14-measured hazard). Each
    thread gets its own copy of the caller's local properties, so its
    jobs join the caller's job group. Every action is awaited; the first
    failure re-raises after all settle (no thunk abandoned mid-write)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    # with PYSPARK_PIN_THREAD=false this returns the session, not a wrapper
    spark = SparkSession.getActiveSession()
    if spark is not None and callable(inheritable_thread_target(spark)):
        thunks = [inheritable_thread_target(spark)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        errors = [f.exception() for f in futures]
        for err in errors:
            if err is not None:
                raise err


def await_or_raise(query, timeout: int = DEFAULT_STREAM_TIMEOUT) -> None:
    """Block on a streaming query and FAIL LOUDLY on timeout.

    `StreamingQuery.awaitTermination(timeout)` returns False when the
    timeout elapses with the query still running; ignoring that boolean
    lets a caller read partial sink output while the query keeps
    writing, and a later restart on the same checkpoint dies with a
    concurrent-stream error. Here a timeout stops the query and raises,
    so no caller ever observes a half-written sink as success.
    """
    done = query.awaitTermination(timeout)
    if not done:
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name or query.id} still running after "
            f"{timeout}s; stopped to avoid partial sink reads "
            f"(raise the timeout for larger drops)"
        )
    # Surface any exception the query terminated with (awaitTermination
    # with a timeout can return True for a FAILED query on some paths).
    if query.exception() is not None:
        raise query.exception()


def read_drops(spark, source_dir: str, schema: str,
               max_files_per_trigger: int | None = None):
    """File-source stream over the parquet drops landing in
    `source_dir`, read with an explicit `schema` (a streaming file
    source cannot infer one). `max_files_per_trigger` caps each
    micro-batch (tests use it to force multi-batch runs)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def drain(df, checkpoint_dir: str, sink, mode: str = "append") -> None:
    """Process everything currently landed on the streaming frame `df`
    exactly once (availableNow trigger), then stop. `sink` is either a
    memory-table name or a foreachBatch function `(batch_df, batch_id)`;
    `mode` is the output mode. Blocks through `await_or_raise`, so a
    stuck or failed query raises instead of leaving a half-written
    sink."""
    writer = df.writeStream.outputMode(mode)
    writer = (writer.foreachBatch(sink) if callable(sink)
              else writer.format("memory").queryName(sink))
    await_or_raise(
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def key_batches(df, key: str, n: int) -> list:
    """Split `df` into `n` ordered batches by equal ranges of the
    integer column `key`: one min/max job, cuts at
    `lo + i*(hi-lo)//n` (for n=2 that is `(lo+hi)//2`), batch i holding
    `cut_i < key <= cut_{i+1}`. An empty frame cuts at 0. The DuckDB
    oracles of the replay entries recompute these cuts in SQL, so the
    formula is part of their contract."""
    lo, hi = df.agg(F.min(key), F.max(key)).first()
    cuts = [lo + i * (hi - lo) // n if lo is not None else 0
            for i in range(1, n)]
    k = F.col(key)
    return ([df.filter(k <= cuts[0])]
            + [df.filter((k > a) & (k <= b)) for a, b in zip(cuts, cuts[1:])]
            + [df.filter(k > cuts[-1])])


def replay_batches(key: str, process_batch, batches) -> str:
    """Feed `batches` through `process_batch(batch_df, batch_id,
    state_path)` into a fresh state dir under scratch key `key`: batch
    0, batch 0 again, then the rest in order. The deliberate replay
    exercises the at-least-once contract of foreachBatch maintenance
    on every run: a replayed batch must overwrite its own partition,
    never double-count. Returns the state path."""
    state = f"{scratch_dir(key)}/state"
    process_batch(batches[0], 0, state)
    for batch_id, batch in enumerate(batches):
        process_batch(batch, batch_id, state)
    return state


def hadoop_fs(spark, path: str):
    """(Hadoop FileSystem, Hadoop Path) for `path`: the storage handle
    the state code lists, renames and deletes through, so the same
    code runs on a local dir or an object store."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jvm_path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm_path


def batch_dirs(spark, path: str) -> dict:
    """{batch id: Hadoop Path} of the `batch_id=N` partition dirs
    under `path`; empty when `path` does not exist."""
    fs, jvm_path = hadoop_fs(spark, path)
    if not fs.exists(jvm_path):
        return {}
    out = {}
    for status in fs.listStatus(jvm_path):
        name = status.getPath().getName()
        if name.startswith("batch_id="):
            try:
                out[int(name.split("=", 1)[1])] = status.getPath()
            except ValueError:
                continue
    return out


def recover_swap(spark, live: str) -> bool:
    """Self-heal the `swap_dirs` crash window: a crash between its two
    renames strands the ONLY copy of the state at `{live}.fold.old`
    with `live` missing — rename it back before any maintenance
    proceeds, so the window is recoverable on the next run instead of
    needing a manual rename. A strict no-op in every other state (live
    present, or no .fold.old). Returns True when a recovery
    happened."""
    fs, live_p = hadoop_fs(spark, live)
    old_p = hadoop_fs(spark, f"{live}.fold.old")[1]
    if not fs.exists(live_p) and fs.exists(old_p):
        if not fs.rename(old_p, live_p):
            raise IOError(
                f"recover_swap: rename {live}.fold.old -> {live} failed")
        return True
    return False


def swap_dirs(spark, live: str, tmp: str) -> None:
    """Publish `tmp` as `live` by two renames (live -> .fold.old, tmp
    -> live, delete .fold.old): no crash point mixes old and new state
    — every window is a no-op (stray temp) or a missing-state read
    between the renames, self-healed by `recover_swap` on the next
    maintenance run. Used by `fold_batches` and by the ANN MV's
    whole-state rebuild (streaming/ann_mv.rebuild_ann_mv)."""
    # a PRIOR crash may have left the only state copy at .fold.old;
    # deleting it below would destroy it — heal first (no-op otherwise)
    recover_swap(spark, live)
    fs, live_p = hadoop_fs(spark, live)
    tmp_p = hadoop_fs(spark, tmp)[1]
    old_p = hadoop_fs(spark, f"{live}.fold.old")[1]
    fs.delete(old_p, True)
    if not fs.rename(live_p, old_p):
        raise IOError(f"swap_dirs: rename {live} -> .fold.old failed")
    if not fs.rename(tmp_p, live_p):
        raise IOError(f"swap_dirs: rename {tmp} -> {live} failed — "
                      f"state preserved at {live}.fold.old")
    fs.delete(old_p, True)


def fold_batches(spark, path: str, merge, partition_by=()) -> int:
    """Compact the `batch_id=N` partial partitions under `path` into
    one: `merge(partials)` (the partials read as one frame, `batch_id`
    included) is written to `{path}.fold.tmp/batch_id={max}` and
    swapped in for `path` by `swap_dirs`. Returns the number of
    partition dirs removed (0 when there is at most one).

    Crash posture: the fold never shares a directory with the
    partials it folds, so no crash point leaves folded totals next to
    their partials (a silent double-count or duplicate on read) —
    every window is a no-op (stray temp, cleaned next run) or a LOUD
    missing-state read between the two renames, healed by the next
    call. Run it at a QUIESCED boundary (stream stopped, all batches
    committed): folding erases per-batch history, so replaying an
    already-committed batch afterwards would double-count."""
    recover_swap(spark, path)
    ids = batch_dirs(spark, path)
    if len(ids) <= 1:
        return 0
    tmp = f"{path}.fold.tmp"
    fs, tmp_p = hadoop_fs(spark, tmp)
    fs.delete(tmp_p, True)
    merged = merge(spark.read.option("basePath", path).parquet(path))
    merged.write.partitionBy(*partition_by).parquet(
        f"{tmp}/batch_id={max(ids)}")
    swap_dirs(spark, path, tmp)
    return len(ids) - 1
