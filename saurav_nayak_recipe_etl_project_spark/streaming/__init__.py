"""Structured Streaming operators (file-source ingest, windowed aggs,
sessionization, stream joins, keyed upserts, streaming dedup)."""

from __future__ import annotations

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
    from pyspark.sql import functions as F

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
