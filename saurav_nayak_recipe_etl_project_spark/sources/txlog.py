"""Log-structured ACID table on plain parquet — the Delta/Iceberg
core re-built from first principles, because the warehouse side of
this engine needs O(delta) appends, not snapshot rewrites.

The reference reloads its warehouse with WRITE_TRUNCATE on every
refresh (bigquery_loader_function/main.py:20-40); maintenance.py's
publish_with_audit upgraded that to audited, versioned SNAPSHOTS (each
publish rewrites the table). This module is the next rung — the one
its own docstring points at ("on a table format with row-level merge
the plans are the same, only the sink changes"): a transaction LOG of
add/remove FILE actions, so

- APPEND writes only the new files + one log entry — O(delta) at any
  table size (a year of nightly drops never rewrites January);
- DELETE rewrites only the files whose min/max stats can contain
  matching rows — file-granular, stats-pruned;
- READ resolves the live file set by log replay; `version=` gives
  time travel; a simple-predicate `where=` prunes files by stats
  BEFORE Spark ever lists them (the log is the coarse index);
- COMPACT folds small files remove+add in one atomic commit, a
  no-op to every reader;
- CONCURRENT writers race on the next version file with
  O_CREAT|O_EXCL (optimistic concurrency, the Delta protocol's
  mutual-exclusion primitive); a losing read-modify-write op then
  runs LOGICAL conflict resolution (_commit_rmw, the Delta
  ConflictChecker / WriteSerializable behavior): rival blind appends
  that touched none of the files it read commute — the op re-commits
  unchanged and the rival's files stay live — while rivals that
  removed/DV'd a read file or changed table metadata surface
  TxConflict for a real re-derivation;
- STREAMING appends carry a (app_id, batch_id) txn action; a
  replayed micro-batch is detected and skipped — the idempotent-sink
  recipe every foreachBatch writer in streaming/ hand-rolls,
  provided by the table itself (Delta's txn/SetTransaction);
- VACUUM deletes data files unreferenced by the last K versions and
  records the horizon; time travel past it fails LOUDLY, not with a
  missing-file stack trace.

The write ops share one helper per protocol step: `_resolve_snapshot`
(live files, metadata record and version from ONE log listing),
`_matching_files` (the min/max prune; partition columns carry [v, v]
stats), `_write_files` (logical frame in, laid out by the metadata
record), `_rewrite` (the copy-on-write tail of delete, compact and
optimize), `_write_dv` (deletion vectors for delete and merge),
`_check_written` (CHECK constraints on the bytes written), `_publish`
(temp file, fsync, then link or rename: commits, checkpoints, the
pointer, the vacuum horizon) and `_commit`/`_commit_rmw`. The
registered `acid_orders_*` scenarios live in sources/acid.py.

100 TB posture: the log is checkpointed — `tx_checkpoint` folds the
action log into a parquet snapshot published via a `_last_checkpoint`
pointer (the Delta checkpoint protocol), so reads replay O(tail)
commits instead of O(commits) JSON; data stays distributed parquet;
stats pruning means a key-ranged read opens the log, not the object
store listing. Single-filesystem O_EXCL is the commit primitive here;
on an object store it becomes put-if-absent — the swap every table
format performs.
"""

from __future__ import annotations

import copy
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from saurav_nayak_recipe_etl_project_spark.functions.localframe import (
    local_frame,
)

_LOG_DIR = "_txlog"
_HORIZON = "_vacuum_horizon"
_CKPT_SUFFIX = ".checkpoint.parquet"
_CKPT_PTR = "_last_checkpoint"


class TxConflict(Exception):
    """Another writer committed this version first — re-read the
    latest snapshot and retry the whole read-modify-write."""


def _log_path(table: str) -> str:
    return os.path.join(table, _LOG_DIR)


def _log_versions(table: str) -> tuple[list[int], list[int]]:
    """(versions with a raw JSON commit file still present, checkpoint
    versions) from ONE listing of the log directory."""
    d = _log_path(table)
    if not os.path.isdir(d):
        return [], []
    n = len(_CKPT_SUFFIX)
    js, cs = [], []
    for f in os.listdir(d):
        if f.endswith(".json") and f[:-5].isdigit():
            js.append(int(f[:-5]))
        elif f.endswith(_CKPT_SUFFIX) and f[:-n].isdigit():
            cs.append(int(f[:-n]))
    return sorted(js), sorted(cs)


def _versions(table: str) -> list[int]:
    """All readable versions: JSON commits plus checkpoint-only
    versions (a cleaned log keeps the checkpointed snapshot live)."""
    js, cs = _log_versions(table)
    return sorted(set(js) | set(cs))


def _latest(js: list[int], cs: list[int]) -> int:
    """The newest version in one `_log_versions` listing, -1 when it
    holds no commit."""
    return max(js[-1:] + cs[-1:], default=-1)


def latest_version(table: str) -> int:
    """-1 when the table has no commits yet."""
    return _latest(*_log_versions(table))


# The table METADATA record every commit carries — field → default
# for a table (or an older commit) that never set it:
# - schema: {logical column: type}; None = a log that predates schema
#   recording (reads fall back to mergeSchema);
# - checks: CHECK constraints {name: [col, op, literal]};
# - colmap: logical→physical column mapping (empty = identity);
# - partition_by: PHYSICAL partition columns, fixed at creation;
# - retired: PHYSICAL names dropped by tx_drop_column — monotonically
#   growing: a retired name still has bytes in old data files, so no
#   later column may ever map to it (the field-id guarantee).
# This one table drives the JSON commit write (_commit) and read
# (_meta_at), and the checkpoint's `<field>_json` parquet metadata
# write (tx_checkpoint) and read (_load_checkpoint).
_META = {"schema": None, "checks": {}, "colmap": {}, "partition_by": [],
         "retired": []}


def _meta_from(get) -> dict:
    """The metadata record from a field getter; an unset (None) field
    takes a fresh copy of its default."""
    meta = {}
    for k, default in _META.items():
        v = get(k)
        meta[k] = copy.deepcopy(default) if v is None else v
    return meta


def _ckpt_key(field: str) -> bytes:
    return f"{field}_json".encode()


def _meta_at(table: str, version: int) -> dict:
    """The metadata record at `version` — from the JSON commit when
    present, else from the checkpoint that replaced it, else the
    defaults (version < 0 or not committed)."""
    if version >= 0:
        try:
            return _meta_from(_read_json_commit(table, version).get)
        except FileNotFoundError:
            pass
        if os.path.exists(_ckpt_path(table, version)):
            _, meta, _ = _load_checkpoint(table, version)
            return meta
    return _meta_from(lambda _k: None)


def _publish(path: str, data: bytes, exclusive: bool = False) -> None:
    """Write `data` to a private temp file beside `path`, fsync it, and
    only then publish it under `path` in one atomic step, so no reader
    and no crash can observe a half-written file. `exclusive` publishes
    with os.link, which fails with FileExistsError when `path` already
    exists (the commit's mutual exclusion, the same guarantee as
    O_CREAT|O_EXCL); otherwise os.replace overwrites it."""
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    try:
        (os.link if exclusive else os.replace)(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _commit(table: str, version: int, actions: list[dict],
            txn: dict | None = None, **changes) -> None:
    """Atomically create version file `version` — exactly one writer
    wins a version number (see _publish). Each commit records the whole
    metadata record (_META): `changes` overlays the record of
    `version - 1`, and a field not passed (or passed as None) carries
    forward. A caller already holding the prior record passes all of it
    (`**dict(meta, ...)`) and no log read happens."""
    unknown = changes.keys() - _META.keys()
    if unknown:
        raise TypeError(f"_commit: unknown metadata fields {sorted(unknown)}")
    meta = {k: v for k, v in changes.items() if v is not None}
    if meta.keys() != _META.keys():
        meta = {**_meta_at(table, version - 1), **meta}
    import time

    os.makedirs(_log_path(table), exist_ok=True)
    payload = json.dumps(
        {"actions": actions, "txn": txn, **{k: meta[k] for k in _META},
         "ts": round(time.time(), 6)}) + "\n"
    try:
        _publish(os.path.join(_log_path(table), f"{version:011d}.json"),
                 payload.encode(), exclusive=True)
    except FileExistsError:
        raise TxConflict(
            f"version {version} of {table} was committed by another "
            "writer; re-read the latest snapshot and retry"
        ) from None


def _read_json_commit(table: str, v: int) -> dict:
    with open(os.path.join(_log_path(table), f"{v:011d}.json")) as f:
        return json.loads(f.read())


def _ckpt_path(table: str, v: int) -> str:
    return os.path.join(_log_path(table), f"{v:011d}{_CKPT_SUFFIX}")


def _load_checkpoint(table: str, v: int) -> tuple[dict, dict, dict]:
    """(live files, metadata record, txn high-water marks) from the
    parquet checkpoint at version v."""
    import pyarrow.parquet as pq

    t = pq.read_table(_ckpt_path(table, v))
    live = {
        f: json.loads(s) for f, s in
        zip(t.column("file").to_pylist(), t.column("stats_json").to_pylist())
    }
    md = t.schema.metadata or {}

    def get(field):
        raw = md.get(_ckpt_key(field))
        return None if raw is None else json.loads(raw)

    return live, _meta_from(get), get("txns") or {}


def _best_checkpoint(table: str, version: int, cvs: list[int]) -> int:
    """The newest checkpoint at or below `version`, -1 if none. The
    `_last_checkpoint` pointer is consulted FIRST (one file read — on
    an object store this is the whole point of the Delta pointer
    protocol); the listed checkpoint versions `cvs` are only the
    fallback for reads BELOW the pointer (older-checkpoint time
    travel) or a missing/racing pointer."""
    ptr = last_checkpoint_version(table)
    if ptr is not None and ptr <= version:
        return ptr
    return max((c for c in cvs if c <= version), default=-1)


def _resolve_snapshot(
        table: str, version: int | None = None, txns: dict | None = None
) -> tuple[dict, int, int, dict, int]:
    """Replay to `version` through the best checkpoint at or below it:
    (live files, json commits replayed, checkpoint version used or -1,
    metadata record at `version`, `version` — the latest when None, so
    a write op captures its base and its snapshot from one listing). A
    `txns` dict passed in receives
    every app's txn high-water mark as of `version`. The replay cost is
    O(tail-past-checkpoint), not O(commits) — the Delta
    `_last_checkpoint` read path — over ONE log-directory listing.
    Versions are dense by construction (every commit is latest+1), so
    a missing tail file means the log was cleaned past its checkpoint
    — loud error."""
    js, cs = _log_versions(table)
    vs = sorted(set(js) | set(cs))
    if not vs:
        raise ValueError(f"{table} has no transaction log")
    if version is None:
        version = vs[-1]
    if version not in vs:
        raise ValueError(f"version {version} does not exist "
                         f"(have {vs[0]}..{vs[-1]}; commits below a "
                         "checkpoint may have been cleaned)")
    horizon = vacuum_horizon(table)
    if version < horizon:
        raise ValueError(
            f"version {version} of {table} was vacuumed (horizon "
            f"{horizon}) — its data files no longer exist")
    base = _best_checkpoint(table, version, cs)
    tail = [v for v in js if base < v <= version]
    expected = list(range(base + 1, version + 1))
    if tail != expected:
        # The pointer's tail is broken — almost always a REGRESSED
        # _last_checkpoint (the pointer write is a plain replace, so
        # two checkpointers interleaving read-then-write can still
        # move it backwards past the monotonic guard) whose commits a
        # clean already folded. Before declaring the table unreadable,
        # fall back to the DIRECTORY listing: checkpoint parquet files
        # are never cleaned, so a newer listed checkpoint <= version
        # repairs the replay (the rare failure path pays the listing;
        # the happy path stays one pointer read).
        listed = max((c for c in cs if c <= version), default=-1)
        if listed > base:
            base = listed
            tail = [v for v in js if base < v <= version]
            expected = list(range(base + 1, version + 1))
    if tail != expected:
        raise ValueError(
            f"{table} log is missing commits {sorted(set(expected) - set(tail))} "
            f"between checkpoint {base} and version {version} — cannot replay")
    live: dict = {}
    marks = {} if txns is None else txns
    if base >= 0:
        live, meta, ckpt_marks = _load_checkpoint(table, base)
        marks.update(ckpt_marks)
    for v in tail:
        entry = _read_json_commit(table, v)
        txn = entry.get("txn")
        if txn and "app" in txn:
            prev = marks.get(txn["app"])
            if prev is None or txn["batch"] > prev:
                marks[txn["app"]] = txn["batch"]
        for a in entry["actions"]:
            if a["op"] == "add":
                live[a["file"]] = a.get("stats") or {}
            elif a["op"] == "remove":
                live.pop(a["file"], None)
            elif a["op"] == "dv":
                # deletion vector: the file stays live, its stats grow
                # a _dvs list (which rides through checkpoints inside
                # stats_json untouched); later DVs on the same file
                # ACCUMULATE. A dv on a non-live file is log
                # corruption — loud.
                if a["file"] not in live:
                    raise ValueError(
                        f"{table} commit {v}: deletion vector targets "
                        f"non-live file {a['file']} — corrupt log")
                st = dict(live[a["file"]])
                st["_dvs"] = list(st.get("_dvs", [])) + [a["dv"]]
                live[a["file"]] = st
    if tail:  # the last replayed commit IS `version`
        meta = _meta_from(entry.get)
    return live, len(tail), base, meta, version


def snapshot_files(table: str, version: int | None = None) -> dict:
    """Replay the log: {relative file path: stats dict} live at
    `version` (latest when None). Resolves through the latest
    checkpoint at or below `version` when one exists."""
    return _resolve_snapshot(table, version)[0]


def vacuum_horizon(table: str) -> int:
    p = os.path.join(_log_path(table), _HORIZON)
    if not os.path.exists(p):
        return 0
    with open(p) as f:
        return int(f.read().strip())


def _schema_fields(df: DataFrame) -> dict:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


# Sanctioned LOSSLESS type widenings (the Delta/Iceberg evolution
# set this engine supports): exactly the promotions Spark 4.1's
# parquet readers up-cast in place when handed the wider requested
# schema (verified: int32 files read as bigint, float as double).
_WIDENINGS = {
    ("smallint", "int"), ("smallint", "bigint"), ("int", "bigint"),
    ("float", "double"),
}


def _merged_schema(prior: dict, now: dict) -> dict:
    """The schema a commit should record: prior columns keep the
    WIDER of the two types (a narrow source never regresses the
    table; a widening source promotes it — with the evolution flag,
    enforced by _check_schema), new columns append after."""
    out = {}
    for c, t in prior.items():
        nt = now.get(c)
        out[c] = nt if (nt is not None and (t, nt) in _WIDENINGS) else t
    for c, t in now.items():
        if c not in out:
            out[c] = t
    return out


def _schema_ddl(schema: dict) -> str:
    return ", ".join(f"`{c}` {t}" for c, t in schema.items())


# relative data-file path at the end of an absolute/URI path:
# data/<txdir>/(<hive col=value dirs>/)*<file> — the optional middle
# segments carry partition values; requiring the `=` keeps the match
# anchored to the real layout even if the table's own path contains a
# "data/" segment
_REL_FILE_RE = r"(data/[^/]+(?:/[^/]+=[^/]+)*/[^/]+)$"

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _url_decode(col: F.Column) -> F.Column:
    """One %XX decoding layer. url_decode treats '+' as a space
    (application/x-www-form semantics) but neither URI nor hive path
    escaping ENCODES '+', so pre-escape it — only genuine %XX sequences
    decode."""
    return F.url_decode(F.regexp_replace(col, r"\+", "%2B"))


def _rel_file_expr() -> F.Column:
    """The scanned row's ON-DISK relative data-file path, from
    `_metadata.file_path`. The metadata column is a URI, so
    hive-escaped partition dir names arrive re-encoded (s=x%3Ay →
    s=x%253Ay) — decode the URI layer ONCE so the value matches the
    log's file keys (which keep the hive escaping)."""
    return _url_decode(F.regexp_extract(F.col("_metadata.file_path"),
                                        _REL_FILE_RE, 1))


def _positions(df: DataFrame, *cols: str) -> DataFrame:
    """`cols` plus each row's (file, pos) position — the deletion-vector
    row address — of a frame scanned by _read_files."""
    return df.select(*cols, _rel_file_expr().alias("file"),
                     F.col("_metadata.row_index").alias("pos"))


def _attach_partition_cols(df: DataFrame, pby: list,
                           phys_types: dict) -> DataFrame:
    """Derive hive partition columns from `_metadata.file_path`
    (`.../col=value/...`), url-decoded, NULL for the hive default
    marker, cast to the committed type. Runs entirely JVM-side in the
    scan's projection — no per-file reads, no discovery pass."""
    import re as _re

    for p in pby:
        enc = F.regexp_extract(
            F.col("_metadata.file_path"),
            "/" + _re.escape(p) + "=([^/]+)/", 1)
        # TWO decode layers: _metadata.file_path is a URI (the
        # hive-escaped dir name s=x%3Ay arrives as s=x%253Ay), so
        # decode the URI encoding first, then the hive escaping
        raw = _url_decode(_url_decode(enc))
        df = df.withColumn(
            p,
            F.when(raw == _HIVE_NULL, F.lit(None))
            .otherwise(raw).cast(phys_types.get(p, "string")))
    return df


def _read_files(spark: SparkSession, table: str, files: list[str],
                meta: dict, live: dict | None = None) -> DataFrame:
    """Read data files under the COMMITTED schema of the metadata
    record `meta` (see _meta_at): files that predate an additive
    evolution NULL-backfill the new columns, and narrow-generation
    files up-cast in place (int→bigint, float→double) — the
    type-widening read contract a mergeSchema inference cannot provide
    (it refuses to merge int and bigint footers). Falls back to
    mergeSchema for a log that predates schema recording.

    `live` (the snapshot's {file: stats}) additionally applies any
    DELETION VECTORS the stats carry: rows named by (file, position)
    in the snapshot's DV parquet are anti-joined out via the parquet
    reader's `_metadata.row_index` — merge-on-read delete, no file
    rewrite. Callers reading snapshot state MUST pass live or DV'd
    rows silently resurrect.

    Column mapping: the files store PHYSICAL names (stable across
    renames); the scan is pinned to the physical schema and the frame
    is renamed to the record's LOGICAL names at the end — a
    rename-then-read sees old files under the new name with zero
    rewrites."""
    schema, colmap = meta["schema"], meta["colmap"]
    pby = meta["partition_by"]
    if schema:
        phys = {_phys(colmap, c): t for c, t in schema.items()}
        # partition columns live in the DIRECTORY names, not the files
        file_phys = {p: t for p, t in phys.items() if p not in pby}
        reader = spark.read.schema(_schema_ddl(file_phys))
    else:
        phys = {}
        reader = spark.read.option("mergeSchema", "true")
    df = reader.parquet(*[os.path.join(table, f) for f in files])
    if pby and schema:
        # re-materialize hive partition values from the scanned path —
        # one scan over any number of tx dirs (Spark's own partition
        # discovery refuses multiple roots), values typed by the
        # committed schema, NULLs via the hive default marker
        df = _attach_partition_cols(df, pby, phys)
        df = df.select(*phys)  # committed column order
    ren = {p: c for c, p in colmap.items() if p != c}
    if ren:
        df = df.withColumnsRenamed(ren)
    if live:
        dv_dirs = sorted({d for f in files
                          for d in (live.get(f) or {}).get("_dvs", [])})
        if dv_dirs:
            dv = spark.read.schema("file string, pos long").parquet(
                *[os.path.join(table, d) for d in dv_dirs])
            df = (
                df.withColumn("__dv_f", _rel_file_expr())
                .withColumn("__dv_p", F.col("_metadata.row_index"))
                .join(dv,
                      (F.col("__dv_f") == dv["file"])
                      & (F.col("__dv_p") == dv["pos"]),
                      "left_anti")
                .drop("__dv_f", "__dv_p")
            )
    return df


def table_checks(table: str) -> dict:
    """The currently-enforced CHECK constraints."""
    return _meta_at(table, latest_version(table))["checks"]


def table_colmap(table: str) -> dict:
    """The current logical→physical column mapping (empty = identity)."""
    return _meta_at(table, latest_version(table))["colmap"]


def table_partition_by(table: str) -> list:
    """The table's physical partition columns (empty = unpartitioned)."""
    return _meta_at(table, latest_version(table))["partition_by"]


def _phys(colmap: dict, col: str) -> str:
    """Physical name of logical column `col` (identity when unmapped).
    File stats are keyed by PHYSICAL names (stable across renames), so
    every stats-prune translates its predicate column through this."""
    return colmap.get(col, col)


def _check_counts(df: DataFrame, checks: dict) -> tuple[int, dict]:
    """(rows, {constraint name: (violating rows, unknown rows)}) over
    `df` in ONE aggregation pass. SQL-standard CHECK semantics: a row
    violates a constraint only when its predicate is FALSE; a NULL
    (UNKNOWN) predicate passes."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, (col, op, value) in sorted(checks.items()):
        pred = _OPS[op](F.col(col), F.lit(value))
        aggs += [
            F.sum(F.when(pred.eqNullSafe(F.lit(False)), 1).otherwise(0))
            .alias(f"_viol_{name}"),
            F.sum(F.when(pred.isNull(), 1).otherwise(0))
            .alias(f"_unk_{name}")]
    row = df.agg(*aggs).first()
    return int(row["_n"]), {
        n: (int(row[f"_viol_{n}"] or 0), int(row[f"_unk_{n}"] or 0))
        for n in checks}


def _validate_checks(df: DataFrame, checks: dict, table: str) -> None:
    """Reject the write whole when any row of `df` violates a CHECK
    constraint (the Delta ADD CONSTRAINT write contract); the error
    carries the per-constraint violation counts."""
    if not checks:
        return
    bad = {n: viol for n, (viol, _) in
           sorted(_check_counts(df, checks)[1].items()) if viol}
    if bad:
        raise ValueError(
            f"tx CHECK constraint violation for {table}: {bad} rows "
            f"fail {sorted(bad)} — the write is rejected whole "
            "(drop the constraint deliberately or fix the data)")


_CHECK_NAME_RE = r"^[A-Za-z_][A-Za-z0-9_]{0,127}$"


def _latest_meta(table: str) -> tuple[int, dict]:
    """(latest version, its metadata record) for a metadata-only
    commit at the next version; raises on a table with no commits."""
    base = latest_version(table)
    if base < 0:
        raise ValueError(f"{table} has no commits — append first")
    return base, _meta_at(table, base)


def tx_set_check(spark: SparkSession, table: str, name: str,
                 constraint: tuple) -> int:
    """ALTER TABLE ADD CONSTRAINT ... CHECK (the Delta write
    contract): records `constraint` = (col, op, literal) in the log —
    every subsequent append/merge validates its rows and is rejected
    whole on any violation. EXISTING data is validated first (a
    constraint the current table violates raises instead of being
    recorded — Delta semantics). One metadata-only commit; constraints
    ride through checkpoints and survive log cleaning.

    Constraint names are plain identifiers (letter/underscore then
    word characters, <=128 chars): the name is used verbatim as an
    aggregation alias and Row field key in _validate_checks, so a
    name with dots/backticks/spaces would break or mis-resolve every
    subsequent write's validation (ADVICE r13) — rejected here, at
    record time, not at the 400th append.

    RESTORE note: tx_restore reinstates a historical snapshot; by
    default (no session passed) it does NOT re-validate constraints
    added after that snapshot — the Delta RESTORE semantics. Pass
    tx_restore(..., spark=...) to validate the restored rows against
    the constraints currently in force."""
    import re

    if not re.match(_CHECK_NAME_RE, name):
        raise ValueError(
            f"tx CHECK constraint name {name!r} is not a plain "
            "identifier ([A-Za-z_][A-Za-z0-9_]*, <=128 chars) — the "
            "name doubles as an aggregation alias in validation")
    live, _, _, meta, base = _resolve_snapshot(table)
    checks = dict(meta["checks"])
    _validate_checks(_snapshot_rows(spark, table, live, meta),
                     {name: constraint}, table)
    checks[name] = list(constraint)
    _commit(table, base + 1, [], checks=checks)
    return base + 1


def tx_drop_check(table: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: one metadata-only commit."""
    base, meta = _latest_meta(table)
    checks = dict(meta["checks"])
    if name not in checks:
        raise ValueError(f"{table} has no CHECK constraint {name!r} "
                         f"(have {sorted(checks)})")
    del checks[name]
    _commit(table, base + 1, [], checks=checks)
    return base + 1


def tx_rename_column(table: str, old: str, new: str) -> int:
    """ALTER TABLE RENAME COLUMN via column mapping (the Delta
    `columnMapping.mode=name` / Iceberg field-id idea, r13 verdict
    item 3): ONE metadata-only commit changes the LOGICAL name; the
    PHYSICAL name (the name the column was created under) stays on
    disk forever, so ZERO data files are rewritten — old files read
    under the new name through the mapping, new appends write the
    physical name, stats stay keyed by it, and time travel to a
    pre-rename version reads the old name (the contract as of that
    version). CHECK constraints referencing the column are rewritten
    to the new name in the same commit.

    Renaming BACK to the physical name drops the mapping entry
    (identity restored). Renaming TO a name that is another column's
    physical name is rejected — the physical namespace must stay
    unambiguous (the same rule _check_schema enforces for added
    columns)."""
    base, meta = _latest_meta(table)
    schema = meta["schema"]
    if not schema:
        raise ValueError(f"{table} records no schema — cannot rename")
    if old not in schema:
        raise ValueError(f"{table} has no column {old!r} "
                         f"(have {sorted(schema)})")
    if new in schema:
        raise ValueError(f"{table} already has a column {new!r}")
    if not new or "`" in new:
        raise ValueError(f"invalid column name {new!r}")
    colmap = dict(meta["colmap"])
    phys_old = colmap.pop(old, old)
    for c in schema:
        if c != old and _phys(colmap, c) == new:
            raise ValueError(
                f"cannot rename {old!r} to {new!r}: {new!r} is column "
                f"{c!r}'s physical name — pick an unshadowed name")
    if phys_old != new:
        colmap[new] = phys_old
    new_schema = {(new if c == old else c): t for c, t in schema.items()}
    checks = {
        n: [new if spec[0] == old else spec[0], spec[1], spec[2]]
        for n, spec in meta["checks"].items()
    }
    _commit(table, base + 1, [], schema=new_schema, checks=checks,
            colmap=colmap)
    return base + 1


def tx_drop_column(table: str, col: str) -> int:
    """ALTER TABLE DROP COLUMN via column mapping (the second half of
    the Delta/Iceberg rename/drop mapping, r14): ONE metadata-only
    commit removes the LOGICAL column — zero data files rewritten
    (the bytes stay in place; readers simply stop requesting the
    column), time travel to a pre-drop version still reads it, and
    the physical name is RETIRED forever: a later re-add of the same
    logical name (tx_append with evolution) gets a FRESH physical
    name, so old data can never resurrect through it — the field-id
    guarantee, done with names. Rejected for partition columns (the
    directory layout depends on them — Delta's rule) and for columns
    a CHECK constraint references (drop the constraint deliberately
    first); dropping the last column is meaningless."""
    base, meta = _latest_meta(table)
    schema = meta["schema"]
    if not schema:
        raise ValueError(f"{table} records no schema — cannot drop")
    if col not in schema:
        raise ValueError(f"{table} has no column {col!r} "
                         f"(have {sorted(schema)})")
    if len(schema) == 1:
        raise ValueError(
            f"cannot drop {col!r}: it is the last column of {table}")
    colmap = dict(meta["colmap"])
    phys = colmap.pop(col, col)
    if phys in meta["partition_by"]:
        raise ValueError(
            f"cannot drop {col!r}: it is a partition column of "
            f"{table} (the directory layout depends on it)")
    refs = sorted(n for n, spec in meta["checks"].items()
                  if spec[0] == col)
    if refs:
        raise ValueError(
            f"cannot drop {col!r}: CHECK constraints {refs} reference "
            "it — tx_drop_check them deliberately first")
    new_schema = {c: t for c, t in schema.items() if c != col}
    retired = list(meta["retired"])
    if phys not in retired:
        retired.append(phys)
    _commit(table, base + 1, [], schema=new_schema, colmap=colmap,
            retired=retired)
    return base + 1


def check_audit(spark: SparkSession, table: str) -> DataFrame:
    """Constraints-audit readout (r13 verdict item 7): per CHECK
    constraint currently in force, the pass / violate / unknown row
    counts over the CURRENT data — the observable surface of the A20
    write-rejection contract (write rejection itself is not
    one-SQL-observable; this is). ONE aggregation pass computes every
    constraint's counts; SQL-standard three-valued semantics surface
    explicitly: `n_unknown` counts rows where the predicate is NULL
    (those rows PASS the write contract), so
    n_pass + n_violate + n_unknown == n_rows. Enforced invariant: a
    committed table always audits n_violate = 0 — a nonzero count here
    means someone mutated data files out-of-band. Version resolved
    ONCE: the audited rows and the constraint set come from the same
    snapshot, from one listing of the log (the read_table
    single-resolution rule)."""
    live, _, _, meta, _ = _resolve_snapshot(table)
    checks = meta["checks"]
    out = []
    if checks:
        n, counts = _check_counts(_snapshot_rows(spark, table, live, meta),
                                  checks)
        for name, (col, op, value) in sorted(checks.items()):
            viol, unk = counts[name]
            out.append((name, col, op, str(value), n, n - viol - unk,
                        viol, unk))
    return local_frame(
        spark, out,
        "constraint_name string, col string, op string, "
        "value_str string, n_rows long, n_pass long, "
        "n_violate long, n_unknown long")


def _check_schema(df: DataFrame, table: str, evolve: bool, meta: dict,
                  allow_readd: bool = False) -> dict | None:
    """Schema enforcement (the Delta contract): an append whose
    columns drift from the table raises unless `evolve=True`.
    Evolution is additive columns plus sanctioned LOSSLESS widenings
    (int→bigint, float→double — the Delta/Iceberg type-widening set);
    any other type change or a dropped column is always an error
    (silent narrowing corrupts every reader downstream; rewrite the
    table deliberately instead). A source NARROWER than the table is
    accepted without the flag: the committed schema stays the wide
    one and reads up-cast the narrow files in place — no contract
    change happened. `meta` is the metadata record of the caller's
    captured base version, which makes check-then-commit atomic (a
    rival commit in between bumps the version and the commit raises
    TxConflict). Returns the prior schema it checked against (None
    for a fresh table)."""
    prior = meta["schema"]
    if prior is None:
        return None
    now = _schema_fields(df)
    changed = {c: (prior[c], now[c]) for c in prior
               if c in now and now[c] != prior[c]}
    widened = {c: t for c, t in changed.items() if t in _WIDENINGS}
    illegal = {c: t for c, t in changed.items()
               if t not in _WIDENINGS and (t[1], t[0]) not in _WIDENINGS}
    dropped = [c for c in prior if c not in now]
    added = [c for c in now if c not in prior]
    if illegal or dropped:
        raise ValueError(
            f"tx schema change rejected for {table}: "
            f"type changes {illegal}, dropped columns {dropped} — "
            "evolution is additive columns and lossless widening "
            "(int->bigint, float->double) only; rewrite the table to "
            "restructure it (renames: tx_rename_column)")
    if added:
        # an added column may not shadow a renamed column's PHYSICAL
        # name — its files would collide with the mapped column's
        # storage namespace
        renamed = {p for c, p in meta["colmap"].items() if p != c}
        shadow = [c for c in added if c in renamed]
        if shadow:
            raise ValueError(
                f"tx schema evolution rejected for {table}: new "
                f"columns {shadow} shadow a renamed column's physical "
                "name — pick different names")
        # nor may it reuse a DROPPED column's physical name: the old
        # files still hold that column's bytes, which would silently
        # resurrect. tx_append re-adds safely (fresh physical name,
        # allow_readd); other writers route there.
        if not allow_readd:
            reused = [c for c in added if c in meta["retired"]]
            if reused:
                raise ValueError(
                    f"tx schema evolution rejected for {table}: "
                    f"columns {reused} reuse a retired (dropped) "
                    "column's physical name — re-add via tx_append "
                    "(which assigns a fresh physical name) or pick "
                    "different names")
    if (added or widened) and not evolve:
        raise ValueError(
            f"tx schema drift for {table}: new columns {added}, "
            f"widened types {widened} — pass "
            "allow_schema_evolution=True to apply them deliberately")
    return prior


def _footer_file_stats(path: str, cols: list[str]) -> dict | None:
    """min/max stats for `cols` from one parquet file's footer, or None
    when any chunk lacks usable statistics (caller falls back). Chunks
    are matched by EXACT path_in_schema — ADVICE r14: matching by LEAF
    name let a nested struct field named like a stat column alias the
    wrong chunk; any absent/ambiguous path disqualifies the file. A
    file with zero rows returns {} (caller skips it, mirroring the
    read-back aggregate, which emits no group for an empty part
    file)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    if md.num_rows == 0:
        return {}
    stats = {"rows": md.num_rows, "bytes": os.path.getsize(path)}
    if not cols:
        return stats
    paths = [md.row_group(0).column(i).path_in_schema
             for i in range(md.num_columns)]
    for c in cols:
        if paths.count(c) != 1:
            return None  # absent or ambiguous leaf path: fall back
        idx = paths.index(c)
        mn = mx = None
        for rg in range(md.num_row_groups):
            cc = md.row_group(rg).column(idx)
            st = cc.statistics
            rg_rows = md.row_group(rg).num_rows
            if st is None or (not st.has_min_max
                              and not (st.has_null_count
                                       and st.null_count == rg_rows)):
                return None  # rows present but no stats: fall back
            if st.has_min_max:
                v_mn, v_mx = st.min, st.max
                mn = v_mn if mn is None else min(mn, v_mn)
                mx = v_mx if mx is None else max(mx, v_mx)
        stats[c] = [mn, mx]
    return stats


def _classify_part_value(raw: str) -> tuple:
    """Classify one hive partition dir value (already unescaped):
    ("null", None) for the hive NULL marker, ("int", i) for a
    CANONICAL integer rendering, ("str", raw) for a value no Spark
    partition-type inference rule would re-type, ("amb", None) for
    anything inference could plausibly parse as a number, date or
    timestamp (non-canonical ints, float/decimal/scientific notation,
    ISO-date prefixes) — those force the read-back fallback so Spark
    itself does the typing."""
    import re as _re

    if raw == _HIVE_NULL:
        return "null", None
    try:
        i = int(raw)
        return ("int", i) if str(i) == raw else ("amb", None)
    except ValueError:
        pass
    try:
        float(raw)
        return "amb", None
    except ValueError:
        pass
    if _re.match(r"^\d{4}-\d{2}-\d{2}", raw):
        return "amb", None
    return "str", raw


def _type_part_column(raw_values: list) -> dict | None:
    """COLUMN-WIDE partition typing, replicating Spark's inference
    rule (the read-back lane's source of truth): Spark types the whole
    column, not each value — all canonical ints ⇒ int; any plain
    string in the mix ⇒ EVERY value reads back as its raw string; any
    ambiguous value ⇒ None (no fast path). Returns {raw -> typed} or
    None."""
    kinds = {}
    for raw in raw_values:
        kinds[raw] = _classify_part_value(raw)
        if kinds[raw][0] == "amb":
            return None
    non_null = {k for k, (kind, _v) in kinds.items() if kind != "null"}
    all_int = all(kinds[k][0] == "int" for k in non_null)
    out = {}
    for raw, (kind, val) in kinds.items():
        if kind == "null":
            out[raw] = None
        elif all_int:
            out[raw] = val
        else:
            out[raw] = raw  # column is string-typed: raw rendering
    return out


def _footer_stats_actions(dest: str, sub: str, cols: list[str],
                          partition_by: list | None = None
                          ) -> list[dict] | None:
    """Per-file add-action stats from the parquet FOOTERS of the files
    just written — the production table-format idiom (Delta/Iceberg
    take write stats from the writer, never from a second read), and
    one whole Spark job less per commit than the read-back aggregate.
    Driver-side metadata reads, O(touched files) like the commit
    itself. Returns None when any stat column is non-numeric or any
    footer lacks usable statistics (the caller then falls back to the
    read-back aggregate, which is always correct):

    - only integer/float/boolean columns qualify — parquet writers may
      TRUNCATE binary (string) min/max, which would record a prefix as
      the min and corrupt stats pruning;
    - a chunk with rows but no min/max (e.g. a double chunk holding
      NaN — writers drop stats rather than mis-order NaN) disqualifies
      the file: Spark's MAX treats NaN as the largest double, footer
      stats ignore it, and recording the smaller max could let a
      reader prune a file that matches. The fallback reproduces the
      old numbers exactly in every such case.

    `partition_by` (r15, VERDICT item 4): hive-partitioned writes
    qualify too — dir names are unescaped driver-side (unquote — the
    same %XX layer F.url_decode removes on the read side), values
    typed by the column-wide inference replica (_type_part_column;
    anything Spark could type differently falls back), partition
    columns get the read-back lane's [v, v] stats and `_part` entry.
    """
    import glob as _glob

    import pyarrow.parquet as pq

    partition_by = partition_by or []
    files = sorted(_glob.glob(os.path.join(
        dest, *(["*=*"] * len(partition_by)), "*.parquet")))
    if not files:
        return []
    file_cols = [c for c in cols if c not in partition_by]
    schema = pq.read_schema(files[0])
    import pyarrow as pa

    for c in file_cols:
        if c not in schema.names:
            return None
        t = schema.field(c).type
        if not (pa.types.is_integer(t) or pa.types.is_floating(t)
                or pa.types.is_boolean(t)):
            return None
    # decode + column-type the partition values across ALL files first
    # (Spark's inference is column-wide, so per-file typing would drift
    # from the read-back lane on mixed values)
    from urllib.parse import unquote

    raw_parts: dict[str, list] = {}  # path -> [raw value per pcol]
    if partition_by:
        per_col: list[list] = [[] for _ in partition_by]
        for path in files:
            comps = os.path.relpath(os.path.dirname(path),
                                    dest).split(os.sep)
            if len(comps) != len(partition_by):
                return None
            raws = []
            for j, (p, comp) in enumerate(zip(partition_by, comps)):
                if not comp.startswith(f"{p}="):
                    return None
                raw = unquote(comp[len(p) + 1:])
                raws.append(raw)
                per_col[j].append(raw)
            raw_parts[path] = raws
        typed = [_type_part_column(v) for v in per_col]
        if any(t is None for t in typed):
            return None
    actions = []
    for path in files:
        stats = _footer_file_stats(path, file_cols)
        if stats is None:
            return None
        if not stats:
            continue  # empty part file: no add action (as before)
        if partition_by:
            part_vals = {p: typed[j][raw_parts[path][j]]
                         for j, p in enumerate(partition_by)}
            for p in partition_by:
                stats[p] = [part_vals[p], part_vals[p]]
            stats["_part"] = part_vals
        rel = os.path.join(sub, os.path.relpath(path, dest))
        actions.append({"op": "add", "file": rel, "stats": stats})
    return actions


def _write_dv(table: str, hits: DataFrame) -> list[dict]:
    """Write the (file, pos) position deletes `hits` (see _positions)
    as ONE deletion-vector parquet dir `data/dv-<uuid>` and return a
    `dv` action per data file it names — [] with the dir removed when
    nothing matched. The named files are read driver-side from the
    written 'file' column only (dictionary-encoded strings —
    metadata-scale bytes even for billions of positions), so learning
    what was just written launches no Spark job."""
    import glob as _glob
    import shutil

    import pyarrow.parquet as pq

    sub = os.path.join("data", f"dv-{uuid.uuid4().hex[:12]}")
    dest = os.path.join(table, sub)
    hits.write.parquet(dest)
    files: set[str] = set()
    for p in _glob.glob(os.path.join(dest, "*.parquet")):
        files.update(pq.read_table(p, columns=["file"])
                     .column("file").unique().to_pylist())
    if not files:
        shutil.rmtree(dest, ignore_errors=True)
    return [{"op": "dv", "file": f, "dv": sub} for f in sorted(files)]


def _write_files(df: DataFrame, table: str,
                 stats_cols: list[str] | None,
                 meta: dict = _META) -> list[dict]:
    """Write the LOGICAL-named dataframe as new data files under
    data/tx-<uuid>/, laid out by the metadata record `meta` (column
    mapping and partitioning; the defaults write an identity-mapped,
    unpartitioned table), and return their add-actions with per-file
    min/max stats for the logical `stats_cols`. Files and stats carry
    PHYSICAL names. Stats come from the parquet FOOTERS when every stat
    column is numeric (the production-format idiom — zero extra Spark
    jobs; see _footer_stats_actions); otherwise from one read of the
    delta grouped by input_file_name (same numbers).

    A partitioned table writes hive-style `col=value` directories under
    the tx dir (one file never spans partitions); partition values are
    recorded TYPED in each add-action's stats under `_part`, and the
    partition columns get [v, v] min/max stats — which is what lets
    _overlaps prune a partition predicate. Stat and partition columns
    must be JSON-primitive types (string/int/float/bool)."""
    spark = df.sparkSession
    colmap, partition_by = meta["colmap"], meta["partition_by"]
    ren = {c: p for c, p in colmap.items() if p != c and c in df.columns}
    if ren:
        df = df.withColumnsRenamed(ren)
    stats_cols = [_phys(colmap, c) for c in stats_cols or []]
    sub = os.path.join("data", f"tx-{uuid.uuid4().hex[:12]}")
    dest = os.path.join(table, sub)
    df.write.partitionBy(*partition_by).parquet(dest)
    # an EMPTY partitioned write emits no part files at all (plain
    # writes emit one schema-carrying empty file) — no add actions
    if partition_by and not any(
            fn.endswith(".parquet")
            for _root, _dirs, fns in os.walk(dest) for fn in fns):
        return []
    # footer fast path (partitioned too — hive dir values are decoded
    # driver-side; any value Spark's column-wide partition inference
    # could type differently falls back to the read-back lane below,
    # which stays the source of truth)
    actions = _footer_stats_actions(dest, sub, stats_cols, partition_by)
    if actions is not None:
        return actions
    # basePath re-materializes any partition columns for the stats
    back = spark.read.option("basePath", dest).parquet(dest)
    cols = stats_cols + [p for p in partition_by if p not in stats_cols]
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    rows = (
        back.groupBy(F.input_file_name().alias("_f")).agg(*aggs).collect()
    )
    actions = []
    from urllib.parse import unquote

    for r in rows:
        # relative path INCLUDING partition dirs: everything from the
        # uuid'd tx dir on (unique in the URI by construction).
        # input_file_name() returns a URI, so hive-escaped dir names
        # (s=p%3Dq) arrive double-encoded (%253D) — unquote ONCE back
        # to the on-disk name (unquote leaves literal '+' alone)
        uri = r["_f"]
        rel = unquote(uri[uri.index(sub):])
        stats = {"rows": r["_rows"],
                 "bytes": os.path.getsize(os.path.join(table, rel))}
        for c in cols:
            stats[c] = [r[f"_min_{c}"], r[f"_max_{c}"]]
        if partition_by:
            stats["_part"] = {p: r[f"_min_{p}"] for p in partition_by}
        actions.append({"op": "add", "file": rel, "stats": stats})
    return actions


def _discard_written(table: str, actions: list[dict]) -> None:
    """Remove the data dirs a failed (never-committed) write produced —
    they are invisible to every reader (the log never references them),
    so this is cleanup, not a state change. Removes the whole tx dir
    (partitioned writes nest hive dirs below it)."""
    import shutil

    for d in sorted({os.path.join(*a["file"].split("/")[:2])
                     for a in actions if a["op"] == "add"}):
        shutil.rmtree(os.path.join(table, d), ignore_errors=True)


def _check_written(spark: SparkSession, table: str, actions: list[dict],
                   meta: dict) -> None:
    """Validate the CHECK constraints of the metadata record `meta`
    against the rows the pending commit's add actions WROTE — read back
    from the files under `meta` (the merged schema and the column
    mapping they were written under), not a second evaluation of a
    possibly non-deterministic source (ADVICE r13: rand()/timestamp
    sources could otherwise commit rows that were never validated;
    Delta enforces invariants on the rows actually written). A
    violation discards the uncommitted files and re-raises."""
    files = [a["file"] for a in actions if a["op"] == "add"]
    if not meta["checks"] or not files:
        return
    try:
        _validate_checks(_read_files(spark, table, files, meta),
                         meta["checks"], table)
    except ValueError:
        _discard_written(table, actions)
        raise


def tx_append(df: DataFrame, table: str,
              stats_cols: list[str] | None = None,
              txn: dict | None = None,
              allow_schema_evolution: bool = False,
              partition_by: list[str] | None = None) -> int:
    """Append-only commit: new files + one log entry, O(delta).
    Returns the committed version.

    `partition_by` (r13 verdict item 4, first commit only): the table
    becomes hive-partitioned — every write lays files out under
    `col=value` directories, partition values ride typed in the log,
    and a partition predicate prunes whole partitions through the
    [v, v] stats every partitioned file records for its partition
    columns (with no stats_cols needed — the prune a 100 TB read
    needs).
    The partition spec is fixed at creation (the Delta/Iceberg
    contract); later appends may restate it but not change it."""
    actions = None
    # blind appends COMMUTE, so a lost race is retried at the next
    # version number automatically (the Delta protocol's append
    # auto-resolution); read-modify-write ops (delete/merge/compact)
    # get the converse through _commit_rmw: rival blind appends
    # commute with them, anything touching their read set or the
    # table metadata surfaces TxConflict.
    # Each attempt captures base = latest_version FIRST and runs the
    # txn-replay and schema checks AGAINST THAT BASE, then commits at
    # base+1: a rival commit landing anywhere in the window (including
    # during the multi-second _write_files) bumps the version, the
    # commit raises TxConflict, and the checks re-run against the new
    # state — no stale-check/fresh-commit TOCTOU. A rival replay of
    # the same (app, batch) therefore turns the retry into a no-op,
    # and a rival schema evolution fails the retry loudly instead of
    # being silently regressed by a stale schema recommit.
    colmap_used = None
    for _ in range(20):
        js, cs = _log_versions(table)
        base = _latest(js, cs)
        if txn is not None:
            last = _txn_mark(table, txn["app"], base, js, cs)
            if last is not None and txn["batch"] <= last:
                return base  # idempotent replay: no-op
        meta = _meta_at(table, base)
        prior = _check_schema(df, table, allow_schema_evolution, meta,
                              allow_readd=True)
        # files store PHYSICAL names; a rival RENAME between retries
        # invalidates already-written files (wrong physical names) —
        # discard and rewrite under the new mapping
        colmap = meta["colmap"]
        # re-adding a DROPPED column name: assign a FRESH physical
        # name so the old files' bytes (under the retired name) can
        # never resurrect — the new column starts NULL everywhere
        retired = meta["retired"]
        readds = [c for c in df.columns
                  if c in retired and c not in (prior or {})]
        if readds:
            colmap = dict(colmap)
            taken = (set(retired) | set(df.columns)
                     | {_phys(colmap, x) for x in (prior or {})})
            for c in readds:
                i = 2
                while f"{c}__{i}" in taken:
                    i += 1
                colmap[c] = f"{c}__{i}"
                taken.add(f"{c}__{i}")
        pby = meta["partition_by"]
        if partition_by is not None:
            req = [_phys(colmap, c) for c in partition_by]
            if base < 0:
                pby = req
            elif req != pby:
                raise ValueError(
                    f"tx partition spec is fixed at table creation: "
                    f"{table} is partitioned by {pby}, append asked "
                    f"for {req}")
        # record the MERGED schema: a narrow source never regresses a
        # widened table; a widening/evolving source promotes it
        rec = dict(meta, colmap=colmap, partition_by=pby,
                   schema=_merged_schema(prior or {}, _schema_fields(df)))
        if actions is not None and colmap != colmap_used:
            _discard_written(table, actions)
            actions = None
        if actions is None:
            actions = _write_files(df, table, stats_cols, rec)
            colmap_used = colmap
        # CHECK constraints as of base: a rival changing them mid-write
        # forces TxConflict at base+1 and this re-validates (the same
        # pinning as the schema check)
        _check_written(df.sparkSession, table, actions, rec)
        try:
            _commit(table, base + 1, actions, txn, **rec)
            return base + 1
        except TxConflict:
            continue
    raise TxConflict(
        f"append to {table} lost 20 straight version races — "
        "writer storm, back off")


def _commit_rmw(table: str, base: int, actions: list[dict],
                read_set: set, meta: dict, **changes) -> int:
    """Commit a read-modify-write op (delete/merge/compact) with
    Delta-style LOGICAL conflict resolution (the ConflictChecker /
    WriteSerializable behavior): losing the version race to a rival
    commit no longer aborts unconditionally — the rival's commits are
    inspected, and if they are BLIND APPENDS that touched none of the
    files this op read (`read_set`) and changed no table metadata,
    the same actions re-commit at the next version (the rival's new
    files simply stay live — appends commute with file-granular
    rewrites of OTHER files). A rival that removed or DV'd a file in
    the read set, changed schema/checks/colmap/partitioning, or whose
    commit was already cleaned away raises TxConflict: the op's
    derivation is genuinely stale and the CALLER must re-derive.
    At 100 TB this is the difference between nightly compaction
    blocking every ingest writer and the two proceeding unbothered.
    `meta` is the metadata record at `base`; `changes` overlay it
    (see _commit)."""
    v = base
    for _ in range(20):
        try:
            # a retry commits past rivals whose metadata equals `meta`
            # (checked below), so `meta` stays the prior record
            _commit(table, v + 1, actions, **dict(meta, **changes))
            return v + 1
        except TxConflict:
            latest = latest_version(table)
            for rv in range(v + 1, latest + 1):
                try:
                    e = _read_json_commit(table, rv)
                except FileNotFoundError:
                    raise TxConflict(
                        f"version {rv} of {table} was cleaned while "
                        "this writer raced — re-derive from the "
                        "latest snapshot") from None
                for a in e["actions"]:
                    if a["op"] in ("remove", "dv") and \
                            a["file"] in read_set:
                        raise TxConflict(
                            f"concurrent commit {rv} {a['op']}d "
                            f"{a['file']}, which this operation read "
                            "— re-derive from the latest snapshot")
            # e is the commit at `latest`: its record against base's
            if _meta_from(e.get) != meta:
                raise TxConflict(
                    f"concurrent metadata change on {table} "
                    "(schema/constraints/column mapping/partitioning/"
                    "dropped columns) "
                    "— re-derive from the latest snapshot")
            v = latest
    raise TxConflict(
        f"read-modify-write on {table} lost 20 straight version "
        "races — writer storm, back off")


def _overlaps(stats: dict, col: str, op: str, value) -> bool:
    """Can a file with these stats contain a row matching
    `col op value`? Missing stats → must read (never skip blindly)."""
    rng = stats.get(col)
    if not rng or rng[0] is None:
        return True
    lo, hi = rng
    if op == "=":
        return lo <= value <= hi
    if op == "<=":
        return lo <= value
    if op == "<":
        return lo < value
    if op == ">=":
        return hi >= value
    if op == ">":
        return hi > value
    raise ValueError(f"unsupported predicate op {op!r}")


def _matching_files(live: dict, meta: dict, where: tuple) -> list[str]:
    """The live files (sorted) whose stats can hold a row matching
    `where` = (logical col, op, literal) — log-level data skipping. A
    partition column prunes through the same min/max test: every
    partitioned add action records [v, v] stats for it."""
    col, op, value = where
    pcol = _phys(meta["colmap"], col)
    return [f for f in sorted(live) if _overlaps(live[f], pcol, op, value)]


_OPS = {
    "=": lambda c, v: c == v,
    "<=": lambda c, v: c <= v,
    "<": lambda c, v: c < v,
    ">=": lambda c, v: c >= v,
    ">": lambda c, v: c > v,
}


def read_table(spark: SparkSession, table: str,
               version: int | None = None,
               where: tuple | None = None,
               timestamp: float | None = None) -> DataFrame:
    """Snapshot read (time travel with `version=`, or TIMESTAMP AS OF
    with `timestamp=` — resolved to the latest commit at or before it,
    the Delta rule). `where` is a simple predicate tuple (col, op,
    literal): files whose stats cannot contain a match are pruned
    BEFORE the scan, and the residual filter is applied to the
    survivors — log-level data skipping. Empty snapshots need the
    schema from somewhere, so an empty live set raises (a table with
    zero commits is a bug at this layer, not an empty DataFrame)."""
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "pass version= OR timestamp=, not both")
        version = version_at_timestamp(table, timestamp)
    # resolve 'latest' ONCE: files and schema must come from the SAME
    # version — a rival evolution committing between two independent
    # resolutions would return snapshot-N rows under schema@N+1 (r13
    # review finding); one replay yields both
    live, _, _, meta, _ = _resolve_snapshot(table, version)
    return _snapshot_rows(spark, table, live, meta, where)


def _snapshot_rows(spark: SparkSession, table: str, live: dict,
                   meta: dict, where: tuple | None = None) -> DataFrame:
    """The rows of a resolved snapshot (`live` files, `meta` record),
    `where` pruning files by their stats and then filtering rows."""
    if not live:
        raise ValueError(f"{table} snapshot is empty")
    files = sorted(live)
    if where is not None:
        # no file can match: keep the whole list rather than one
        # arbitrary file, which could predate an additive evolution
        # and lack new columns — the filter below matches nothing and
        # parquet row-group stats skip the data pages
        files = _matching_files(live, meta, where) or files
    df = _read_files(spark, table, files, meta, live)
    if where is not None:
        col, op, value = where
        df = df.filter(_OPS[op](F.col(col), F.lit(value)))
    return df


def tx_delete_where(spark: SparkSession, table: str, where: tuple,
                    stats_cols: list[str] | None = None,
                    deletion_vectors: bool = False) -> int:
    """File-granular delete: only files whose stats can contain a
    matching row are touched; every other file is untouched.

    Two physical strategies, same logical result:
    - copy-on-write (default): touched files are REWRITTEN (survivor
      rows re-added) in one atomic remove+add commit — reads stay
      plain scans, the delete pays the rewrite.
    - `deletion_vectors=True` (the Delta DV / Iceberg v2
      position-delete design): the matching rows' (file, row_index)
      positions are written as a small DV parquet and the commit
      records only `dv` actions — ZERO data files rewritten, so
      deleting 100 rows from a 1 GB file costs O(deleted rows), the
      100 TB delete story. Reads merge-on-read: _read_files anti-joins
      the positions via `_metadata.row_index`. Later DVs accumulate;
      compaction/merge rewrites fold DVs away (their rows vanish with
      the removed file); vacuum keeps DV files alive while any kept
      snapshot references them. Both modes are NULL-safe: a NULL
      predicate never deletes a row."""
    live, _, _, meta, base = _resolve_snapshot(table)
    touched = _matching_files(live, meta, where)
    if not touched:
        # no file's stats can contain a match: a no-op delete commits
        # NOTHING — an empty version would pollute history and the CDF
        # version sequence for zero state change
        return base
    col, op, value = where
    pred = _OPS[op](F.col(col), F.lit(value))
    if deletion_vectors:
        # positions read WITH the current DVs applied: rows already
        # deleted must not be re-recorded; pred IS TRUE keeps NULL
        # rows out
        actions = _write_dv(table, _positions(
            _read_files(spark, table, touched, meta, live)
            .filter(pred.eqNullSafe(F.lit(True)))))
        if not actions:
            return base  # stats overlapped but nothing matched
        return _commit_rmw(table, base, actions, set(touched), meta)
    # NULL-safe survivor filter: ~(col op value) is NULL (not false)
    # when the column is NULL, and a plain filter drops NULL rows —
    # silently deleting rows the predicate never matched. A delete
    # keeps every row whose predicate is not TRUE.
    return _rewrite(spark, table, base, live, meta, touched, stats_cols,
                    lambda df: df.filter(F.coalesce(~pred, F.lit(True))))


def _rewrite(spark: SparkSession, table: str, base: int, live: dict,
             meta: dict, files: list[str], stats_cols: list[str] | None,
             reshape) -> int:
    """The copy-on-write tail: read `files` (deletion vectors applied),
    `reshape` the rows (filter or re-layout), write them as new files,
    and commit remove(files) + the adds at base+1 through _commit_rmw
    with `files` as the read set — the schema carries forward and
    rival blind appends commute."""
    actions = _write_files(
        reshape(_read_files(spark, table, files, meta, live)), table,
        stats_cols, meta)
    actions += [{"op": "remove", "file": f} for f in files]
    return _commit_rmw(table, base, actions, set(files), meta)


def _cluster(df: DataFrame, cluster_by, target_files: int) -> DataFrame:
    """Re-layout for a compaction rewrite: a single column
    range-clusters (tight disjoint 1-D min/max per file); a PAIR of
    numeric columns Z-ORDERS (Morton-interleaved equi-width ranks via
    operators/layout.py — every file gets a small min/max BOX in both
    dimensions, so stats pruning works on either column alone: the
    Delta OPTIMIZE ZORDER layout)."""
    if cluster_by is None:
        return df.repartition(target_files)
    if isinstance(cluster_by, (list, tuple)):
        if len(cluster_by) == 1:
            cluster_by = cluster_by[0]
        elif len(cluster_by) == 2:
            from saurav_nayak_recipe_etl_project_spark.operators.layout import (
                optimize_layout_zorder,
            )

            return optimize_layout_zorder(
                df, cluster_by[0], cluster_by[1], target_files)
        else:
            raise ValueError(
                "cluster_by supports one column (range) or two "
                "(Z-order); higher dimensions dilute pruning power "
                "per dimension — pick the two hottest predicates")
    return df.repartitionByRange(
        target_files, cluster_by).sortWithinPartitions(cluster_by)


def tx_compact(spark: SparkSession, table: str, target_files: int = 1,
               stats_cols: list[str] | None = None,
               cluster_by=None) -> int:
    """Fold the live file set into `target_files` files — remove+add
    in ONE commit, so every reader sees either the old layout or the
    new one, never both or neither. `cluster_by` range-partitions +
    sorts the rewrite on that column so post-compact files carry
    TIGHT DISJOINT min/max ranges and stats skipping stays effective
    after compaction; a PAIR of columns Z-orders the rewrite
    (Morton-interleaved ranks — both columns prune alone, the Delta
    OPTIMIZE ZORDER layout)."""
    live, _, _, meta, base = _resolve_snapshot(table)
    return _rewrite(spark, table, base, live, meta, sorted(live),
                    stats_cols,
                    lambda df: _cluster(df, cluster_by, target_files))


def tx_optimize(spark: SparkSession, table: str,
                target_file_bytes: int = 128 * 1024 * 1024,
                stats_cols: list[str] | None = None,
                cluster_by=None,
                where: tuple | None = None) -> int:
    """Bin-packing OPTIMIZE (the Delta OPTIMIZE / small-file
    compaction, r14): rewrite ONLY the live files smaller than
    `target_file_bytes` into ~target-sized files; files already at
    target are NOT touched — unlike `tx_compact`, which rewrites the
    whole table, this is the nightly maintenance shape that stays
    O(small files) at any table size. Sizes come from the per-file
    `bytes` stats (getsize fallback for pre-r14 commits). Deletion
    vectors on the packed files fold away with the rewrite; packing is
    partition-aware for free (_write_files re-partitions hive layout);
    a rival blind append during the pack commutes via _commit_rmw —
    OPTIMIZE never blocks ingest. No-op (no commit) when fewer than
    two small files exist. Returns the committed (or current)
    version.

    `where=(col, op, literal)` scopes the pack to the files the
    predicate can match — OPTIMIZE WHERE, the partition-scoped
    maintenance shape: at 100 TB you pack TODAY'S partition after the
    day closes, not the whole table; files other partitions own are
    untouched by construction (their partition columns' [v, v] stats
    cannot match)."""
    live, _, _, meta, base = _resolve_snapshot(table)
    if where is not None:
        live = {f: live[f] for f in _matching_files(live, meta, where)}

    def _size(f: str, st: dict) -> int:
        b = st.get("bytes")
        if b is None:
            try:
                b = os.path.getsize(os.path.join(table, f))
            except OSError:
                b = 0
        return int(b)

    small = {f: b for f, st in live.items()
             if (b := _size(f, st)) < target_file_bytes}
    # a small file carrying deletion vectors is worth rewriting even
    # alone (the pack folds the DV read tax away)
    if len(small) < 2 and not any(
            live[f].get("_dvs") for f in small):
        return base
    n_out = max(1, -(-sum(small.values()) // target_file_bytes))
    return _rewrite(
        spark, table, base, live, meta, sorted(small), stats_cols,
        lambda df: (df.coalesce(n_out) if cluster_by is None
                    else _cluster(df, cluster_by, n_out)))


def tx_merge(spark: SparkSession, table: str, source: DataFrame,
             key: str, stats_cols: list[str] | None = None,
             allow_schema_evolution: bool = False,
             matched_delete: tuple | None = None,
             matched_update_condition: tuple | None = None,
             deletion_vectors: bool = False) -> int:
    """Row-level MERGE: source rows REPLACE table rows with the same
    `key`; unmatched source rows are INSERTED — the maintenance.py
    docstring's "table format with row-level merge", delivered.

    Full Delta-style clause set, evaluated in order per matched row:
    - `matched_delete=(col, op, literal)` — WHEN MATCHED AND <cond>
      THEN DELETE: matched target rows whose SOURCE row satisfies the
      condition are dropped (neither kept nor replaced; the source row
      is not written).
    - `matched_update_condition=(col, op, literal)` — WHEN MATCHED AND
      <cond> THEN UPDATE: matched rows are replaced only when the
      source row satisfies the condition; otherwise the TARGET row is
      retained. Omitted = unconditional update (upsert).
    Both conditions reference the SOURCE row and are NULL-SAFE: a
    condition evaluating to NULL does NOT fire the clause (standard
    SQL WHEN MATCHED AND semantics — the tx_delete_where lesson,
    applied via IS TRUE, never a bare filter). Unmatched source rows
    insert unconditionally regardless of either clause.

    File-granular: only live files whose `key` stats overlap the
    source's key range are rewritten (coarse range prune driver-side;
    the key joins below are what guarantee correctness — production
    formats refine the prune with a bloom or an inner join on file
    ranges, same contract). A source with duplicate keys raises (the
    Delta MERGE multiple-match rule) — an upsert that applies "one of"
    two updates silently is a corruption, not a convenience.

    `deletion_vectors=True` (the Delta DV-MERGE / merge-on-read
    upsert, r13 verdict item 2): instead of REWRITING every
    stat-overlapping file, the matched target rows a clause fires on
    (delete OR update) are recorded as position deletes in a DV
    parquet, and only the REPLACEMENT rows (fired updates + inserts)
    are appended as new files — ZERO data files removed, so a 1-row
    upsert into a table of 1 GB files costs O(changed rows), not
    O(touched file bytes): the dominant write-amplification cliff at
    100 TB. Matched rows no clause fires on stay in place untouched.
    Repeated DV merges ACCUMULATE vectors on the same files;
    compaction and COW rewrites fold them away; CDF reports a DV'd
    file as modified in place — all inherited from the A19 read
    path."""
    # ONE aggregate job answers key range, emptiness, AND the
    # duplicate-key rule (count == distinct count ⟺ key-unique) —
    # folding what used to be two source scans
    klo, khi, n_rows, n_keys = source.agg(
        F.min(key), F.max(key), F.count(F.lit(1)),
        F.countDistinct(key)).first()
    if n_rows != n_keys:
        raise ValueError(
            f"tx_merge: source has duplicate {key} values — an upsert "
            "must be key-unique (dedupe upstream, deliberately)")
    # capture base BEFORE any further check (the tx_append TOCTOU
    # lesson, ADVICE r12): the schema check and the snapshot are both
    # pinned to this version, and the O_EXCL commit at base+1
    # linearizes — a rival schema-evolution commit landing during the
    # min/max agg or the file writes forces TxConflict instead of
    # being schema-checked against the pre-rival version and silently
    # dropped from _schema_fields(merged)
    live, _, _, meta, base = _resolve_snapshot(table)
    prior = _check_schema(source, table, allow_schema_evolution,
                          meta) or {}
    if klo is None:
        return base  # empty source: no-op, no empty commit
    pkey = _phys(meta["colmap"], key)
    touched = [
        f for f in sorted(live)
        if _overlaps(live[f], pkey, ">=", klo)
        and _overlaps(live[f], pkey, "<=", khi)
    ]

    def _cond_true(cond: tuple):
        c, op, v = cond
        # IS TRUE: NULL never fires a clause
        return _OPS[op](F.col(c), F.lit(v)).eqNullSafe(F.lit(True))

    tgt = None
    if touched:
        tgt = _read_files(spark, table, touched, meta, live)
    repl = None  # keys whose matched TARGET row leaves the table
    if matched_delete is None and matched_update_condition is None:
        # plain upsert: survivors = unmatched targets, write-all source
        survivors = (None if tgt is None or deletion_vectors
                     else tgt.join(source.select(key), key, "left_anti"))
        to_write = source
        repl = source.select(key)
    else:
        del_f = (_cond_true(matched_delete) if matched_delete is not None
                 else F.lit(False))
        upd_f = (_cond_true(matched_update_condition)
                 if matched_update_condition is not None else F.lit(True))
        flags = source.select(
            F.col(key), del_f.alias("__tx_del"), upd_f.alias("__tx_upd"))
        if tgt is None:
            survivors = None
            to_write = source  # nothing can match: all-insert
        else:
            # a matched target row leaves when EITHER clause fires
            # (delete drops it, update replaces it)
            repl = (flags
                    .filter(F.col("__tx_del") | F.col("__tx_upd"))
                    .select(key))
            # target rows kept: unmatched, or matched with neither
            # clause firing (delete wins over update, Delta clause
            # order). DV mode never rewrites survivors — they stay in
            # their files and the fired rows are masked by position.
            survivors = None
            if not deletion_vectors:
                survivors = (
                    tgt.join(flags.withColumn("__tx_m", F.lit(True)),
                             key, "left")
                    .filter(F.col("__tx_m").isNull()
                            | (~F.col("__tx_del") & ~F.col("__tx_upd")))
                    .drop("__tx_del", "__tx_upd", "__tx_m"))
            # source rows written: unmatched inserts + matched updates
            # that fire and are not deletes. The anti and semi joins
            # each re-scan the touched files, but pruned to the single
            # key column (footer + one column chunk — a small fraction
            # of the survivors' full-width read); materializing the
            # key set instead would pin an unbounded frame, and a
            # distinct+join replacement costs a shuffle the pruned
            # scans avoid.
            tkeys = tgt.select(key)
            src_f = (source
                     .withColumn("__tx_del", del_f).withColumn("__tx_upd", upd_f))
            ins = src_f.join(tkeys, key, "left_anti")
            upd = (src_f.join(tkeys, key, "left_semi")
                   .filter(~F.col("__tx_del") & F.col("__tx_upd")))
            to_write = ins.unionByName(upd).drop("__tx_del", "__tx_upd")
    write_df: DataFrame | None = None
    if deletion_vectors and tgt is not None:
        # merge-on-read MERGE: position-delete the fired matched rows,
        # append only the replacement rows — zero data files removed.
        # Positions are read WITH current DVs applied (already-masked
        # rows are never re-recorded — the tx_delete_where discipline).
        hits = (_positions(_read_files(spark, table, touched, meta, live),
                           key)
                .join(repl, key, "left_semi").select("file", "pos"))
        # the DV-position write and the replacement-row probe+write
        # are independent (distinct dirs; both scan the key-pruned
        # touched files + source), so they run CONCURRENTLY from
        # driver threads (guide §2.6) — the two heaviest jobs of a DV
        # merge overlap instead of adding. Both outputs stay invisible
        # until the single _commit_rmw below, so atomicity/idempotency
        # are unchanged; action order in the log is composed
        # deterministically after both finish, exactly as before.
        from saurav_nayak_recipe_etl_project_spark.streaming import (
            parallel_actions,
        )

        res: dict = {"dv": [], "adds": None}

        def _dv() -> None:
            res["dv"] = _write_dv(table, hits)

        def _repl() -> None:
            # plain upsert writes the whole (non-empty) source — no
            # probe needed; the clause path may write nothing
            # (all-delete)
            if to_write is source or to_write.limit(1).count():
                res["adds"] = _write_files(to_write, table, stats_cols,
                                           meta)

        parallel_actions(_dv, _repl)
        if res["adds"] is not None:
            write_df = to_write
        elif not res["dv"]:
            return base  # nothing fired, nothing to insert: no-op
        actions = res["dv"] + (res["adds"] or [])
    else:
        # copy-on-write: rewrite the touched files whole.
        # allowMissingColumns: under additive evolution the survivors
        # lack the source's new columns — they fill as NULL, the
        # mergeSchema read contract
        write_df = (to_write if survivors is None
                    else survivors.unionByName(to_write,
                                               allowMissingColumns=True))
        actions = [{"op": "remove", "file": f} for f in touched]
        actions += _write_files(write_df, table, stats_cols, meta)
    # CHECK constraints validated against the WRITTEN BYTES (as in
    # tx_append): every row this commit makes newly live is in the new
    # files; a violation discards them uncommitted.
    schema = _merged_schema(prior, _schema_fields(
        write_df if write_df is not None else source))
    _check_written(spark, table, actions, dict(meta, schema=schema))
    return _commit_rmw(table, base, actions, set(touched), meta,
                       schema=schema)


def tx_changes(spark: SparkSession, table: str, from_version: int,
               to_version: int, key: str,
               cols: list[str]) -> DataFrame:
    """Change data feed: row-level changes between two versions,
    computed from ONLY the files the intervening commits touched —
    a row in a file neither removed nor added between the versions
    CANNOT have changed, so the diff reads O(churn) bytes at any
    table size (the Delta CDF idea, recovered from add/remove
    actions instead of stored change files). Rewrite-only churn
    (compaction) hashes out as unchanged. Returns delta.table_diff's
    vocabulary: (key, change_type ∈ added/removed/changed). Vacuumed
    `from_version`s raise loudly via the snapshot replay."""
    from saurav_nayak_recipe_etl_project_spark.operators.delta import (
        table_diff,
    )

    a, b = _cdf_sides(spark, table, from_version, to_version)
    return table_diff(a, b, key, cols)


def _cdf_sides(spark: SparkSession, table: str, from_version: int,
               to_version: int) -> tuple[DataFrame, DataFrame]:
    """(after-side rows, before-side rows) for a change feed between
    two versions, reading ONLY the files the intervening commits
    touched — shared by tx_changes (key+change_type) and
    tx_changes_rows (full pre/post images)."""
    if from_version >= to_version:
        raise ValueError("tx_changes needs from_version < to_version")
    before = snapshot_files(table, from_version)
    after, _, _, meta, _ = _resolve_snapshot(table, to_version)
    removed = sorted(f for f in before if f not in after)
    added = sorted(f for f in after if f not in before)
    # a file whose DELETION VECTORS changed between the versions
    # mutated in place: its old content (before-DVs applied) joins the
    # removed side and its new content the added side — unchanged rows
    # hash out in table_diff, DV'd rows surface as 'removed'
    modified = sorted(
        f for f in before if f in after
        and before[f].get("_dvs", []) != after[f].get("_dvs", []))
    # schema donor for an empty side: the other side's churn, else any
    # live file of either snapshot (a delete-everything commit leaves
    # `after` empty — the feed must report the removals, not crash)
    donor = added or removed or modified or sorted(after or before)
    if not donor:
        raise ValueError(
            f"tx_changes: {table} has no files at either version")

    def _read(files, live):
        src = files or donor
        # BOTH sides read under the to_version schema: the diff is
        # reported in the current contract, and a widened generation
        # compares as the same logical values (int 7 == bigint 7).
        # Each side applies ITS OWN version's deletion vectors.
        df = _read_files(spark, table, src, meta, live)
        return df if files else df.limit(0)

    return (_read(added + modified, after),
            _read(removed + modified, before))


def tx_changes_rows(spark: SparkSession, table: str, from_version: int,
                    to_version: int, key: str) -> DataFrame:
    """Change data feed WITH full row images (the Delta CDF
    `_change_type` vocabulary, r14): every changed row between the
    versions, carrying ALL columns plus `_change_type` ∈ insert /
    delete / update_preimage / update_postimage — an updated key
    emits BOTH its old and new row, so a downstream consumer can
    apply, audit, or revert the change without re-reading either
    snapshot. Same O(churn) read as tx_changes (only touched files);
    rewrite-only churn (compaction, survivor rewrites) compares
    struct-equal and is filtered out; each side applies its own
    version's deletion vectors."""
    a, b = _cdf_sides(spark, table, from_version, to_version)
    schema = _meta_at(table, to_version)["schema"] or {}
    cols = [c for c in schema if c != key] or         [c for c in a.columns if c != key]
    av = a.select(F.col(key).alias("_k"), F.struct(*cols).alias("_a"))
    bv = b.select(F.col(key).alias("_k"), F.struct(*cols).alias("_b"))
    j = bv.join(av, "_k", "full_outer")
    ins = (j.filter(F.col("_b").isNull())
           .select("_k", "_a.*", F.lit("insert").alias("_change_type")))
    dele = (j.filter(F.col("_a").isNull())
            .select("_k", "_b.*", F.lit("delete").alias("_change_type")))
    chg = j.filter(F.col("_a").isNotNull() & F.col("_b").isNotNull()
                   & ~F.col("_a").eqNullSafe(F.col("_b")))
    pre = chg.select("_k", "_b.*",
                     F.lit("update_preimage").alias("_change_type"))
    post = chg.select("_k", "_a.*",
                      F.lit("update_postimage").alias("_change_type"))
    return (ins.unionByName(dele).unionByName(pre).unionByName(post)
            .withColumnRenamed("_k", key))


def tx_read_incremental(spark: SparkSession, table: str,
                        after_version: int):
    """Incremental consumption of an append-mostly table: the rows
    ADDED by commits in (after_version, latest], plus the new cursor —
    the poll loop of a streaming source over the tx log (Delta's
    streaming source reads exactly this; callers checkpoint the
    returned version and pass it back next poll). Raises if any
    intervening commit REMOVED files (a delete/merge/compact is not
    representable as an append feed — consume `tx_changes` instead;
    silently skipping removals would replay ghosts). Returns
    (DataFrame | None, latest_version) — None when nothing new."""
    js, cs = _log_versions(table)
    latest = _latest(js, cs)
    if latest <= after_version:
        return None, latest
    added: list[str] = []
    vs = [v for v in js if after_version < v <= latest]
    if vs != list(range(after_version + 1, latest + 1)):
        raise ValueError(
            f"tx_read_incremental: commits in ({after_version}, {latest}] "
            "are no longer individually replayable (log cleaned past a "
            "checkpoint) — re-bootstrap this consumer from a snapshot")
    for v in vs:
        for a in _read_json_commit(table, v)["actions"]:
            if a["op"] in ("remove", "dv"):
                raise ValueError(
                    f"tx_read_incremental: version {v} removed rows "
                    "(delete/merge/compact/deletion-vector) — an append "
                    "feed cannot represent it; switch this consumer to "
                    "tx_changes")
            added.append(a["file"])
    if not added:
        return None, latest
    df = _read_files(spark, table, added, _meta_at(table, latest))
    return df, latest


def last_txn_batch(table: str, app: str,
                   at_version: int | None = None) -> int | None:
    """Highest committed batch id for `app` as of `at_version`
    (latest when None) — None when the app never committed (Delta's
    SetTransaction replay). `at_version` lets tx_append pin the check
    to its captured base so check-then-commit is conflict-atomic."""
    js, cs = _log_versions(table)
    return _txn_mark(table, app,
                     _latest(js, cs) if at_version is None else at_version,
                     js, cs)


def _txn_mark(table: str, app: str, limit: int, js: list[int],
              cs: list[int]) -> int | None:
    """last_txn_batch at version `limit` over the listing (`js`, `cs`)
    the caller already took."""
    if limit < 0:
        return None
    # scan NEWEST-first and stop at the app's first txn: per app,
    # batch ids commit in order (the Structured Streaming contract),
    # so the latest matching commit holds the max batch — O(gap)
    # per micro-batch instead of re-parsing the whole log (which
    # made a long-lived tx_sink_batch stream O(commits^2)). A
    # checkpoint at or below `limit` bounds the scan further: its
    # metadata folds every older commit's txn high-water marks.
    base = _best_checkpoint(table, limit, cs)
    for v in reversed([v for v in js if base < v <= limit]):
        txn = _read_json_commit(table, v).get("txn")
        if txn and txn.get("app") == app:
            return txn["batch"]
    if base >= 0:
        _, _, txns = _load_checkpoint(table, base)
        return txns.get(app)
    return None


def tx_sink_batch(batch_df: DataFrame, batch_id: int, table: str,
                  app: str, stats_cols: list[str] | None = None,
                  checkpoint_every: int | None = None) -> None:
    """foreachBatch sink with table-enforced exactly-once: the commit
    carries (app, batch_id); a replayed batch is detected from the log
    and skipped — idempotence lives in the TABLE, not in every
    writer's discipline. `checkpoint_every=K` folds the log into a
    parquet checkpoint whenever the committed version is a multiple
    of K (the Delta default-every-10-commits discipline) so a
    long-lived stream's readers stay O(tail) forever without a
    separate maintenance job; re-checkpointing after a replayed batch
    is idempotent."""
    v = tx_append(batch_df, table, stats_cols,
                  txn={"app": app, "batch": batch_id})
    if checkpoint_every and v % checkpoint_every == 0:
        tx_checkpoint(table)


def vacuum(table: str, keep_versions: int = 1) -> int:
    """Delete data files unreferenced by the last `keep_versions`
    snapshots and advance the vacuum horizon; reads at versions below
    the horizon fail loudly. Returns the number of files deleted.
    Run at a quiesced boundary (no in-flight read of an old version —
    the retention contract every table format carries)."""
    vs = _versions(table)
    if not vs:
        return 0
    keep = vs[-keep_versions:]
    referenced: set = set()
    ref_dirs: set = set()  # deletion-vector dirs still referenced
    for v in keep:
        for f, st in snapshot_files(table, v).items():
            referenced.add(f)
            ref_dirs.update(st.get("_dvs", []))
    # publish the horizon BEFORE deleting anything: if deletion is
    # interrupted by a crash, time travel past the horizon fails with
    # the loud horizon error (conservative — some vacuumed-version
    # reads that would still work are refused), never with a
    # missing-parquet scan error mid-plan.
    _publish(os.path.join(_log_path(table), _HORIZON),
             str(keep[0]).encode())
    removed = 0
    data_root = os.path.join(table, "data")
    for sub in sorted(os.listdir(data_root)) if os.path.isdir(
            data_root) else []:
        subdir = os.path.join(data_root, sub)
        if os.path.join("data", sub) in ref_dirs:
            continue  # a kept snapshot still reads these DVs
        # walk the whole tx dir: partitioned writes nest hive
        # col=value directories below it
        for root, _dirs, fnames in os.walk(subdir):
            for f in sorted(fnames):
                full = os.path.join(root, f)
                rel = os.path.relpath(full, table)
                if f.endswith(".parquet") and rel not in referenced:
                    os.remove(full)
                    removed += 1
    return removed


def tx_restore(table: str, to_version: int,
               spark: SparkSession | None = None) -> int:
    """RESTORE TABLE TO VERSION AS OF (the Delta RESTORE command):
    commit a new version whose live set EQUALS the target snapshot —
    remove files live now but absent then, re-add files live then but
    absent now. METADATA-ONLY: no data file is written or moved, so a
    botched deploy rolls back in O(changed-files) log actions at any
    table size. The restored files must still exist — a target below
    the vacuum horizon raises loudly via the snapshot replay. The
    commit records the TARGET version's schema (full state restore,
    Delta semantics: a post-restore append is checked against the
    restored schema, not the rolled-back one). Restoring to the
    current state is a no-op — no empty commit. Returns the committed
    (or current) version; history/CDF show the restore as remove+add
    actions, so `tx_changes` across it reports exactly the rows that
    came back or vanished.

    CHECK constraints: by default restore does NOT re-validate the
    restored rows against constraints added after the target version
    (the Delta RESTORE semantics — restore is a state rollback, not a
    write; ADVICE r13 asked for this to be explicit). Pass `spark=`
    to opt INTO validation: the restored live set is checked against
    the constraints currently in force and a violation raises without
    committing."""
    current, _, _, meta, base = _resolve_snapshot(table)
    # loud if vacuumed/cleaned
    target, _, _, tmeta, _ = _resolve_snapshot(table, to_version)
    if spark is not None:
        checks = meta["checks"]
        if checks and target:
            _validate_checks(
                _read_files(spark, table, sorted(target), tmeta, target),
                checks, table)
    # a file live in BOTH snapshots whose stats differ (a deletion
    # vector landed after the target version) must also roll back:
    # remove-then-add re-establishes it with the target's stats — the
    # add/remove replay order makes that exact
    changed = sorted(f for f in current
                     if f in target and current[f] != target[f])
    actions = [{"op": "remove", "file": f}
               for f in sorted(current) if f not in target]
    actions += [{"op": "remove", "file": f} for f in changed]
    actions += [{"op": "add", "file": f, "stats": target[f]}
                for f in sorted(target) if f not in current]
    actions += [{"op": "add", "file": f, "stats": target[f]}
                for f in changed]
    if not actions and all(tmeta[k] == meta[k] for k in ("schema", "colmap")):
        return base
    # full state restore: the TARGET version's schema AND column
    # mapping come back together (a restore across a rename or a
    # column drop rolls the logical contract back — possibly with
    # ZERO file actions, a pure metadata restore)
    _commit(table, base + 1, actions, schema=tmeta["schema"],
            colmap=tmeta["colmap"])
    return base + 1


def history(table: str) -> list[dict]:
    """One dict per version with a surviving JSON commit: counts of
    add/remove actions + txn + commit timestamp (commits folded away
    by tx_clean_log no longer have per-commit history — the
    log-retention contract)."""
    out = []
    for v in _log_versions(table)[0]:
        e = _read_json_commit(table, v)
        ops = [a["op"] for a in e["actions"]]
        out.append({"version": v, "adds": ops.count("add"),
                    "removes": ops.count("remove"),
                    "dvs": ops.count("dv"), "txn": e.get("txn"),
                    "ts": e.get("ts")})
    return out


def version_at_timestamp(table: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution (the Delta rule): the LATEST version
    whose commit timestamp is <= `ts`. Raises loudly when `ts`
    predates the first surviving commit, and resolves only over
    commits whose JSON survives (commits folded below a checkpoint
    lose their timestamps with their history — time travel to them is
    already version-gated; pre-r14 commits without a ts are skipped)."""
    best = None
    for v in _log_versions(table)[0]:
        cts = _read_json_commit(table, v).get("ts")
        if cts is not None and cts <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"{table} has no surviving commit at or before timestamp "
            f"{ts} (first commits may have been cleaned, or ts "
            "predates the table)")
    return best


def tx_checkpoint(table: str) -> int:
    """Fold the transaction log into a parquet checkpoint at the
    current latest version and publish it via the `_last_checkpoint`
    pointer — the Delta checkpoint protocol. Order: the checkpoint's
    bytes are written to a temp file and fsynced, then renamed into
    place; only then is the pointer written, fsynced and renamed
    (_publish both times). A crash can therefore never leave the
    pointer naming a checkpoint whose bytes did not reach the disk —
    the state tx_clean_log trusts when it deletes the JSON commits
    below it. After this, ANY read at or past the checkpoint replays
    only the checkpoint plus the JSON tail — O(tail), not O(commits) —
    and `tx_clean_log` may delete the folded JSON commits entirely.
    The checkpoint carries the live file set with stats, the table
    schema, and every app's txn high-water mark (so streaming replay
    detection survives log cleaning). Returns the checkpointed
    version. Idempotent: re-checkpointing the same version rewrites
    an identical file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    txns: dict = {}
    live, _, _, meta, v = _resolve_snapshot(table, None, txns)
    files = sorted(live)
    t = pa.table(
        {"file": pa.array(files, pa.string()),
         "stats_json": pa.array([json.dumps(live[f]) for f in files],
                                pa.string())},
    ).replace_schema_metadata({
        **{_ckpt_key(k): json.dumps(meta[k]).encode() for k in _META},
        _ckpt_key("txns"): json.dumps(txns).encode(),
        b"version": str(v).encode(),
    })
    buf = pa.BufferOutputStream()
    pq.write_table(t, buf)
    _publish(_ckpt_path(table, v), buf.getvalue().to_pybytes())
    # never REGRESS the pointer (ADVICE r12): two racing checkpoints
    # (A folds v12, slower B then writes ptr=10) would otherwise leave
    # reads resolving base=10 while tx_clean_log cleans to the max
    # LISTED checkpoint (12) — commits 11-12 gone, healthy table
    # unreadable. The pointer only moves forward; tx_clean_log
    # additionally trusts only the pointer (see there).
    existing = last_checkpoint_version(table)
    if existing is None or existing < v:
        _publish(os.path.join(_log_path(table), _CKPT_PTR),
                 json.dumps({"version": v}).encode())
    return v


def last_checkpoint_version(table: str) -> int | None:
    """The `_last_checkpoint` pointer — None when never checkpointed."""
    p = os.path.join(_log_path(table), _CKPT_PTR)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(json.loads(f.read())["version"])


def tx_clean_log(table: str) -> int:
    """Log retention: delete JSON commit files at or below the latest
    checkpoint (their state lives in the checkpoint now). Time travel
    to cleaned versions and incremental reads across them raise
    loudly; the checkpoint version itself stays readable. Returns the
    number of commit files removed.

    The clean threshold is the `_last_checkpoint` POINTER, not the max
    listed checkpoint (ADVICE r12): reads resolve through the pointer
    first, so cleaning past it (possible when a checkpoint landed but
    its pointer write crashed or lost a race) would leave
    _resolve_snapshot replaying from the pointer into cleaned commits.
    Cleaning only what the pointer can resolve keeps every surviving
    read path replayable. Pointer missing entirely → fall back to the
    max listed checkpoint (the directory-listing path _best_checkpoint
    would also take)."""
    js, cvs = _log_versions(table)
    if not cvs:
        return 0
    c = last_checkpoint_version(table)
    if c is None:
        c = max(cvs)
    removed = 0
    for v in js:
        if v <= c:
            os.remove(os.path.join(_log_path(table), f"{v:011d}.json"))
            removed += 1
    return removed
