"""Warehouse maintenance operators.

The operational side of running the star schema at scale: SCD2
dimension history, small-file compaction, and subject-erasure
(GDPR-style) deletes. All plain DataFrame ops + overwrite loads; on a
table format with row-level merge (Delta/Iceberg) the plans are the
same, only the sink changes.
"""

from __future__ import annotations

import glob
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def scd2_merge(current: DataFrame, updates: DataFrame, key: str,
               attrs: list[str], effective_col: str = "effective_date",
               valid_from: str = "valid_from",
               valid_to: str = "valid_to") -> DataFrame:
    """Slowly-changing-dimension type 2 merge.

    `current` holds history rows (`valid_to` null = active); `updates`
    holds (key, attrs, effective_date). Active rows whose attributes
    changed get closed at the update's effective date and a new active
    version is appended; unchanged updates are no-ops. One join on the
    key — broadcast the updates side when it is small.
    """
    upd = updates.select(
        F.col(key), *[F.col(a).alias(f"_u_{a}") for a in attrs],
        F.col(effective_col).alias("_eff"),
    )
    active = current.filter(F.col(valid_to).isNull())
    history = current.filter(F.col(valid_to).isNotNull())

    joined = active.join(upd, key, "left")
    changed = F.coalesce(
        ~sum(
            (F.col(a).eqNullSafe(F.col(f"_u_{a}"))).cast("int") for a in attrs
        ).eqNullSafe(F.lit(len(attrs))),
        F.lit(False),
    ) & F.col("_eff").isNotNull()

    closed = joined.filter(changed).select(
        *[F.col(c) for c in current.columns if c != valid_to],
        F.col("_eff").alias(valid_to),
    )
    unchanged = joined.filter(~changed).select(*current.columns)
    new_versions = joined.filter(changed).select(
        F.col(key),
        *[F.col(f"_u_{a}").alias(a) for a in attrs],
        F.col("_eff").alias(valid_from),
        F.lit(None).cast(dict(current.dtypes)[valid_to]).alias(valid_to),
    )
    return history.unionByName(unchanged).unionByName(closed).unionByName(
        new_versions
    )


def compact_parquet(spark: SparkSession, path: str,
                    target_mb: int = 128) -> int:
    """Small-file compaction: rewrite a parquet table into
    ceil(bytes/target) files. The #1 operational fix for long-lived
    append-heavy tables (file-listing and task-scheduling costs scale
    with file count, not bytes). Returns the new file count."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    # stage through a temp dir: can't overwrite a path while reading it
    tmp = path.rstrip("/") + "__compact"
    df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    shutil.move(tmp, path)
    return n_out


def forget_subject(tables: dict[str, DataFrame], key_cols: dict[str, str],
                   subject_id: int) -> dict[str, DataFrame]:
    """Subject-erasure: drop every row belonging to `subject_id` across
    all tables (key_cols maps table name → its subject key column).
    Returns the filtered tables; callers truncate-load them back."""
    out = {}
    for name, df in tables.items():
        col = key_cols.get(name)
        out[name] = df.filter(F.col(col) != subject_id) if col else df
    return out


class AuditFailure(Exception):
    """A write-audit-publish audit rejected the staged snapshot."""


def publish_with_audit(df: DataFrame, table_dir: str, audits,
                       keep_versions: int = 2) -> str:
    """Write-audit-publish (the Iceberg/Netflix WAP pattern on plain
    parquet): readers NEVER see an unaudited or half-written snapshot.

    1. WRITE the snapshot under the `_staging/` namespace (never
       in-place, and never at a reader-visible `_v<N>` path — a
       mid-write or unaudited directory must be invisible to the
       time-travel catalog, not just to the CURRENT pointer).
    2. AUDIT the STAGED files (each audit is `fn(DataFrame) -> bool`
       reading the staging dir, not the input plan — catching writer
       bugs, not just logic bugs). Any failure leaves the live table
       untouched and raises AuditFailure.
    3. PUBLISH by atomically renaming `_staging/_v<N>` into place
       (os.rename of a directory — POSIX-atomic within a filesystem),
       then atomically replacing the `CURRENT` pointer file, then
       prune versions beyond `keep_versions` (old readers may still
       hold the previous snapshot open; keeping N>1 gives them a
       grace window — the poor-man's snapshot isolation). A `_v<N>`
       directory therefore exists IFF its snapshot passed audits —
       `read_published(version=N)` and `published_versions()` can
       never surface an unaudited or half-written snapshot.

    Readers resolve via `read_published(spark, table_dir)`. On object
    stores the pointer file becomes the metadata-location swap every
    table format performs; the staging/audit legs are identical.
    Returns the published snapshot path."""
    spark = df.sparkSession
    staging_root = os.path.join(table_dir, "_staging")
    os.makedirs(staging_root, exist_ok=True)
    cur_file = os.path.join(table_dir, "CURRENT")
    existing = sorted(
        int(d[2:]) for d in os.listdir(table_dir)
        if d.startswith("_v") and d[2:].isdigit()
    )
    # Prune staging leftovers that are PROVABLY dead: a staged _vN
    # with N <= the max published version can never publish (the
    # rename target name is taken), so it is a crashed writer's
    # orphan — remove it instead of leaking a full-size snapshot
    # outside keep_versions forever. A staged dir with N beyond the
    # published set might be a CONCURRENT publisher's live in-flight
    # write, so it is left alone and only skipped in numbering (the
    # race-safe behavior the original skip-numbering had).
    staged_leftover = []
    max_published = max(existing, default=0)
    for d in os.listdir(staging_root):
        if d.startswith("_v") and d[2:].isdigit():
            if int(d[2:]) <= max_published:
                shutil.rmtree(os.path.join(staging_root, d),
                              ignore_errors=True)
            else:
                staged_leftover.append(int(d[2:]))
    version = max(existing + staged_leftover, default=0) + 1
    staged = os.path.join(staging_root, f"_v{version}")
    df.write.mode("errorifexists").parquet(staged)

    # read back with the schema just written: a bare read runs a
    # schema-inference job
    staged_df = spark.read.schema(df.schema).parquet(staged)
    for audit in audits:
        if not audit(staged_df):
            shutil.rmtree(staged)
            raise AuditFailure(
                f"audit {getattr(audit, '__name__', audit)!r} rejected "
                f"staged snapshot v{version}; live table unchanged"
            )

    published = os.path.join(table_dir, f"_v{version}")
    os.rename(staged, published)

    tmp_ptr = cur_file + ".tmp"
    with open(tmp_ptr, "w") as fh:
        fh.write(f"_v{version}\n")
    os.replace(tmp_ptr, cur_file)

    for old in existing[: max(0, len(existing) - (keep_versions - 1))]:
        shutil.rmtree(os.path.join(table_dir, f"_v{old}"),
                      ignore_errors=True)
    return published


def read_published(spark: SparkSession, table_dir: str,
                   version: int | None = None) -> DataFrame:
    """Read the snapshot the CURRENT pointer names (see
    publish_with_audit), or — time travel — a specific retained
    `version` number. Raises if nothing has been published or the
    requested version was pruned past keep_versions."""
    if version is None:
        cur_file = os.path.join(table_dir, "CURRENT")
        with open(cur_file) as fh:
            vdir = fh.read().strip()
    else:
        vdir = f"_v{version}"
        if not os.path.isdir(os.path.join(table_dir, vdir)):
            raise FileNotFoundError(
                f"snapshot {vdir} not retained in {table_dir} "
                f"(pruned past keep_versions or never published)"
            )
    return spark.read.parquet(os.path.join(table_dir, vdir))


def published_versions(table_dir: str) -> list[int]:
    """Retained snapshot version numbers, ascending (the time-travel
    catalog; the last entry is not necessarily CURRENT if a publish
    raced — CURRENT is the only read authority)."""
    return sorted(
        int(d[2:]) for d in os.listdir(table_dir)
        if d.startswith("_v") and d[2:].isdigit()
    )
