"""Idempotent sink: delete-then-insert merge (SURVEY.md S10/S11, §2.10).

Reference semantics: per document, delete every existing chunk for the
parent, then batch-upsert the new chunk docs — deterministic keys make
the whole pipeline idempotent (reference
jobs/blob_storage_indexer.py:614-615, 1242-1334).

On a cluster with Delta/Iceberg this is ``MERGE INTO`` keyed on
``parent_id`` (delete+insert) — one line.  This repo ships a plain-
Parquet implementation with the same semantics:

- unpartitioned: rewrite = (existing ANTI-JOIN incoming-parents) UNION
  incoming — the plan MERGE lowers to;
- partitioned (``partition_cols`` set): **partition-pruned overwrite**
  (``replaceWhere``-style).  Only partitions that contain incoming rows
  or existing rows of incoming keys are rebuilt and swapped in; every
  other partition's files are never touched.  At 100 TB with the table
  partitioned by (source, ingest_date), an hourly increment rewrites
  O(increment) data instead of O(table).

Crash safety: every swap is ``fsio.swap_dir`` (live -> ``__old``,
staged -> live, drop ``__old``), and every writer starts with
``fsio.recover_tree``, which restores an ``__old`` a crash left at the
root or under any partition directory.
"""

from __future__ import annotations

import functools
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gpt_rag_ingestion_spark.operators import fsio

# Characters Spark's ExternalCatalogUtils.escapePathName escapes when it
# builds `col=value` partition directory names.
_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(0x20)}
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _escape_path_value(v) -> str:
    """Mirror Spark's partition-path escaping so we can address a
    partition directory from its column values.  NULL **and the empty
    string** both map to the Hive default partition — Spark's
    getPartitionPathString does the same, which means a partitioned
    table cannot distinguish '' from NULL in a partition column (both
    read back as NULL).  Don't partition on a column where that
    distinction matters."""
    if v is None:
        return _HIVE_DEFAULT_PARTITION
    s = str(v)
    if s == "":
        return _HIVE_DEFAULT_PARTITION
    return "".join(f"%{ord(c):02X}" if c in _ESCAPE_CHARS else c for c in s)


def _partition_rel_path(partition_cols: list[str], values) -> str:
    return "/".join(
        f"{c}={_escape_path_value(v)}" for c, v in zip(partition_cols, values)
    )


#: Sidecar pinning the LOGICAL partition-column types.  Read-back of a
#: hive-partitioned parquet table otherwise re-infers those types from
#: the directory NAMES — a string column whose current values all look
#: numeric (`part=0`, plus `__HIVE_DEFAULT_PARTITION__` for ''/NULL)
#: silently reads back BIGINT, which (a) crashes the merge union with
#: ANSI CAST_INVALID_INPUT on the next non-numeric increment and
#: (b) flips the output column's type between ingests.  The leading
#: underscore keeps it invisible to Spark's file listing.
_PARTITION_TYPES_SIDECAR = "_partition_types.json"


def _sidecar_path(table_path: str) -> str:
    return table_path.rstrip("/") + "/" + _PARTITION_TYPES_SIDECAR


def _write_partition_types(
    spark: SparkSession, table_path: str, schema: StructType,
    partition_cols: list[str],
) -> None:
    """Persist the logical types of the partition columns (as a
    StructType JSON) at the table root.  Called AFTER every swap — the
    root-level swap replaces the whole directory, so a sidecar
    written before the swap would vanish with the old generation."""
    fields = [schema[c] for c in partition_cols if c in schema.names]
    if fields:
        fsio.write_text(
            spark, _sidecar_path(table_path), StructType(fields).json()
        )


def _read_partition_types(spark: SparkSession, table_path: str) -> StructType | None:
    path = _sidecar_path(table_path)
    if not fsio.exists(spark, path):
        return None
    return StructType.fromJson(json.loads(fsio.read_text(spark, path)))


#: Re-entrant, THREAD-SAFE toggle for partition-column type inference.
#: A naive set/restore pair is wrong under the engine's concurrent
#: writers (q219/q223 run real merges from two Python threads over ONE
#: SparkSession): interleaved toggles can capture each other's "false"
#: as the old value and leave the session conf stuck off for every
#: later plain read.  Reference-counted instead: first enter saves the
#: session value and disables inference, last exit restores it; nested
#: and concurrent pinned reads share the disabled window (they all
#: want it off, and each casts its own pinned types afterwards).
_INFER_KEY = "spark.sql.sources.partitionColumnTypeInference.enabled"
_INFER_LOCK = __import__("threading").Lock()
_INFER_STATE = {"depth": 0, "saved": "true"}


class _no_partition_inference:
    def __init__(self, spark: SparkSession):
        self._spark = spark

    def __enter__(self):
        with _INFER_LOCK:
            if _INFER_STATE["depth"] == 0:
                _INFER_STATE["saved"] = self._spark.conf.get(
                    _INFER_KEY, "true"
                )
                self._spark.conf.set(_INFER_KEY, "false")
            _INFER_STATE["depth"] += 1

    def __exit__(self, *exc):
        with _INFER_LOCK:
            _INFER_STATE["depth"] -= 1
            if _INFER_STATE["depth"] == 0:
                self._spark.conf.set(_INFER_KEY, _INFER_STATE["saved"])
        return False


def _read_table(
    spark: SparkSession, table_path: str, pin: StructType | None
) -> DataFrame:
    """Read the table back with partition-column types PINNED, not
    inferred.  With ``pin`` set, partition-column type inference is
    disabled for the read (directory values come back as their raw
    unescaped strings — '00' stays '00', never a lossy int round-trip)
    and each pinned column is cast to its stored logical type.  With
    ``pin`` None (legacy table without a sidecar, or unpartitioned),
    this is a plain read.  (Partition discovery — where the conf is
    consulted — happens EAGERLY at DataFrame creation, so restoring
    the conf right after the read call is safe.)"""
    if pin is None:
        return spark.read.parquet(table_path)
    with _no_partition_inference(spark):
        df = spark.read.parquet(table_path)
    for f in pin.fields:
        if f.name in df.columns and df.schema[f.name].dataType != f.dataType:
            df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
    return df


def read_existing(
    spark: SparkSession, table_path: str, pin: StructType | None = None
) -> DataFrame | None:
    """The table at ``table_path``, or None when there is none: the
    root does not exist, or it holds only hidden files such as the
    partition-types sidecar and ``_SUCCESS`` (every partition was
    deleted).  Any other read error propagates — an unreadable table
    is never taken for an absent one, which would let the next write
    replace it with the increment."""
    if not fsio.exists(spark, table_path):
        return None
    try:
        return _read_table(spark, table_path, pin)
    except Exception:
        if all(
            st.getPath().getName().startswith(("_", "."))
            for st in fsio.list(spark, table_path)
        ):
            return None
        raise


def merged_view(
    existing: DataFrame, incoming: DataFrame, key: str = "parent_id"
) -> DataFrame:
    """The relational core of S11+S10 (delete-parent-then-upload):
    existing rows whose ``key`` does NOT appear in ``incoming``, plus
    every incoming row.  Pure plan — ``merge_upsert`` materializes it;
    exposed separately so the merge semantics are oracle-checkable."""
    keys = incoming.select(key).distinct()
    kept = existing.join(F.broadcast(keys), on=key, how="left_anti")
    return kept.unionByName(incoming, allowMissingColumns=True)


def _in_partitions(partition_cols: list[str], affected: list[tuple]):
    """An OR of per-partition equality conjunctions — the predicate
    shape Catalyst prunes the scan of ``existing`` with."""

    def _match(values):
        terms = [
            F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
            for c, v in zip(partition_cols, values)
        ]
        return functools.reduce(lambda a, b: a & b, terms)

    return functools.reduce(lambda a, b: a | b, [_match(v) for v in affected])


def _swap_partitions(
    spark: SparkSession, tmp: str, table_path: str,
    partition_cols: list[str], affected: list[tuple], schema: StructType,
) -> None:
    """Swap ONLY the affected partition directories of the staged
    rewrite at ``tmp`` into the table; untouched partitions' files are
    never rewritten (the property the 100 TB design needs).  Dedup by
    RESOLVED path: '' and NULL partition values share one Hive-default
    directory, and swapping the same dir twice would find the staging
    gone and delete the live data."""
    for rel in sorted({_partition_rel_path(partition_cols, v) for v in affected}):
        staged_dir = f"{tmp}/{rel}"
        live_dir = f"{table_path.rstrip('/')}/{rel}"
        if fsio.exists(spark, staged_dir):
            fsio.mkdirs(spark, live_dir.rsplit("/", 1)[0])
            fsio.swap_dir(spark, staged_dir, live_dir)
        else:
            # the partition is empty after the rewrite (its rows were
            # deleted or re-ingested elsewhere): drop the stale dir
            fsio.delete(spark, live_dir)
    fsio.delete(spark, tmp)
    _write_partition_types(spark, table_path, schema, partition_cols)
    spark.catalog.refreshByPath(table_path)


def merge_upsert(
    spark: SparkSession,
    table_path: str,
    incoming: DataFrame,
    key: str = "parent_id",
    partition_cols: list[str] | None = None,
) -> None:
    """Replace all rows whose ``key`` appears in ``incoming`` with the
    incoming rows; keep everything else.  Equivalent to the reference's
    delete-parent-then-upload (S11+S10) and to Delta MERGE."""
    fsio.recover_tree(spark, table_path)
    # Pin partition-column types on read-back: stored sidecar first,
    # else the incoming frame's logical types (legacy tables written
    # before the sidecar existed).  Without the pin, Spark re-infers
    # the types from directory names and numeric-looking string values
    # crash the union below (ANSI cast) or flip the output type.
    pin = None
    if partition_cols:
        pin = _read_partition_types(spark, table_path)
        if pin is None:
            pin = StructType(
                [incoming.schema[c] for c in partition_cols
                 if c in incoming.columns]
            )
    existing = read_existing(spark, table_path, pin)

    tmp = table_path.rstrip("/") + "__staging"

    if existing is None:
        writer = incoming.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(tmp)
        fsio.swap_dir(spark, tmp, table_path)
        if partition_cols:
            _write_partition_types(
                spark, table_path, incoming.schema, partition_cols
            )
        return

    keys = incoming.select(key).distinct()

    if not partition_cols:
        out = merged_view(existing, incoming, key)
        # local parquet cannot overwrite a path being read: stage then swap
        out.write.mode("overwrite").parquet(tmp)
        fsio.swap_dir(spark, tmp, table_path)
        return

    # ---- partition-pruned path ----
    # Affected partitions = partitions incoming rows land in UNION
    # partitions that hold existing rows of the incoming keys (a key may
    # have moved partitions since its last ingest).  Only partition
    # VALUES are collected — a bounded list, never data rows.
    inc_parts = incoming.select(*partition_cols).distinct()
    exist_parts = (
        existing.join(F.broadcast(keys), on=key, how="left_semi")
        .select(*partition_cols)
        .distinct()
    )
    affected = [
        tuple(r[c] for c in partition_cols)
        for r in inc_parts.unionByName(exist_parts).distinct().collect()
    ]
    if not affected:
        return  # empty increment: nothing to do

    # Replacement data for affected partitions only (partition-pruned
    # scan of `existing`).
    kept = existing.filter(_in_partitions(partition_cols, affected)).join(
        F.broadcast(keys), on=key, how="left_anti"
    )
    out = kept.unionByName(incoming, allowMissingColumns=True)
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    _swap_partitions(spark, tmp, table_path, partition_cols, affected, out.schema)


def delete_keys(
    spark: SparkSession,
    table_path: str,
    keys: DataFrame,
    key: str = "parent_id",
    partition_cols: list[str] | None = None,
) -> None:
    """S11 standalone: delete rows by key-set (purger sink).

    With ``partition_cols`` set, only partitions that actually hold
    doomed keys are rewritten (the same replaceWhere-shaped pruning as
    ``merge_upsert``) — a purge of K vanished parents rewrites
    O(partitions touched), never O(table)."""
    fsio.recover_tree(spark, table_path)
    pin = _read_partition_types(spark, table_path) if partition_cols else None
    existing = _read_table(spark, table_path, pin)
    key_set = keys.select(key).distinct()
    tmp = table_path.rstrip("/") + "__staging"

    if not partition_cols:
        kept = existing.join(F.broadcast(key_set), on=key, how="left_anti")
        kept.write.mode("overwrite").parquet(tmp)
        fsio.swap_dir(spark, tmp, table_path)
        return

    affected = [
        tuple(r[c] for c in partition_cols)
        for r in existing.join(F.broadcast(key_set), on=key, how="left_semi")
        .select(*partition_cols)
        .distinct()
        .collect()
    ]
    if not affected:
        return  # no partition holds a doomed key: nothing to rewrite

    kept = existing.filter(_in_partitions(partition_cols, affected)).join(
        F.broadcast(key_set), on=key, how="left_anti"
    )
    kept.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    _swap_partitions(spark, tmp, table_path, partition_cols, affected, kept.schema)


def _list_parquet_files(spark, table_path: str) -> list[tuple[str, int]]:
    """(path, bytes) for every leaf parquet file, via the Hadoop
    FileSystem API so the triggers work on remote stores (hdfs://,
    s3a://) — os.walk sees only the driver-local filesystem and would
    silently report 0 files there, disarming the OPTIMIZE trigger.
    Metadata listing only, no Spark job."""
    fs, p = fsio.handle(spark, table_path)
    if not fs.exists(p):
        return []
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            out.append((st.getPath().toString(), int(st.getLen())))
    return out


def table_parquet_files(table_path: str, spark: SparkSession | None = None) -> int:
    """Leaf parquet file count — the fragmentation signal
    ``maybe_compact_table`` reads.  Metadata listing only.  Uses the
    active session's Hadoop FileSystem (remote-storage-correct);
    falls back to os.walk only when no session exists AND the path is
    scheme-less (driver-local)."""
    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        return len(_list_parquet_files(spark, table_path))
    if "://" in table_path:
        raise ValueError(
            f"no active SparkSession to list remote path {table_path!r}"
        )
    return sum(
        1
        for _root, _d, names in os.walk(table_path)
        for n in names
        if n.endswith(".parquet")
    )


def compact_table(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction (the OPTIMIZE of every lakehouse): an
    incremental merge-per-hour leaves a long tail of tiny files that
    tax every subsequent scan (one task + one footer fetch each).
    Rewrite the table into ceil(total_bytes / target) right-sized
    files with the same crash-safe swap the merge path uses.

    ``partition_cols`` MUST be passed for a hive-partitioned table:
    the rewrite then preserves the directory layout the
    partition-pruned merge path depends on (without it a partitioned
    table would silently flatten to an unpartitioned one), and rows
    are spread over a per-partition SALT sized from estimated bytes —
    a 20 GB hot partition still rewrites as ~bytes/target files in
    parallel tasks instead of one straggler writing one giant file.

    Driver data: file sizes (Hadoop FS listing — metadata, bounded by
    file count, remote-storage-correct) and one per-partition-value
    row count (a bounded aggregate).  Returns (files_before, files_after).  On
    Delta/Iceberg this is OPTIMIZE / rewrite_data_files; here it is
    the explicit read → repartition → swap."""
    import math

    fsio.recover_tree(spark, table_path)
    listed = _list_parquet_files(spark, table_path)
    files_before = len(listed)
    total = sum(sz for _p, sz in listed)
    n_out = max(1, math.ceil(total / target_file_bytes))
    pin = _read_partition_types(spark, table_path) if partition_cols else None
    existing = _read_table(spark, table_path, pin)
    tmp = table_path.rstrip("/") + "__staging"
    if partition_cols:
        # per-partition salt count ~ that partition's bytes / target
        # (bytes estimated from row share of the walked total); a
        # partition value then lands in salt_n tasks -> salt_n
        # right-sized files, not one
        pcounts = existing.groupBy(*partition_cols).agg(
            F.count(F.lit(1)).alias("_n_rows")
        )
        total_rows = existing.count()
        bpr = (total / total_rows) if total_rows else 0.0
        salt_map = pcounts.select(
            *partition_cols,
            F.greatest(
                F.lit(1),
                F.ceil(F.col("_n_rows") * F.lit(bpr) / F.lit(target_file_bytes)),
            ).cast("long").alias("_salt_n"),
        )
        (
            existing.join(F.broadcast(salt_map), list(partition_cols))
            .withColumn(
                "_salt",
                F.pmod(F.monotonically_increasing_id(), F.col("_salt_n")),
            )
            .repartition(n_out, *partition_cols, "_salt")
            .drop("_salt", "_salt_n")
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(tmp)
        )
    else:
        existing.repartition(n_out).write.mode("overwrite").parquet(tmp)
    fsio.swap_dir(spark, tmp, table_path)
    if partition_cols:
        # the root swap replaced the whole directory, sidecar included
        _write_partition_types(spark, table_path, existing.schema, partition_cols)
    return files_before, table_parquet_files(table_path, spark)


def maybe_compact_table(
    spark: SparkSession,
    table_path: str,
    max_files: int = 256,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> dict:
    """Compaction TRIGGER for a merge-maintained table, cheap enough
    for every foreachBatch tick (one metadata walk): rewrite when the
    leaf parquet file count exceeds ``max_files``.  The third member
    of the engine's trigger family (dedup sidecar counters, ANN index
    fragment counts) — merges keep landing per batch, the long tail of
    tiny files gets folded only when it matters."""
    files = table_parquet_files(table_path, spark)
    if files > max_files:
        before, after = compact_table(
            spark, table_path, target_file_bytes, partition_cols
        )
        return {"compacted": True, "files_before": before, "files_after": after}
    return {"compacted": False, "files": files}
