"""Crash-window property tests for the parquet merge sink (r4 judge
brief #7): inject a failure at EVERY rename leg of the swap sequence
and assert the idempotent retry converges to the uncrashed result.

The sink's transactional contract (SCALE.md 'Sink transactionality'):
single writer, rename-atomic filesystem; a crash at any point leaves
either the old generation, a recoverable ``__old``, or (partitioned
path) a torn mix of old/new partitions — and the next writer call
first heals every ``__old`` (root AND per-partition, the r4 recovery
gap) and then re-applies the merge, which is idempotent by key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators import fsio
from gpt_rag_ingestion_spark.operators import upsert as U


def _rows(spark, path):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).select(
            "parent_id", "bucket", "v"
        ).collect()
    )


def _crash_on_nth_rename(monkeypatch, n: int):
    """Make the n-th ``fsio.rename`` raise; the returned restore()
    un-patches it and asserts the crash fired."""
    real = fsio.rename
    state = {"k": 0, "fired": False}

    def crashing(spark, src, dst):
        state["k"] += 1
        if state["k"] == n:
            state["fired"] = True
            raise RuntimeError(f"injected crash before rename #{n}")
        return real(spark, src, dst)

    monkeypatch.setattr(fsio, "rename", crashing)

    def restore():
        monkeypatch.setattr(fsio, "rename", real)
        assert state["fired"], f"rename #{n} never happened"

    return restore


def _inc(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("parent_id"),
        (F.col("id") % 2).alias("bucket"),
        (F.col("id") * 7).alias("v"),
    )


@pytest.mark.parametrize("crash_at", [1, 2])
def test_unpartitioned_merge_crash_legs_converge(
    spark, tmp_path, monkeypatch, crash_at
):
    """Unpartitioned swap has two renames: live->__old (1) and
    staged->live (2).  A crash before either leaves a recoverable
    state; the retried merge produces the exact uncrashed table."""
    table = str(tmp_path / "t")
    golden = str(tmp_path / "golden")
    U.merge_upsert(spark, table, _inc(spark, 0, 100))
    U.merge_upsert(spark, golden, _inc(spark, 0, 100))
    inc2 = _inc(spark, 50, 150).withColumn("v", F.col("v") + 1)
    U.merge_upsert(spark, golden, inc2)

    restore = _crash_on_nth_rename(monkeypatch, crash_at)
    with pytest.raises(RuntimeError, match="injected crash"):
        U.merge_upsert(spark, table, inc2)
    restore()

    # the table is still READABLE after recovery (old generation)
    fsio.recover_tree(spark, table)
    assert spark.read.parquet(table).count() == 100

    U.merge_upsert(spark, table, inc2)  # idempotent retry
    assert _rows(spark, table) == _rows(spark, golden)
    assert not fsio.exists(spark, table + "__old")


@pytest.mark.parametrize("crash_at", [1, 2, 3, 4])
def test_partitioned_merge_crash_legs_converge(
    spark, tmp_path, monkeypatch, crash_at
):
    """Partitioned merge swaps each affected partition dir in turn
    (2 renames each; 2 affected partitions -> 4 legs).  A crash at any
    leg leaves a torn old/new mix plus possibly a per-partition
    ``__old`` — the state the root-level recovery used to miss — and
    the retried merge must still converge byte-for-byte."""
    table = str(tmp_path / "t")
    golden = str(tmp_path / "golden")
    U.merge_upsert(spark, table, _inc(spark, 0, 100),
                   partition_cols=["bucket"])
    U.merge_upsert(spark, golden, _inc(spark, 0, 100),
                   partition_cols=["bucket"])
    inc2 = _inc(spark, 50, 150).withColumn("v", F.col("v") + 1)
    U.merge_upsert(spark, golden, inc2, partition_cols=["bucket"])

    restore = _crash_on_nth_rename(monkeypatch, crash_at)
    with pytest.raises(RuntimeError, match="injected crash"):
        U.merge_upsert(spark, table, inc2, partition_cols=["bucket"])
    restore()

    # recovery heals every partition __old; both partitions readable
    fsio.recover_tree(spark, table)
    got = spark.read.parquet(table)
    assert got.select("bucket").distinct().count() == 2

    U.merge_upsert(spark, table, inc2, partition_cols=["bucket"])
    assert _rows(spark, table) == _rows(spark, golden)
    # no swap debris anywhere in the tree
    import os

    debris = [
        os.path.join(r, d)
        for r, dirs, _f in os.walk(str(tmp_path))
        for d in dirs
        if d.endswith("__old") or d.endswith("__staging")
    ]
    assert debris == []


def test_delete_keys_crash_and_recover(spark, tmp_path, monkeypatch):
    """Same contract for the standalone delete sink."""
    table = str(tmp_path / "t")
    U.merge_upsert(spark, table, _inc(spark, 0, 100),
                   partition_cols=["bucket"])
    doomed = spark.range(0, 30).select(F.col("id").alias("parent_id"))

    restore = _crash_on_nth_rename(monkeypatch, 3)
    with pytest.raises(RuntimeError, match="injected crash"):
        U.delete_keys(spark, table, doomed, partition_cols=["bucket"])
    restore()

    U.delete_keys(spark, table, doomed, partition_cols=["bucket"])
    left = spark.read.parquet(table)
    assert left.count() == 70
    assert left.agg(F.min("parent_id")).first()[0] == 30
