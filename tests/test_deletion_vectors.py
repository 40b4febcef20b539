"""Merge-on-read deletes (deletion vectors): a DV delete commits
metadata only — no data file is touched — and every reader, pruned
reader, change feed, and rewrite path honors / materializes the
vectors.  The Delta/Iceberg DV design scoped to this format."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators import fsio
from gpt_rag_ingestion_spark.operators import snapshot_table as S


def _df(spark, n=1000):
    return spark.range(n).select(
        F.col("id").alias("parent_id"),
        (F.col("id") % 4).cast("int").alias("bucket"),
        (F.col("id") * 3).alias("v"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("partitioned", [False, True])
def test_dv_delete_equals_rewrite_delete(spark, tmp_path, partitioned):
    pc = ["bucket"] if partitioned else None
    a, b = str(tmp_path / "dv"), str(tmp_path / "rw")
    for t in (a, b):
        S.snapshot_merge_upsert(spark, t, _df(spark), partition_cols=pc)
    doomed = spark.range(0, 1000, 7).select(F.col("id").alias("parent_id"))
    S.snapshot_delete_keys(spark, a, doomed, partition_cols=pc, mode="dv")
    S.snapshot_delete_keys(spark, b, doomed, partition_cols=pc)
    assert _rows(S.read_snapshot_table(spark, a)) == _rows(
        S.read_snapshot_table(spark, b)
    )


def test_dv_touches_no_data_files(spark, tmp_path):
    """The merge-on-read guarantee itself: the manifest's partition
    mapping is unchanged and the generation directory's files are
    byte-identical after a DV delete."""
    tbl = str(tmp_path / "t")
    g1 = S.snapshot_merge_upsert(
        spark, tbl, _df(spark), partition_cols=["bucket"]
    )
    man1 = S._read_manifest(spark, tbl, g1)["partitions"]
    fs, root = fsio.handle(spark, f"{tbl}/{list(man1.values())[0]}")
    before = sorted(
        (st.getPath().getName(), st.getLen(), st.getModificationTime())
        for st in fs.listStatus(root)
    )
    g2 = S.snapshot_delete_keys(
        spark, tbl,
        spark.range(5).select(F.col("id").alias("parent_id")),
        partition_cols=["bucket"], mode="dv",
    )
    man2 = S._read_manifest(spark, tbl, g2)
    assert man2["partitions"] == man1
    assert man2.get("dv")  # the only new state is the DV reference
    after = sorted(
        (st.getPath().getName(), st.getLen(), st.getModificationTime())
        for st in fs.listStatus(root)
    )
    assert after == before
    assert S.read_snapshot_table(spark, tbl).count() == 995


def test_dv_accumulates_and_time_travel(spark, tmp_path):
    tbl = str(tmp_path / "t")
    g1 = S.snapshot_merge_upsert(
        spark, tbl, _df(spark), partition_cols=["bucket"]
    )
    g2 = S.snapshot_delete_keys(
        spark, tbl,
        spark.range(0, 100).select(F.col("id").alias("parent_id")),
        partition_cols=["bucket"], mode="dv",
    )
    g3 = S.snapshot_delete_keys(
        spark, tbl,
        spark.range(50, 200).select(F.col("id").alias("parent_id")),
        partition_cols=["bucket"], mode="dv",
    )
    assert S.read_snapshot_table(spark, tbl, at_gen=g1).count() == 1000
    assert S.read_snapshot_table(spark, tbl, at_gen=g2).count() == 900
    assert S.read_snapshot_table(spark, tbl, at_gen=g3).count() == 800
    # deleting already-dead rows is a no-op commit
    g4 = S.snapshot_delete_keys(
        spark, tbl,
        spark.range(0, 200).select(F.col("id").alias("parent_id")),
        partition_cols=["bucket"], mode="dv",
    )
    assert g4 == g3


def test_dv_metadata_count_and_pruned_reads(spark, tmp_path):
    tbl = str(tmp_path / "t")
    S.snapshot_enable_stats(
        spark, tbl, cols=["v"], bloom_cols=["parent_id"]
    )
    S.snapshot_merge_upsert(
        spark, tbl,
        _df(spark).repartitionByRange(8, "v"),
        partition_cols=["bucket"],
    )
    S.snapshot_delete_keys(
        spark, tbl,
        spark.range(0, 1000, 3).select(F.col("id").alias("parent_id")),
        partition_cols=["bucket"], mode="dv",
    )
    full = S.read_snapshot_table(spark, tbl)
    assert S.snapshot_metadata_count(spark, tbl) == full.count() == 666
    rep: dict = {}
    got = S.snapshot_read_where(spark, tbl, {"v": (0, 600)}, report=rep)
    want = full.filter((F.col("v") >= 0) & (F.col("v") <= 600))
    assert _rows(got) == _rows(want)
    assert rep["files_skipped"] > 0
    hit = S.snapshot_read_point(spark, tbl, "parent_id", [1, 3])
    assert _rows(hit.select("parent_id")) == [(1,)]  # 3 is DV-deleted


def test_dv_cdf_and_view_maintenance_shape(spark, tmp_path):
    """CDF must see merge-on-read deletes even though no partition's
    generation mapping changed — the DV diff marks the partitions."""
    tbl = str(tmp_path / "t")
    g1 = S.snapshot_merge_upsert(
        spark, tbl, _df(spark), partition_cols=["bucket"]
    )
    g2 = S.snapshot_delete_keys(
        spark, tbl,
        spark.range(0, 40).select(F.col("id").alias("parent_id")),
        partition_cols=["bucket"], mode="dv",
    )
    ch = S.snapshot_changes(spark, tbl, g1, g2, key="parent_id")
    assert ch.count() == 40
    assert ch.select("_change_type").distinct().collect()[0][0] == "delete"
    assert sorted(r["parent_id"] for r in ch.collect()) == list(range(40))


def test_dv_materialized_by_rewrites(spark, tmp_path):
    """Every rewrite path PURGEs the vectors it covers: a merge
    rewriting a partition, selective compaction, and full OPTIMIZE;
    untouched partitions' vectors are carried forward verbatim."""
    tbl = str(tmp_path / "t")
    S.snapshot_merge_upsert(
        spark, tbl, _df(spark), partition_cols=["bucket"]
    )
    S.snapshot_delete_keys(
        spark, tbl,
        spark.range(0, 1000, 5).select(F.col("id").alias("parent_id")),
        partition_cols=["bucket"], mode="dv",
    )
    want = _rows(S.read_snapshot_table(spark, tbl))

    # merge touching bucket 1 only: its DV entries die, others carry
    inc = spark.range(2000, 2010).select(
        F.col("id").alias("parent_id"),
        F.lit(1).cast("int").alias("bucket"),
        (F.col("id") * 3).alias("v"),
    )
    g = S.snapshot_merge_upsert(spark, tbl, inc, partition_cols=["bucket"])
    man = S._read_manifest(spark, tbl, g)
    assert man.get("dv")  # buckets 0/2/3 still carry vectors
    got = _rows(S.read_snapshot_table(spark, tbl))
    # reads return (parent_id, v, bucket) — partition column last
    assert got == sorted(want + [(i, i * 3, 1) for i in range(2000, 2010)])

    # selective compaction of bucket 0: entries for it die
    S.snapshot_compact_partitions(spark, tbl, ["bucket"], rels=["bucket=0"])
    assert _rows(S.read_snapshot_table(spark, tbl)) == got

    # full optimize: all vectors materialized, manifest carries none
    g4 = S.snapshot_optimize(spark, tbl, partition_cols=["bucket"])
    assert S._read_manifest(spark, tbl, g4).get("dv") is None
    assert _rows(S.read_snapshot_table(spark, tbl)) == got


def test_dv_vacuum_and_guards(spark, tmp_path):
    tbl = str(tmp_path / "t")
    S.snapshot_merge_upsert(
        spark, tbl, _df(spark), partition_cols=["bucket"]
    )
    for lo in (0, 100):
        S.snapshot_delete_keys(
            spark, tbl,
            spark.range(lo, lo + 50).select(F.col("id").alias("parent_id")),
            partition_cols=["bucket"], mode="dv",
        )
    fs, dvdir = fsio.handle(spark, f"{tbl}/{S._DV_DIR}")
    assert len(list(fs.listStatus(dvdir))) == 2  # two accumulations
    S.snapshot_vacuum(spark, tbl)
    live = [st.getPath().getName() for st in fs.listStatus(dvdir)]
    cur = S._current_gen(spark, tbl)
    assert live == [S._read_manifest(spark, tbl, cur)["dv"]]
    assert S.read_snapshot_table(spark, tbl).count() == 900
    # oversized DV deletes fail fast toward rewrite mode
    with pytest.raises(ValueError, match="max_dv_rows"):
        S.snapshot_delete_keys(
            spark, tbl,
            spark.range(200, 900).select(F.col("id").alias("parent_id")),
            partition_cols=["bucket"], mode="dv", max_dv_rows=10,
        )
    with pytest.raises(ValueError, match="mode must be"):
        S.snapshot_delete_keys(
            spark, tbl,
            spark.range(3).select(F.col("id").alias("parent_id")),
            mode="nope",
        )


def test_dv_delete_crash_legs(spark, tmp_path, monkeypatch):
    """A crash between the DV file write and the commit leaves the
    table unchanged (orphan DV + pruned claim), the retried delete
    succeeds, and once a later commit moves the pointer past the
    orphan's generation, vacuum garbage-collects it."""
    tbl = str(tmp_path / "t")
    S.snapshot_merge_upsert(
        spark, tbl, _df(spark), partition_cols=["bucket"]
    )
    before = _rows(S.read_snapshot_table(spark, tbl))
    doomed = spark.range(0, 100).select(F.col("id").alias("parent_id"))

    real_commit = S._commit

    def crash_commit(*a, **kw):
        raise RuntimeError("injected crash after DV write")

    monkeypatch.setattr(S, "_commit", crash_commit)
    with pytest.raises(RuntimeError, match="injected"):
        S.snapshot_delete_keys(
            spark, tbl, doomed, partition_cols=["bucket"], mode="dv"
        )
    monkeypatch.setattr(S, "_commit", real_commit)
    # table unchanged; the orphan DV file exists but is unreferenced
    assert _rows(S.read_snapshot_table(spark, tbl)) == before
    fs, dvdir = fsio.handle(spark, f"{tbl}/{S._DV_DIR}")
    assert len(list(fs.listStatus(dvdir))) == 1  # the orphan

    # retry succeeds (claim recovery prunes nothing here — the crash
    # happened before the claim)
    g = S.snapshot_delete_keys(
        spark, tbl, doomed, partition_cols=["bucket"], mode="dv"
    )
    assert S.read_snapshot_table(spark, tbl).count() == 900
    # orphan + live accumulations: once the pointer is at/past the
    # orphan's generation, vacuum removes everything unreferenced
    S.snapshot_vacuum(spark, tbl)
    live = [st.getPath().getName() for st in fs.listStatus(dvdir)]
    assert live == [S._read_manifest(spark, tbl, g)["dv"]]
    assert S.read_snapshot_table(spark, tbl).count() == 900


def test_dv_accumulated_map_bounded(spark, tmp_path):
    """Advisor r6 (low): max_dv_rows must bound the MERGED DV map —
    the thing every reader collects and broadcasts — not just one
    call's increment.  Repeated small DV deletes fail fast once the
    accumulated map would cross the bound, with compaction advised;
    after compaction the map resets and DV deletes work again."""
    import pyspark.sql.functions as F
    import pytest

    from gpt_rag_ingestion_spark.operators import snapshot_table as S

    snap = str(tmp_path / "snap")
    df = spark.range(0, 300).select(
        F.col("id").alias("parent_id"),
        (F.col("id") % 4).alias("bucket"),
        (F.col("id") * 3).alias("v"),
    )
    S.snapshot_merge_upsert(spark, snap, df, partition_cols=["bucket"])

    def doom(lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("parent_id"))

    # two small deletes fit; the third would push the MERGED map past
    # the bound even though its own increment is tiny
    S.snapshot_delete_keys(
        spark, snap, doom(0, 40), mode="dv", max_dv_rows=100
    )
    S.snapshot_delete_keys(
        spark, snap, doom(40, 80), mode="dv", max_dv_rows=100
    )
    with pytest.raises(ValueError, match="accumulated deletion vectors"):
        S.snapshot_delete_keys(
            spark, snap, doom(80, 120), mode="dv", max_dv_rows=100
        )
    # table state untouched by the refused delete
    assert S.read_snapshot_table(spark, snap).count() == 300 - 80

    # compaction folds the DVs into a rewrite; DV deletes resume
    S.snapshot_optimize(spark, snap, partition_cols=["bucket"])
    S.snapshot_delete_keys(
        spark, snap, doom(80, 120), mode="dv", max_dv_rows=100
    )
    assert S.read_snapshot_table(spark, snap).count() == 300 - 120
