"""CONVERT TO DELTA parity (`snapshot_convert_from_parquet`): adopt an
existing plain-parquet directory as a snapshot table in one metadata
commit — zero bytes copied — then prove the adopted table is
first-class (merge/delete/time-travel/OPTIMIZE/constraints) and that
the engine NEVER mutates the caller-owned source directory."""
from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.operators import snapshot_table as S


def _source_files(path: str) -> dict[str, float]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getmtime(p)
    return out


def _orders(spark, n=40):
    return spark.createDataFrame(
        [(i, f"x{i % 3}", i * 10) for i in range(n)],
        "k long, b string, v long",
    )


def test_convert_unpartitioned_roundtrip_and_writes(spark, tmp_path):
    src = str(tmp_path / "raw")
    _orders(spark).write.parquet(src)
    t = str(tmp_path / "t")
    g1 = S.snapshot_convert_from_parquet(spark, src, t)
    assert g1 == 1
    before = _source_files(src)
    # read-back equality with the raw directory
    got = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    want = {r.k: r.v for r in spark.read.parquet(src).collect()}
    assert got == want
    # first-class writes on top: merge + delete, zero source mutation
    S.snapshot_merge_upsert(
        spark, t,
        spark.createDataFrame(
            [(1, "x1", 999), (1000, "x0", 1)], "k long, b string, v long"
        ),
        key="k",
    )
    S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(2,)], "k long"), key="k"
    )
    got2 = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert got2[1] == 999 and got2[1000] == 1 and 2 not in got2
    # TIME TRAVEL back across the convert boundary: gen 1 IS the raw dir
    back = {
        r.k: r.v
        for r in S.read_snapshot_table(spark, t, at_gen=1).collect()
    }
    assert back == want
    assert _source_files(src) == before  # not a byte touched


def test_convert_partitioned_untouched_partitions_keep_source_ref(
    spark, tmp_path
):
    src = str(tmp_path / "raw")
    _orders(spark).write.partitionBy("b").parquet(src)
    t = str(tmp_path / "t")
    S.snapshot_convert_from_parquet(spark, src, t, partition_cols=["b"])
    m1 = S._read_manifest(spark, t, 1)
    assert set(m1["partitions"]) == {"b=x0", "b=x1", "b=x2"}
    assert set(m1["partitions"].values()) == {src}
    # STRING partition type is pinned by the stored schema
    assert [
        f["type"] for f in m1["schema"]["fields"] if f["name"] == "b"
    ] == ["string"]
    before = _source_files(src)
    # a merge touching only b=x1 leaves the other rels on the source
    S.snapshot_merge_upsert(
        spark, t,
        spark.createDataFrame([(1, "x1", 777)], "k long, b string, v long"),
        key="k", partition_cols=["b"],
    )
    m2 = S._read_manifest(spark, t, 2)
    assert m2["partitions"]["b=x0"] == src
    assert m2["partitions"]["b=x2"] == src
    assert m2["partitions"]["b=x1"] != src
    got = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert got[1] == 777 and got[0] == 0 and len(got) == 40
    assert _source_files(src) == before


def test_convert_optimize_localizes_and_vacuum_never_touches_source(
    spark, tmp_path
):
    src = str(tmp_path / "raw")
    _orders(spark).write.partitionBy("b").parquet(src)
    t = str(tmp_path / "t")
    S.snapshot_convert_from_parquet(spark, src, t, partition_cols=["b"])
    before = _source_files(src)
    S.snapshot_optimize(spark, t, partition_cols=["b"])
    cur = S._current_gen(spark, t)
    refs = set(S._read_manifest(spark, t, cur)["partitions"].values())
    assert src not in refs  # fully localized
    gc = S.snapshot_vacuum(spark, t)
    assert gc["removed_gens"] == 0  # nothing local was superseded
    assert _source_files(src) == before
    got = {r.k: r.v for r in S.read_snapshot_table(spark, t).collect()}
    assert len(got) == 40


def test_convert_guards(spark, tmp_path):
    src = str(tmp_path / "raw")
    _orders(spark).write.parquet(src)
    with pytest.raises(ValueError, match="distinct"):
        S.snapshot_convert_from_parquet(spark, src, src)
    with pytest.raises(FileNotFoundError):
        S.snapshot_convert_from_parquet(
            spark, str(tmp_path / "nope"), str(tmp_path / "t0")
        )
    t = str(tmp_path / "t")
    S.snapshot_convert_from_parquet(spark, src, t)
    with pytest.raises(FileExistsError):
        S.snapshot_convert_from_parquet(spark, src, t)
    with pytest.raises(ValueError, match="partition columns"):
        S.snapshot_convert_from_parquet(
            spark, src, str(tmp_path / "t2"), partition_cols=["nope"]
        )


def test_convert_constraints_and_identity_bind_after(spark, tmp_path):
    src = str(tmp_path / "raw")
    _orders(spark).write.parquet(src)
    t = str(tmp_path / "t")
    S.snapshot_convert_from_parquet(spark, src, t)
    S.snapshot_add_constraint(spark, t, "v_nonneg", "v >= 0")
    with pytest.raises(S.SnapshotConstraintViolation):
        S.snapshot_merge_upsert(
            spark, t,
            spark.createDataFrame(
                [(5000, "x0", -1)], "k long, b string, v long"
            ),
            key="k",
        )
    # adding a constraint the EXISTING (converted) data violates fails
    with pytest.raises(S.SnapshotConstraintViolation):
        S.snapshot_add_constraint(spark, t, "v_big", "v >= 100")


def test_clone_of_converted_table_no_stray_breadcrumbs(spark, tmp_path):
    src = str(tmp_path / "raw")
    _orders(spark).write.parquet(src)
    t = str(tmp_path / "t")
    S.snapshot_convert_from_parquet(spark, src, t)
    c = str(tmp_path / "c")
    S.snapshot_clone(spark, t, c)
    # the clone references the raw dir; no _clones/ litter appears in
    # the caller-owned parent of the raw directory
    assert not os.path.exists(str(tmp_path / "_clones"))
    got = {r.k: r.v for r in S.read_snapshot_table(spark, c).collect()}
    assert len(got) == 40
    # the clone is writable and divergent
    S.snapshot_merge_upsert(
        spark, c,
        spark.createDataFrame([(0, "x0", -5)], "k long, b string, v long"),
        key="k",
    )
    assert {
        r.k: r.v for r in S.read_snapshot_table(spark, t).collect()
    }[0] == 0


def test_convert_crash_legs(spark, tmp_path, monkeypatch):
    """Kill the convert's commit at every metadata mutation, both
    modes: a reader afterwards sees either NO table or the complete
    converted table — never a torn one — and a retried convert
    converges.  (The convert is one `_commit`; this drives the same
    invariants the merge crash sweep proves, through the new
    entry point.)"""
    from tests.test_snapshot_crash_sweep import _Killer, _short_lease

    _short_lease(monkeypatch)
    src = str(tmp_path / "raw")
    _orders(spark).write.parquet(src)
    killer = _Killer(monkeypatch, scope=str(tmp_path))
    for k in range(1, 5):
        for hard in (False, True):
            t = str(tmp_path / f"t-{k}-{int(hard)}")
            killer.arm(k=k, when="after", hard=hard)
            try:
                S.snapshot_convert_from_parquet(spark, src, t)
            except Exception:
                pass
            killer.disarm()
            assert killer.fired, f"kill@{k} never fired: {killer.log}"
            # reader invariant: absent or complete, never torn
            cur = S._current_gen(spark, t)
            if cur is not None:
                assert S.read_snapshot_table(spark, t).count() == 40
            else:
                import time as _t

                _t.sleep(0.6)  # orphaned claim lease expiry
                try:
                    S.snapshot_convert_from_parquet(spark, src, t)
                except FileExistsError:
                    pass  # the kill landed after the atomic point
                assert S.read_snapshot_table(spark, t).count() == 40


def _clustered_src(spark, n=4000, files=8):
    """Range-clustered on v so per-file min/max windows are narrow."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("int").alias("b"),
            (F.col("id") * 3).alias("v"),
        )
        .repartitionByRange(files, "v")
    )


def test_convert_collect_stats_prunes_adopted_corpus(spark, tmp_path):
    """r11 verdict #2: ``collect_stats=True`` closes the full-scan tax
    on an adopted corpus — one read-only scan at convert builds the
    min/max sidecar for the EXTERNAL generation, and a selective read
    file-skips from day one (the q170 data-skipping assertion replayed
    over a converted table), with zero bytes moved and zero writes
    into the caller-owned source directory."""
    src = str(tmp_path / "raw")
    _clustered_src(spark).write.parquet(src)
    t = str(tmp_path / "t")
    before = _source_files(src)
    S.snapshot_convert_from_parquet(spark, src, t, collect_stats=True)
    assert _source_files(src) == before  # the stats scan is read-only
    # the sidecar lives in OUR _stats/, never beside the source
    sdir = os.path.join(t, "_stats")
    exts = [f for f in os.listdir(sdir) if f.startswith("ext-")]
    assert len(exts) == 1
    assert not os.path.exists(os.path.join(src, "_stats"))
    rep: dict = {}
    got = S.snapshot_read_where(spark, t, {"v": (600, 900)}, report=rep)
    want = S.read_snapshot_table(spark, t).filter(
        (F.col("v") >= 600) & (F.col("v") <= 900)
    )
    cols = ["k", "b", "v"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )
    assert rep["files_skipped"] > 0, rep
    assert rep["files_read"] < rep["files_total"]
    assert rep["unpruned_gens"] == 0, rep


def test_convert_collect_stats_partitioned_defaults_exclude_pcols(
    spark, tmp_path
):
    """Partitioned adoption: default stats_cols are the supported-type
    DATA columns (partition columns prune via the directory layout);
    pruning and partition filters compose over the external gen."""
    src = str(tmp_path / "raw")
    _clustered_src(spark).write.partitionBy("b").parquet(src)
    t = str(tmp_path / "t")
    S.snapshot_convert_from_parquet(
        spark, src, t, partition_cols=["b"], collect_stats=True
    )
    import json as _json

    conf = _json.loads(
        open(os.path.join(t, "_stats_config.json")).read()
    )
    assert "b" not in conf["cols"] and set(conf["cols"]) == {"k", "v"}
    rep: dict = {}
    got = S.snapshot_read_where(spark, t, {"v": (0, 300)}, report=rep)
    assert rep["files_skipped"] > 0, rep
    n = got.filter(F.col("b") == 1).count()
    want = (
        spark.read.parquet(src)
        .filter((F.col("v") <= 300) & (F.col("b") == 1))
        .count()
    )
    assert n == want and n > 0


def test_convert_partition_cols_order_mismatch_rejected(spark, tmp_path):
    """r11 advisor: partition_cols in the WRONG order vs the directory
    layout (a=.../b=... adopted as ['b','a']) would record rel keys no
    later write matches — rejected loudly at convert."""
    src = str(tmp_path / "raw")
    spark.createDataFrame(
        [(i, f"a{i % 2}", f"b{i % 3}", i) for i in range(24)],
        "k long, a string, b string, v long",
    ).write.partitionBy("a", "b").parquet(src)
    with pytest.raises(ValueError, match="layout"):
        S.snapshot_convert_from_parquet(
            spark, src, str(tmp_path / "t"), partition_cols=["b", "a"]
        )
    # the right order still converts
    g = S.snapshot_convert_from_parquet(
        spark, src, str(tmp_path / "t2"), partition_cols=["a", "b"]
    )
    assert g == 1


def test_convert_ext_sidecar_lifecycle_with_vacuum(spark, tmp_path):
    """The ext-<digest>.json sidecar survives vacuum while the external
    ref is live, and is garbage-collected once OPTIMIZE localizes the
    data (no retained manifest references the source any more) — the
    source directory itself is NEVER touched either way."""
    src = str(tmp_path / "raw")
    _clustered_src(spark, n=400, files=4).write.parquet(src)
    t = str(tmp_path / "t")
    S.snapshot_convert_from_parquet(spark, src, t, collect_stats=True)
    before = _source_files(src)
    sdir = os.path.join(t, "_stats")

    def _exts():
        return [f for f in os.listdir(sdir) if f.startswith("ext-")]

    assert len(_exts()) == 1
    S.snapshot_vacuum(spark, t)          # ref still live: sidecar stays
    assert len(_exts()) == 1
    S.snapshot_optimize(spark, t)        # localizes: src unreferenced
    S.snapshot_vacuum(spark, t)
    assert _exts() == []                 # ext sidecar GC'd
    assert _source_files(src) == before  # source never touched
    assert S.read_snapshot_table(spark, t).count() == 400


def test_convert_collect_stats_bloom_point_lookup(spark, tmp_path):
    """Bloom bitmaps collected at convert: a point lookup over the
    adopted corpus opens only files whose bloom lights every bit —
    the key column is hash-scattered so min/max could NOT prune it,
    proving the bloom (not the ranges) does the skipping."""
    src = str(tmp_path / "raw")
    (
        spark.range(4000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 7 % 1000).alias("v"),
        )
        .repartition(8)  # hash-scatter: every file spans the key range
        .write.parquet(src)
    )
    t = str(tmp_path / "t")
    S.snapshot_convert_from_parquet(
        spark, src, t, collect_stats=True,
        stats_cols=["v"], bloom_cols=["k"],
    )
    rep: dict = {}
    got = S.snapshot_read_point(spark, t, "k", [17, 917], report=rep)
    assert sorted(r.k for r in got.collect()) == [17, 917]
    assert rep["files_skipped"] > 0, rep
    assert rep["unpruned_gens"] == 0, rep
