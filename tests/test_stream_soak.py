"""LONG-LIVED STREAM SOAK (r10 verdict #6): ``stream_into_snapshot``
with the ``max_generations`` compaction trigger over many ticks on a
PARTITIONED table (each tick rewrites one partition, so the manifest's
generation fan-in genuinely accumulates and the trigger must fold), a
CONCURRENT READER thread, and kill injection re-using the crash-sweep
harness — asserting, per tick and at the end:

  (a) read fan-in stays bounded: the current manifest never references
      more than ``max_generations`` generation directories after the
      trigger ran (without the trigger it would reach the partition
      count, which is > the bound);
  (b) readers never TEAR: every successful concurrent read observes
      EXACTLY the committed state after some tick — a fold/vacuum
      racing the reader may surface the documented FileNotFoundError
      (retried), never silently mixed data;
  (c) a killed tick's replay converges exactly-once (the txn ledger
      carries the batch id; the re-drain applies the batch once);
  (d) time travel to a folded-away generation raises the documented
      FileNotFoundError naming snapshot_vacuum as the retention
      boundary (the AS-OF-after-fold contract stated in
      stream_into_snapshot's docstring).
"""
from __future__ import annotations

import threading
import time

import pytest

# streaming soaks — slow lane (default `pytest tests/` excludes it; run
# with `-m slow` or `-m ""`, see pytest.ini)
pytestmark = pytest.mark.slow

from gpt_rag_ingestion_spark.operators import snapshot_table as S
from gpt_rag_ingestion_spark.streaming.micro_batch import (
    stream_into_snapshot,
)

from tests.test_snapshot_crash_sweep import _Killer, _short_lease

N_TICKS = 10
N_KEYS = 12
N_PARTS = 4
MAX_GENS = 2
#: ticks whose drain gets a kill injected at the commit's claim
#: create-exclusive (soft = abort cleanup runs, hard = SIGKILL
#: semantics: cleanup never lands, the claim orphans for the lease)
KILL_TICKS = {3: "soft", 6: "hard"}


def _touched(tick: int) -> list[int]:
    """Tick 0 seeds every key; tick t>0 touches only the keys of
    partition ``t % N_PARTS`` — one partition rewritten per tick, the
    others keep their older generation refs."""
    if tick == 0:
        return list(range(N_KEYS))
    return [k for k in range(N_KEYS) if k % N_PARTS == tick % N_PARTS]


def _state_after(tick: int) -> dict[int, int]:
    st: dict[int, int] = {}
    for t in range(tick + 1):
        for k in _touched(t):
            st[k] = t
    return st


def _tick_df(spark, tick: int):
    return spark.createDataFrame(
        [(k, k % N_PARTS, tick) for k in _touched(tick)],
        "k long, b int, tick long",
    )


def test_stream_soak_bounded_fanin_reader_and_kills(
    spark, tmp_path, monkeypatch
):
    _short_lease(monkeypatch)
    land = tmp_path / "land"
    land.mkdir()
    table = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")

    killer = _Killer(monkeypatch, scope=table)
    killer.disarm()

    valid_states = [_state_after(t) for t in range(N_TICKS)]
    stop = threading.Event()
    torn: list[str] = []
    retried = {"n": 0}
    ok_reads = {"n": 0}

    def reader():
        while not stop.is_set():
            try:
                rows = S.read_snapshot_table(spark, table).collect()
            except Exception:
                # a fold+vacuum invalidated the resolved snapshot
                # mid-read: the DOCUMENTED retryable outcome — never
                # torn data
                retried["n"] += 1
                time.sleep(0.05)
                continue
            got = {r.k: r.tick for r in rows}
            if got not in valid_states:
                torn.append(repr(got))
                return
            ok_reads["n"] += 1

    def drain():
        stream = spark.readStream.schema(
            "k long, b int, tick long"
        ).parquet(f"{land}/*")
        stream_into_snapshot(
            stream, table, ckpt, key="k", partition_cols=["b"],
            app_id="soak", max_generations=MAX_GENS,
        )

    # tick 0 seeds the table before the reader starts
    _tick_df(spark, 0).write.mode("append").parquet(
        str(land / "tick-000")
    )
    drain()
    early_gen = S._current_gen(spark, table)
    t = threading.Thread(target=reader, daemon=True)
    t.start()

    max_fanin = 0
    try:
        for tick in range(1, N_TICKS):
            _tick_df(spark, tick).write.mode("append").parquet(
                str(land / f"tick-{tick:03d}")
            )
            mode = KILL_TICKS.get(tick)
            if mode:
                # kill at the FIRST scoped metadata mutation of the
                # tick's commit — the claim create-exclusive, which
                # always runs on the writer thread (later mutation
                # indices can land on the claim-heartbeat thread and
                # would not kill the writer).  The drain dies, the
                # checkpoint commit is lost, and the RE-DRAIN replays
                # the batch under the same id.
                killer.arm(k=1, when="after", hard=(mode == "hard"))
                with pytest.raises(Exception):
                    drain()
                killer.disarm()
                assert killer.fired, "the tick's kill never fired"
                # a kill AT the claim write orphans the claim in both
                # modes (the abort cleanup guards only later legs);
                # the re-drain relies on the lease path pruning it
                time.sleep(0.6)
            drain()
            # (a) fan-in bound after every tick's trigger
            cur = S._current_gen(spark, table)
            m = S._read_manifest(spark, table, cur)
            n_gens = len(set(m["partitions"].values()))
            max_fanin = max(max_fanin, n_gens)
            assert n_gens <= MAX_GENS, (tick, n_gens)
    finally:
        stop.set()
        t.join(timeout=30)

    assert not torn, torn
    assert ok_reads["n"] > 0, "reader never observed a snapshot"
    # the bound BINDS: per-tick single-partition rewrites would have
    # pushed fan-in to N_PARTS without the trigger
    assert MAX_GENS < N_PARTS and max_fanin <= MAX_GENS

    # (c) exactly-once held through the kills: final state is the
    # closed-form tick composition, applied once each
    rows = S.read_snapshot_table(spark, table).collect()
    assert {r.k: r.tick for r in rows} == _state_after(N_TICKS - 1)
    # the ledger carries ONE entry for the stream's app id
    cur = S._current_gen(spark, table)
    ledger = S._read_manifest(spark, table, cur).get("txn") or {}
    assert list(ledger) == ["soak"], ledger
    # a hostile replay of the LAST drained batch is a no-op
    S.snapshot_merge_upsert(
        spark, table, _tick_df(spark, N_TICKS - 1), key="k",
        partition_cols=["b"],
        txn_app_id="soak", txn_version=int(ledger["soak"]),
    )
    assert S._current_gen(spark, table) == cur

    # (d) AS-OF after the fold: the early generation's manifest was
    # folded/vacuumed away; time travel raises the documented error
    assert early_gen < cur
    with pytest.raises(FileNotFoundError, match="snapshot_vacuum"):
        S.read_snapshot_table(spark, table, at_gen=early_gen)


def _src_files(path: str) -> dict[str, tuple[float, int]]:
    import os

    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_mtime, st.st_size)
    return out


def test_convert_then_stream_soak_composition(spark, tmp_path, monkeypatch):
    """r11 verdict #5: the two r11 features COMPOSED — adopt a raw
    parquet corpus via ``snapshot_convert_from_parquet`` (with
    collect_stats, r12), then run ``stream_into_snapshot`` with the
    fold trigger on top of it, kills injected — asserting:

      (a) the converted-from directory is NEVER touched: not by the
          stream's merges, not by the fold's OPTIMIZE, not by its
          VACUUM (vacuum only deletes ``gen-*`` under the table root;
          the external ref lives outside it) — byte-for-byte mtime+size
          identical after every tick;
      (b) fan-in stays bounded with the EXTERNAL ref counting as one
          generation, and the first fold LOCALIZES the corpus (no
          manifest references the source after it) — after which
          vacuum GCs the ext stats sidecar too;
      (c) pruned reads work over the adopted corpus BEFORE any fold
          (the convert-time sidecar), and exactly-once holds through
          the kills (final state = closed-form tick composition).
    """
    import os

    _short_lease(monkeypatch)
    src = str(tmp_path / "corpus")
    _tick_df(spark, 0).write.partitionBy("b").parquet(src)
    table = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    land = tmp_path / "land"
    land.mkdir()

    killer = _Killer(monkeypatch, scope=table)
    killer.disarm()

    S.snapshot_convert_from_parquet(
        spark, src, table, partition_cols=["b"], collect_stats=True
    )
    before = _src_files(src)
    # (c1) pruned read over the adopted corpus, pre-fold
    rep: dict = {}
    got = S.snapshot_read_where(spark, table, {"k": (0, 3)}, report=rep)
    assert rep["unpruned_gens"] == 0, rep
    assert {r.k for r in got.collect()} == {0, 1, 2, 3}

    def drain():
        stream = spark.readStream.schema(
            "k long, b int, tick long"
        ).parquet(f"{land}/*")
        stream_into_snapshot(
            stream, table, ckpt, key="k", partition_cols=["b"],
            app_id="conv-soak", max_generations=MAX_GENS,
        )

    folded = False
    for tick in range(1, 8):
        _tick_df(spark, tick).write.mode("append").parquet(
            str(land / f"tick-{tick:03d}")
        )
        mode = {3: "soft", 6: "hard"}.get(tick)
        if mode:
            killer.arm(k=1, when="after", hard=(mode == "hard"))
            with pytest.raises(Exception):
                drain()
            killer.disarm()
            assert killer.fired, "the tick's kill never fired"
            time.sleep(0.6)  # orphaned claim lease (kill at the claim)
        drain()
        cur = S._current_gen(spark, table)
        refs = set(S._read_manifest(spark, table, cur)["partitions"].values())
        assert len(refs) <= MAX_GENS, (tick, refs)
        if src not in refs:
            folded = True
        # (a) the caller-owned corpus is untouched after EVERY tick
        assert _src_files(src) == before, f"source mutated at tick {tick}"

    assert folded, "fold never localized the external ref"
    cur = S._current_gen(spark, table)
    refs = set(S._read_manifest(spark, table, cur)["partitions"].values())
    assert src not in refs
    # (b) the ext sidecar was GC'd by the fold's vacuum once the
    # external ref died; local sidecars (stats conf traveled) remain
    sdir = os.path.join(table, "_stats")
    assert not [
        f for f in os.listdir(sdir) if f.startswith("ext-")
    ]
    # (c2) exactly-once through both kills
    rows = S.read_snapshot_table(spark, table).collect()
    assert {r.k: r.tick for r in rows} == _state_after(7)
    ledger = S._read_manifest(spark, table, cur).get("txn") or {}
    assert list(ledger) == ["conv-soak"], ledger
    # hostile replay of the last batch: no-op
    S.snapshot_merge_upsert(
        spark, table, _tick_df(spark, 7), key="k", partition_cols=["b"],
        txn_app_id="conv-soak", txn_version=int(ledger["conv-soak"]),
    )
    assert S._current_gen(spark, table) == cur
    assert _src_files(src) == before
