"""N-WRITER concurrency stress (r9 verdict #3): the snapshot module
contract promises N concurrent writers, not just the two that
q219/q223 race.  Each schedule races 3-5 writers whose increments have
RANDOMIZED overlapping/disjoint key (and therefore partition) sets,
with partition-local keys (bucket = hash(key) % NB — the documented
write-serializability precondition), then proves SERIALIZABILITY
directly from the committed history:

  walking the manifest chain generation by generation, every step is
  EXACTLY one writer's increment applied with merge semantics
  (delete-then-insert by key) to the previous snapshot — i.e. the
  final table equals a serial replay in commit order, each successful
  increment applied exactly once, under last-writer-wins arbitration.

A second test adds randomized kill injection (the harness from
test_snapshot_crash_sweep): a killed writer's commit either appears in
the chain as a full serial step or not at all — never a torn hybrid —
and the survivors still serialize.

A third test pins the budget-exhaustion contract: with
max_conflict_rebases=0, losers surface SnapshotWriteConflict (never a
corrupt pointer), and the winners' chain still serializes.
"""

from __future__ import annotations

import random
import threading
import time

import pytest

# N-writer kill/stress storms — slow lane (default `pytest tests/` excludes it; run
# with `-m slow` or `-m ""`, see pytest.ini)
pytestmark = pytest.mark.slow

from gpt_rag_ingestion_spark.operators import snapshot_table as S

NB = 4  # partition buckets; bucket = key % NB keeps keys partition-local


def _df(spark, items):
    # items: [(k, v)] -> (k, bucket, v)
    return spark.createDataFrame(
        [(k, k % NB, v) for k, v in items], "k long, bucket int, v long"
    )


def _state(spark, table, at_gen=None):
    return {
        r.k: (r.bucket, r.v)
        for r in S.read_snapshot_table(spark, table, at_gen=at_gen)
        .select("k", "bucket", "v").collect()
    }


def _replay(state: dict, items) -> dict:
    out = dict(state)
    for k, v in items:
        out[k] = (k % NB, v)
    return out


def _make_increments(rng: random.Random, n_writers: int):
    """Randomized overlap structure: writers draw keys from a SHARED
    pool (guaranteed conflicts) and a PRIVATE pool (guaranteed
    disjoint partitions when the buckets differ)."""
    shared = list(range(0, 12))
    incs = []
    for w in range(n_writers):
        items = {}
        for k in rng.sample(shared, rng.randint(0, 4)):
            items[k] = 1000 * (w + 1) + k
        lo = 100 * (w + 1)
        for k in rng.sample(range(lo, lo + 12), rng.randint(1, 5)):
            items[k] = 1000 * (w + 1) + k
        incs.append(sorted(items.items()))
    return incs


def _race(spark, table, incs, max_conflict_rebases):
    """Run one merge per increment concurrently; return ({writer:
    exception-or-None}, committed gens in order)."""
    errs: dict[int, BaseException | None] = {}

    def writer(w):
        try:
            S.snapshot_merge_upsert(
                spark, table, _df(spark, incs[w]), key="k",
                partition_cols=["bucket"],
                max_conflict_rebases=max_conflict_rebases,
            )
            errs[w] = None
        except BaseException as e:
            errs[w] = e

    ts = [
        threading.Thread(target=writer, args=(w,))
        for w in range(len(incs))
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return errs


def _assert_serializable(spark, table, base_state, incs, base_gen,
                         expect_all_applied):
    """Walk the committed chain: each step must equal exactly one
    increment merged onto the previous snapshot; collect which."""
    cur = S._current_gen(spark, table)
    prev = dict(base_state)
    applied = []
    for g in range(base_gen + 1, cur + 1):
        got = _state(spark, table, at_gen=g)
        matches = [
            w for w, inc in enumerate(incs)
            if w not in applied and got == _replay(prev, inc)
        ]
        assert matches, (
            f"generation {g} is not any single writer's merge of "
            f"generation {g - 1}: torn/hybrid commit "
            f"(applied so far: {applied})"
        )
        applied.append(matches[0])
        prev = got
    if expect_all_applied:
        assert sorted(applied) == list(range(len(incs))), (
            f"writers {sorted(set(range(len(incs))) - set(applied))} "
            "reported success but never appear in the commit chain"
        )
    return applied


#: schedules per test run — 17 seeds x 3 tests > 50 schedules total,
#: the r9 verdict's bar, at ~2-4 s per schedule on local[32]
SEEDS = range(17)


@pytest.mark.parametrize("seed", SEEDS)
def test_n_writer_schedules_serialize(spark, tmp_path, seed):
    rng = random.Random(1000 + seed)
    n_writers = rng.choice([3, 4, 5])
    incs = _make_increments(rng, n_writers)
    table = str(tmp_path / "t")
    base = [(k, -k) for k in range(0, 12, 2)]
    S.snapshot_merge_upsert(
        spark, table, _df(spark, base), key="k", partition_cols=["bucket"]
    )
    base_gen = S._current_gen(spark, table)
    base_state = _state(spark, table)

    errs = _race(spark, table, incs, max_conflict_rebases=16)
    assert all(e is None for e in errs.values()), errs
    applied = _assert_serializable(
        spark, table, base_state, incs, base_gen, expect_all_applied=True
    )
    assert len(applied) == n_writers


@pytest.mark.parametrize("seed", SEEDS)
def test_n_writer_schedules_with_kill_injection(
    spark, tmp_path, monkeypatch, seed
):
    """Randomized kill injection over the race: the killer arms a
    random metadata-mutation index; whichever writer reaches it first
    dies there (hard kills are thread-scoped, so rivals keep
    running).  The dead writer's commit appears in the chain fully or
    not at all — never a torn hybrid — and every surviving writer
    still serializes."""
    from tests.test_snapshot_crash_sweep import _Killer, _short_lease

    rng = random.Random(2000 + seed)
    n_writers = rng.choice([3, 4])
    incs = _make_increments(rng, n_writers)
    table = str(tmp_path / "t")
    base = [(k, -k) for k in range(0, 12, 2)]
    S.snapshot_merge_upsert(
        spark, table, _df(spark, base), key="k", partition_cols=["bucket"]
    )
    base_gen = S._current_gen(spark, table)
    base_state = _state(spark, table)

    _short_lease(monkeypatch)
    killer = _Killer(monkeypatch, scope=str(tmp_path))
    killer.arm(
        k=rng.randint(1, 4 * n_writers),
        when=rng.choice(["before", "after"]),
        hard=rng.random() < 0.5,
    )
    errs = _race(spark, table, incs, max_conflict_rebases=16)
    killer.disarm()
    assert killer.fired, f"the armed kill never fired: {killer.log}"

    injected = {
        w: e for w, e in errs.items()
        if e is not None and "injected kill" in str(e)
    }
    other = {
        w: e for w, e in errs.items()
        if e is not None and "injected kill" not in str(e)
    }
    assert not other, f"non-injected failures: {other}"
    assert len(injected) <= 1, injected

    time.sleep(0.6)  # let any orphaned claim age out of the lease
    applied = _assert_serializable(
        spark, table, base_state, incs, base_gen, expect_all_applied=False
    )
    for w, e in errs.items():
        if e is None:
            assert w in applied, (
                f"writer {w} returned success but is missing from the "
                f"commit chain (applied={applied})"
            )


@pytest.mark.parametrize("seed", SEEDS)
def test_budget_exhaustion_is_clean_conflict(spark, tmp_path, seed):
    """max_conflict_rebases=0: losers raise SnapshotWriteConflict and
    the table is exactly a serial replay of the winners."""
    rng = random.Random(3000 + seed)
    n_writers = rng.choice([3, 4, 5])
    incs = _make_increments(rng, n_writers)
    table = str(tmp_path / "t")
    base = [(k, -k) for k in range(0, 12, 2)]
    S.snapshot_merge_upsert(
        spark, table, _df(spark, base), key="k", partition_cols=["bucket"]
    )
    base_gen = S._current_gen(spark, table)
    base_state = _state(spark, table)

    errs = _race(spark, table, incs, max_conflict_rebases=0)
    losers = {w: e for w, e in errs.items() if e is not None}
    for w, e in losers.items():
        assert isinstance(e, S.SnapshotWriteConflict), (w, type(e), e)
    # pointer is intact and the chain serializes over the winners
    applied = _assert_serializable(
        spark, table, base_state, incs, base_gen, expect_all_applied=False
    )
    winners = sorted(w for w, e in errs.items() if e is None)
    assert sorted(applied) == winners, (applied, winners, losers)


@pytest.mark.parametrize("seed", range(8))
def test_mixed_op_writers_serialize(spark, tmp_path, seed):
    """Mergers and DELETERS race: the chain walk models each committed
    generation as exactly one writer's operation (merge =
    delete-then-insert by key; delete = key removal) applied to its
    predecessor — covering the delete path's commit protocol under the
    same contention."""
    rng = random.Random(4000 + seed)
    n_writers = rng.choice([3, 4])
    incs = _make_increments(rng, n_writers)
    # writer 0 becomes a deleter: it deletes its increment's keys
    # (drawn from the shared pool so contention is real)
    del_keys = sorted(
        {k for k, _ in incs[0] if k < 100} | {0, 2}
    )
    table = str(tmp_path / "t")
    base = [(k, -k) for k in range(0, 12)]
    S.snapshot_merge_upsert(
        spark, table, _df(spark, base), key="k", partition_cols=["bucket"]
    )
    base_gen = S._current_gen(spark, table)
    base_state = _state(spark, table)

    errs: dict[int, BaseException | None] = {}

    def merger(w):
        try:
            S.snapshot_merge_upsert(
                spark, table, _df(spark, incs[w]), key="k",
                partition_cols=["bucket"], max_conflict_rebases=16,
            )
            errs[w] = None
        except BaseException as e:
            errs[w] = e

    def deleter():
        try:
            S.snapshot_delete_keys(
                spark, table,
                spark.createDataFrame(
                    [(k,) for k in del_keys], "k long"
                ),
                key="k", partition_cols=["bucket"],
                max_conflict_rebases=16,
            )
            errs[0] = None
        except BaseException as e:
            errs[0] = e

    ts = [threading.Thread(target=deleter)] + [
        threading.Thread(target=merger, args=(w,))
        for w in range(1, n_writers)
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert all(e is None for e in errs.values()), errs

    # chain walk with per-writer op models
    def apply_op(state, w):
        if w == 0:
            return {k: v for k, v in state.items() if k not in del_keys}
        return _replay(state, incs[w])

    cur = S._current_gen(spark, table)
    prev = dict(base_state)
    applied = []
    for g in range(base_gen + 1, cur + 1):
        got = _state(spark, table, at_gen=g)
        matches = [
            w for w in range(n_writers)
            if w not in applied and got == apply_op(prev, w)
        ]
        assert matches, (
            f"generation {g}: torn/hybrid commit "
            f"(applied={applied}, deleter keys={del_keys})"
        )
        applied.append(matches[0])
        prev = got
    assert sorted(applied) == list(range(n_writers)), applied
