"""Crash gaps of two persisted planes that commit through operators/fsio:
the dedup sidecar's meta publish and the streaming sketch table's
directory swap.  Each kill lands between the two steps of the commit;
the next writer must finish it, converging to an uncrashed twin."""

from __future__ import annotations

import json

import pytest

from gpt_rag_ingestion_spark.operators import fsio


def _kill_rename(monkeypatch, match) -> dict:
    """Make the first ``fsio.rename`` whose (src, dst) satisfies
    ``match`` raise, as a process killed at that point would stop."""
    real = fsio.rename
    state = {"fired": 0}

    def rename(spark, src, dst):
        if not state["fired"] and match(src, dst):
            state["fired"] += 1
            raise RuntimeError(f"injected kill before rename {src} -> {dst}")
        return real(spark, src, dst)

    monkeypatch.setattr(fsio, "rename", rename)
    return state


def test_sidecar_meta_publish_gap_is_rolled_forward(spark, tmp_path, monkeypatch):
    """Killed between ``delete(meta)`` and ``rename(meta__staging,
    meta)``: the sidecar has no meta.  The next writer restores it,
    and the replayed append classifies exactly like its twin."""
    from gpt_rag_ingestion_spark.operators.dedup import (
        _sidecar_read_meta,
        dedup_sidecar_append,
        dedup_sidecar_build,
        incremental_dedup_sidecar,
    )

    schema = "doc_id long, text string"
    base = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "lorem ipsum dolor sit amet")], schema
    )
    batch = spark.createDataFrame(
        [(1, "the quick brown fox leaps"), (3, "an entirely new document")], schema
    )
    side, twin = str(tmp_path / "side"), str(tmp_path / "twin")
    for path in (side, twin):
        dedup_sidecar_build(base, path)
    dedup_sidecar_append(batch, twin, "b1")

    state = _kill_rename(monkeypatch, lambda s, d: d == f"{side}/meta")
    with pytest.raises(RuntimeError, match="injected kill"):
        dedup_sidecar_append(batch, side, "b1")
    monkeypatch.undo()
    assert state["fired"] == 1, "the injected kill never fired"
    assert not fsio.exists(spark, f"{side}/meta")
    assert fsio.exists(spark, f"{side}/meta__staging")

    # the at-least-once replay: its recovery restores meta first (the
    # restored counters already hold the killed attempt's increment,
    # so they stay conservatively high, as the append documents)
    dedup_sidecar_append(batch, side, "b1")
    meta, want = _sidecar_read_meta(spark, side), _sidecar_read_meta(spark, twin)
    assert meta["n"] == want["n"] and meta["superseded"] >= want["superseded"]
    probe = spark.createDataFrame(
        [(10, "the quick brown fox leaps"), (11, "lorem ipsum dolor sit amet"),
         (12, "something else entirely")],
        schema,
    )
    assert sorted(
        tuple(r) for r in incremental_dedup_sidecar(probe, side).collect()
    ) == sorted(tuple(r) for r in incremental_dedup_sidecar(probe, twin).collect())


def test_sketch_swap_gap_keeps_prior_counts(spark, tmp_path, monkeypatch):
    """Killed between the sketch swap's two renames (live -> __old
    done, staged -> live not): the prior counts exist only in
    ``__old``.  The re-drained batch must restore and merge into them,
    not start over from its own delta."""
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_incremental_sketch,
    )

    def rows(lo, hi):
        return "\n".join(
            json.dumps({"event_id": i, "event_type": f"t{i % 2}", "value": (i * 7) % 500})
            for i in range(lo, hi)
        )

    def drain(root):
        run_incremental_sketch(spark, str(root / "land"), str(root / "sketch"),
                               str(root / "ckpt"))

    roots = {name: tmp_path / name for name in ("crashed", "twin")}
    for root in roots.values():
        (root / "land").mkdir(parents=True)
        (root / "land" / "b1.json").write_text(rows(0, 60))
        drain(root)
        (root / "land" / "b2.json").write_text(rows(60, 100))
    drain(roots["twin"])

    sketch = str(roots["crashed"] / "sketch")
    state = _kill_rename(
        monkeypatch, lambda s, d: s == f"{sketch}__staging" and d == sketch
    )
    with pytest.raises(Exception, match="injected kill"):
        drain(roots["crashed"])
    monkeypatch.undo()
    assert state["fired"] == 1, "the injected kill never fired"
    assert not fsio.exists(spark, sketch)
    assert fsio.exists(spark, f"{sketch}__old")

    drain(roots["crashed"])  # the checkpoint replays batch 2

    def counts(root):
        return sorted(
            tuple(r) for r in spark.read.parquet(str(root / "sketch")).collect()
        )

    assert counts(roots["crashed"]) == counts(roots["twin"])
    assert sum(c for _t, _b, c in counts(roots["crashed"])) == 100
