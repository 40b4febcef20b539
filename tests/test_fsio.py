"""Unit tests for operators/fsio: the raising rename, and the state
tables of the directory protocol (``recover_dir``/``read_dir``) and of
the pointer protocol (``publish``/``recover``)."""

from __future__ import annotations

import os
import shutil

import pytest

from gpt_rag_ingestion_spark.operators import fsio


def test_rename_raises_when_hadoop_returns_false(spark, tmp_path, monkeypatch):
    """Hadoop reports many rename failures as a False return, not an
    exception (HDFS: missing parent, existing destination).  A swap
    that ignored it would go on to delete the only copy."""
    src, dst = str(tmp_path / "a"), str(tmp_path / "b")
    fsio.write_text(spark, src, "x")
    real_handle = fsio.handle
    calls = []

    class _Refusing:
        def rename(self, s, d):
            calls.append((s.toString(), d.toString()))
            return False

    def handle(spark_, path):
        return _Refusing(), real_handle(spark_, path)[1]

    monkeypatch.setattr(fsio, "handle", handle)
    with pytest.raises(OSError, match="rename failed"):
        fsio.rename(spark, src, dst)
    assert len(calls) == 1
    monkeypatch.undo()
    assert fsio.exists(spark, src) and not fsio.exists(spark, dst)
    fsio.rename(spark, src, dst)  # the real filesystem accepts it
    assert fsio.read_text(spark, dst) == "x"


def test_delete_and_list_tolerate_missing_paths(spark, tmp_path):
    missing = str(tmp_path / "nope")
    fsio.delete(spark, missing)
    assert list(fsio.list(spark, missing)) == []
    fsio.mkdirs(spark, f"{missing}/a/b")
    assert [st.getPath().getName() for st in fsio.list(spark, missing)] == ["a"]
    fsio.delete(spark, missing)
    assert not os.path.exists(missing)


@pytest.fixture(scope="module")
def generations(spark, tmp_path_factory):
    """One-row parquet directories tagged 'live', 'old', 'staged'."""
    root = tmp_path_factory.mktemp("gens")
    out = {}
    for tag in ("live", "old", "staged"):
        path = str(root / tag)
        spark.createDataFrame([(tag,)], "tag string").coalesce(1).write.parquet(path)
        out[tag] = path
    return out


def _tag(spark, path):
    return [r.tag for r in spark.read.parquet(path).collect()]


#: state -> (directories present before, tag read by read_dir, tag
#: live holds after recover_dir, __staging left in place)
_DIR_STATES = {
    "live only": ({"live"}, "live", "live", False),
    "__old only": ({"old"}, "old", "old", False),
    "both": ({"live", "old"}, "live", "live", False),
    "leftover __staging": ({"live", "staged"}, "live", "live", True),
}


def _lay_out(generations, base, present):
    suffix = {"live": "", "old": "__old", "staged": "__staging"}
    for tag in present:
        shutil.copytree(generations[tag], base + suffix[tag])


@pytest.mark.parametrize("state", list(_DIR_STATES))
def test_read_dir_state_table(spark, tmp_path, generations, state):
    present, read_tag, _after, _staging = _DIR_STATES[state]
    base = str(tmp_path / "t")
    _lay_out(generations, base, present)
    before = sorted(os.listdir(tmp_path))
    assert [r.tag for r in fsio.read_dir(spark, base).collect()] == [read_tag]
    assert sorted(os.listdir(tmp_path)) == before  # readers never rename


@pytest.mark.parametrize("state", list(_DIR_STATES))
def test_recover_dir_state_table(spark, tmp_path, generations, state):
    present, _read, after, staging_left = _DIR_STATES[state]
    base = str(tmp_path / "t")
    _lay_out(generations, base, present)
    fsio.recover_dir(spark, base)
    assert _tag(spark, base) == [after]
    assert not os.path.exists(base + "__old")
    assert os.path.exists(base + "__staging") == staging_left
    fsio.recover_dir(spark, base)  # idempotent
    assert _tag(spark, base) == [after]


def test_swap_dir_replaces_live_and_recover_tree_heals_partitions(
    spark, tmp_path, generations
):
    base = str(tmp_path / "t")
    _lay_out(generations, base, {"live", "staged"})
    fsio.swap_dir(spark, base + "__staging", base)
    assert _tag(spark, base) == ["staged"]
    assert sorted(os.listdir(tmp_path)) == ["t"]
    # a torn per-partition swap: p=1 renamed to __old, p=2 complete
    # with a leftover __old
    shutil.copytree(generations["old"], f"{base}/p=1__old")
    shutil.copytree(generations["live"], f"{base}/p=2")
    shutil.copytree(generations["old"], f"{base}/p=2__old")
    fsio.recover_tree(spark, base)
    assert sorted(d for d in os.listdir(base) if d.startswith("p=")) == [
        "p=1", "p=2",
    ]
    assert _tag(spark, f"{base}/p=1") == ["old"]
    assert _tag(spark, f"{base}/p=2") == ["live"]


#: state -> (files present before, recover() result, live text after,
#: __staging left in place)
_PTR_STATES = {
    "live only": ({"live"}, True, "live", False),
    "staging only": ({"staged"}, True, "staged", False),
    "both": ({"live", "staged"}, True, "live", True),
    "neither": (set(), False, None, False),
}


@pytest.mark.parametrize("state", list(_PTR_STATES))
def test_publish_recover_state_table(spark, tmp_path, state):
    """'staging only' is a publish that died between its delete and
    its rename: recover rolls it forward.  'both' is one that died
    before its delete: the live pointer still stands."""
    present, result, after, staging_left = _PTR_STATES[state]
    path = str(tmp_path / "meta")
    if "live" in present:
        fsio.write_text(spark, path, "live")
    if "staged" in present:
        fsio.write_text(spark, path + "__staging", "staged")
    assert fsio.recover(spark, path) is result
    if after is None:
        assert not fsio.exists(spark, path)
    else:
        assert fsio.read_text(spark, path) == after
    assert fsio.exists(spark, path + "__staging") == staging_left
    # a publish from any of these states commits its own content
    fsio.publish(
        spark, path, lambda staging: fsio.write_text(spark, staging, "new")
    )
    assert fsio.read_text(spark, path) == "new"
    assert not fsio.exists(spark, path + "__staging")
