"""Every persisted-state read tells "absent" from "unreadable".

Each site below reads an existing table before writing.  One transient
``OSError`` on that read must propagate; it must never be taken for
"no table yet", which at these sites means overwriting the table with
the increment alone, re-ingesting everything, admitting duplicates or
resetting counts.  The one legitimately empty case, a partitioned
root holding only its partition-types sidecar, still reads as absent.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from gpt_rag_ingestion_spark.operators import upsert as U

_ERR = "injected transient read error"


def _fail_next_read_of(monkeypatch, path: str) -> dict:
    """Make the next ``spark.read.parquet(path)`` raise once."""
    real = DataFrameReader.parquet
    state = {"fired": 0}

    def parquet(self, *paths, **kw):
        if not state["fired"] and any(
            str(p).rstrip("/") == path.rstrip("/") for p in paths
        ):
            state["fired"] += 1
            raise OSError(_ERR)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    return state


def _rows(spark, path):
    return sorted(repr(tuple(r)) for r in spark.read.parquet(path).collect())


def _merge_upsert(spark, tmp_path):
    table = str(tmp_path / "t")
    U.merge_upsert(
        spark, table, spark.createDataFrame([("a", 1), ("b", 2)], "parent_id string, v int")
    )

    def run():
        U.merge_upsert(
            spark, table, spark.createDataFrame([("c", 3)], "parent_id string, v int")
        )

    return table, run


def _ingest_job(spark, tmp_path):
    from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job

    table = str(tmp_path / "chunks")
    docs = spark.createDataFrame(
        [("d1", "alpha " * 40, dt.datetime(2024, 1, 1))],
        "doc_key STRING, text STRING, last_modified TIMESTAMP",
    )
    kw = dict(max_tokens=30, overlap=4, min_tokens=2, embedding_dim=8)
    run_ingest_job(spark, docs, table, "run1", **kw)
    return table, lambda: run_ingest_job(spark, docs, table, "run2", **kw)


def _land(landing, name, rows):
    (landing / name).write_text("\n".join(json.dumps(r) for r in rows))


def _stream_rollup(spark, tmp_path):
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_incremental_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "chunks")
    args = (spark, str(landing), table, str(tmp_path / "ckpt"))
    kw = dict(rollup_path=str(tmp_path / "rollup"))
    _land(landing, "b1.json", [{"doc_id": 1, "text": "w " * 30, "source": "s"}])
    run_incremental_ingest(*args, **kw)

    def run():
        _land(landing, "b2.json", [{"doc_id": 1, "text": "v " * 30, "source": "s"}])
        run_incremental_ingest(*args, **kw)

    return table, run


def _web_corpus(spark, tmp_path):
    from gpt_rag_ingestion_spark.plans.web_corpus_job import run_web_corpus_job

    corpus = str(tmp_path / "corpus")
    schema = "doc_id LONG, url STRING, text STRING"
    run_web_corpus_job(
        spark,
        spark.createDataFrame([(1, "https://a.example/x", "hello world " * 20)], schema),
        corpus, str(tmp_path / "s0"), min_chars=10,
    )
    dup = spark.createDataFrame([(2, "https://b.example/y", "hello world " * 20)], schema)
    return corpus, lambda: run_web_corpus_job(
        spark, dup, corpus, str(tmp_path / "s1"), min_chars=10
    ).collect()


def _sketch(spark, tmp_path):
    from gpt_rag_ingestion_spark.streaming.micro_batch import (
        run_incremental_sketch,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    sketch = str(tmp_path / "sketch")
    args = (spark, str(landing), sketch, str(tmp_path / "ckpt"))
    _land(landing, "b1.json", [{"event_id": 1, "event_type": "t", "value": 1.0}])
    run_incremental_sketch(*args)

    def run():
        _land(landing, "b2.json", [{"event_id": 2, "event_type": "t", "value": 2.0}])
        run_incremental_sketch(*args)

    return sketch, run


_SITES = {
    "upsert.merge_upsert": _merge_upsert,
    "ingest_job.run_ingest_job": _ingest_job,
    "micro_batch.run_incremental_ingest": _stream_rollup,
    "web_corpus_job.run_web_corpus_job": _web_corpus,
    "micro_batch.run_incremental_sketch": _sketch,
}


@pytest.mark.parametrize("site", list(_SITES))
def test_transient_read_error_propagates(spark, tmp_path, monkeypatch, site):
    table, run = _SITES[site](spark, tmp_path)
    before = _rows(spark, table)
    state = _fail_next_read_of(monkeypatch, table)
    with pytest.raises(Exception, match=_ERR):
        run()
    monkeypatch.undo()
    assert state["fired"] == 1, "the injected read error never fired"
    assert _rows(spark, table) == before, "the table changed after a failed read"


def test_partitioned_root_with_only_the_types_sidecar_is_absent(spark, tmp_path):
    """delete_keys of every row leaves only hidden files, among them
    ``_partition_types.json``: the next merge starts the table afresh
    instead of failing."""
    table = str(tmp_path / "t")
    inc = spark.createDataFrame([("a", 0), ("b", 1)], "parent_id string, p int")
    U.merge_upsert(spark, table, inc, partition_cols=["p"])
    U.delete_keys(spark, table, inc.select("parent_id"), partition_cols=["p"])
    import os

    names = os.listdir(table)
    assert U._PARTITION_TYPES_SIDECAR in names
    assert all(n.startswith(("_", ".")) for n in names), names
    assert U.read_existing(spark, table) is None
    U.merge_upsert(
        spark, table, inc.filter(F.col("p") == 1), partition_cols=["p"]
    )
    assert [tuple(r) for r in spark.read.parquet(table).collect()] == [("b", 1)]
