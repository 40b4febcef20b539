"""``query_suite``: one op is one pass over ``bench.py``'s 22 headline
``__spark_entry__.queries()`` entries plus its ``pipeline_chunk_embed``
entry, each materialized through the noop sink as ``bench.py`` does.

The inputs are fixed synthetic tables (``SF_DIR``), so the seed does
not change them.  Once per run, before the clock starts,
every entry is collected: entries with an ``oracle_sql()`` must match
DuckDB under ``scripts/check_oracle.py``'s normalization, the others
must return rows, and the pipeline entry must return the chunk count a
driver-side ``split_text_recursive`` gives.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import sys

import pyarrow.parquet as pq

import __spark_entry__ as entry_mod
from gpt_rag_ingestion_spark.chunking.pipeline import chunk_documents
from gpt_rag_ingestion_spark.chunking.splitter import split_text_recursive

from perfbench import trace as T
from perfbench.metrics import ENTRIES, HEADLINE, PIPELINE

#: the fixed synthetic tables at scale factor 0.01 that ``bench.py`` and
#: ``scripts/check_oracle.py`` read, copied here so that a run reads
#: nothing outside its checkout
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PIPELINE_ARGS = dict(max_tokens=64, overlap=8, min_tokens=4, embedding_dim=64)


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _load_check_oracle(root: str):
    """``scripts/check_oracle.py`` as a module, without letting its
    import-time ``sys.path`` edit outlive the import."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "_check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class QuerySuite:
    def __init__(self, spark, tracer, root: str):
        self.spark, self.tracer, self.root = spark, tracer, root
        self.problems: list[str] = []
        self.defects: list[str] = []
        self.ops: dict[int, dict] = {}

    def build(self, name: str):
        if name == PIPELINE:
            docs = entry_mod._t(self.spark, SF_DIR, "documents")
            return chunk_documents(docs, **PIPELINE_ARGS)
        return self.qs[name](self.spark, SF_DIR)

    def setup(self) -> None:
        import duckdb

        self.qs = entry_mod.queries()
        oracles = entry_mod.oracle_sql()
        co = _load_check_oracle(self.root)
        # reference computation: DuckDB oracles and the driver-side
        # chunk count of the pipeline entry
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
            want = {}
            for name in HEADLINE:
                if name in oracles:
                    res = con.execute(oracles[name])
                    cols = [d[0] for d in res.description]
                    rows = res.fetchall()
                    want[name] = (len(rows), sorted(cols), co.normalize(rows, cols))
        finally:
            con.close()
        texts = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["text"]).column(0)
        want_chunks = sum(
            len(split_text_recursive(
                s or "", PIPELINE_ARGS["max_tokens"], PIPELINE_ARGS["overlap"],
                PIPELINE_ARGS["min_tokens"]))
            for s in texts.to_pylist())
        # warm-up pass that also checks every entry's output
        for name in ENTRIES:
            try:
                df = self.build(name)
                if name == PIPELINE:
                    n = df.count()
                    if n != want_chunks:
                        self.problems.append(f"{name}: {n} chunks, want {want_chunks}")
                    continue
                bad = co._nonscalar_columns(df.schema)
                cols = df.columns
                rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # an entry that raises fails the check
                self.problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            if bad:
                self.problems.append(f"{name}: non-scalar columns {bad}")
            elif name in want:
                got = (len(rows), sorted(cols), co.normalize(rows, cols))
                if got != want[name]:
                    self.problems.append(f"{name}: differs from its DuckDB oracle")
            elif not rows:
                self.problems.append(f"{name}: no rows")

    def prepare(self, k: int) -> None:
        self.ops[k] = {}

    def op(self, k: int, traced: bool) -> None:
        t = self.tracer if traced else None
        if t is None:
            for name in ENTRIES:
                _materialize(self.build(name))
            return
        with t.span("op") as sid:
            for name in ENTRIES:
                with t.span(f"{name}.build"):
                    df = self.build(name)
                with t.span(f"{name}.exec"):
                    _materialize(df)
        self.ops[k]["span"] = sid

    def check_op(self, k: int) -> bool:
        return True  # outputs are checked once per run, in setup()

    def layer_metrics(self, rows, by_span, traced_ops, untraced_ops, walls) -> dict:
        from bench import _ann_recall

        per_op = []
        for k in traced_ops:
            sub = {r["name"]: r for r in T.subtree(rows, self.ops[k]["span"])}
            v = {}
            for name in ENTRIES:
                b, e = sub[f"{name}.build"], sub[f"{name}.exec"]
                v[f"{name}.build_s"] = b["dur_ms"] / 1000.0
                v[f"{name}.exec_s"] = e["dur_ms"] / 1000.0
                v[f"{name}.py4j_calls"] = self.tracer.py4j_by_span[b["span_id"]]
            per_op.append(v)
        m = {name: statistics.median(v[name] for v in per_op) for name in per_op[0]}
        recall = _ann_recall(self.spark, entry_mod, SF_DIR)
        m.update({f"ann_recall.{k}": v for k, v in recall.items()})
        return m
