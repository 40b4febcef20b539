"""``ingest_incremental``: the blob-ingestion lifecycle on a live table.

Set-up generates a seeded landing zone, computes the driver-side
reference chunking, builds the chunks table with one cold
``run_ingest_job`` (the ``ingest_cold`` path: empty table, bootstrap
``text_index_build``) and checks it.  The runner then adds a warm-up
op: the cold ingest leaves the code paths of the freshness join, the
merge, the index apply and the purge JIT-cold.

One op: a fresh seeded delta (2% modified, 1% new, 1% deleted
documents) is written to the landing zone before the clock starts; the
op is ``run_ingest_job`` over the landing zone followed by
``run_purge_job``, both with the job's default sink and chunk
parameters.  Checks run after the clock stops.
"""

from __future__ import annotations

import os
import re
import statistics
from contextlib import nullcontext

import numpy as np
from pyspark.sql import functions as F

from gpt_rag_ingestion_spark.chunking.splitter import split_text_recursive
from gpt_rag_ingestion_spark.embeddings import embed_text_deterministic
from gpt_rag_ingestion_spark.functions.keys import sanitize_key
from gpt_rag_ingestion_spark.functions.text import MAX_CONTENT_BYTES
from gpt_rag_ingestion_spark.operators import search, upsert
from gpt_rag_ingestion_spark.plans import ingest_job, purge_job
from gpt_rag_ingestion_spark.plans.ingest_job import run_ingest_job
from gpt_rag_ingestion_spark.plans.purge_job import run_purge_job

from perfbench.landing import LandingZone
from perfbench import trace as T

N_DOCS = 160
SAMPLE_DOCS = 8
MAX_TOKENS, OVERLAP, MIN_TOKENS, DIM = 2048, 200, 100, 64
PARTITION_COLS = ["ingest_date"]

#: public functions wrapped with timing spans during a traced op
WRAPPED = [
    (upsert, "merge_upsert", "upsert.merge_upsert"),
    (ingest_job, "merge_upsert", "upsert.merge_upsert"),
    (upsert, "delete_keys", "upsert.delete_keys"),
    (purge_job, "delete_keys", "upsert.delete_keys"),
    (search, "text_index_build", "search.text_index_build"),
    (search, "text_index_apply", "search.text_index_apply"),
]
PHASES = ("scan_freshness", "chunk_embed", "ops_log", "search_index", "merge")


def sanitize(key: str) -> str:
    """Python twin of ``functions.keys.sanitize_key``."""
    s = re.sub(r"[^A-Za-z0-9_=-]+", "-", key)
    s = re.sub(r"-{2,}", "-", s)
    return re.sub(r"(^-+)|(-+$)", "", s)


def reference_chunks(text: str) -> list[str]:
    """Chunk contents the job must produce for ``text``."""
    out = []
    for c in split_text_recursive(text, MAX_TOKENS, OVERLAP, MIN_TOKENS):
        b = c["content"].encode("utf-8")
        out.append(b[:MAX_CONTENT_BYTES].decode("utf-8", "ignore")
                   if len(b) > MAX_CONTENT_BYTES else c["content"])
    return out


def _dir_files(path: str) -> dict:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, parquet files) that are new or rewritten in ``after``."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return (sum(after[p][0] for p in new),
            sum(1 for p in new if p.endswith(".parquet")))


def _dir_bytes(path: str) -> int:
    return sum(v[0] for v in _dir_files(path).values())


class IngestIncremental:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.chunks = os.path.join(work, "chunks")
        self.ops_table = os.path.join(work, "ops")
        self.tix = os.path.join(work, "tix")
        self.ref: dict[int, list[str]] = {}
        self.base: dict = {}
        self.ops: dict[int, dict] = {}
        self.problems: list[str] = []
        self.defects: list[str] = []
        self.stale: dict[int, int] = {}  # document -> its stale chunk rows

    # -- set-up ------------------------------------------------------
    def setup(self) -> None:
        self.zone = LandingZone.generate(self.seed, N_DOCS)
        self.ref = {n: reference_chunks(d.text) for n, d in self.zone.docs.items()}
        land = self._write_land(0)
        t = self.tracer
        if t is not None:
            t.patch(WRAPPED)
        try:
            ctx = t.span("base_ingest") if t is not None else nullcontext()
            with ctx as sid:
                rows = run_ingest_job(
                    self.spark, self.spark.read.parquet(land), self.chunks, "base",
                    partition_cols=PARTITION_COLS, ops_table_path=self.ops_table,
                    text_index_path=self.tix, recorder=t.rec if t else None,
                ).collect()
        finally:
            if t is not None:
                t.unpatch()
        self.base = {"summary": rows[0].asDict(), "span": sid, "nonascii": {
            sanitize(d.doc_key) for d in self.zone.docs.values()
            if any(ord(ch) > 127 for ch in d.text)}}
        self.check_base()

    def _write_land(self, k: int) -> str:
        path = os.path.join(self.work, "land", f"v{k:04d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.zone.write(path)
        return path

    def check_base(self) -> None:
        s = self.base["summary"]
        want_chunks = sum(len(c) for c in self.ref.values())
        self._expect("base sourceFiles", s["sourceFiles"], N_DOCS)
        self._expect("base success", s["success"], N_DOCS)
        self._expect("base totalChunksUploaded", s["totalChunksUploaded"], want_chunks)
        rng = np.random.default_rng([self.seed, 2])
        with_chunks = sorted(n for n, c in self.ref.items() if c)
        sample = sorted(rng.choice(with_chunks, size=SAMPLE_DOCS, replace=False).tolist())
        keys = {sanitize(self.zone.docs[n].doc_key): n for n in sample}
        got = {}
        for r in (self.spark.read.parquet(self.chunks)
                  .filter(F.col("parent_id").isin(list(keys)))
                  .select("parent_id", "chunk_id", "id", "content", "contentVector")
                  .collect()):
            got[(r["parent_id"], r["chunk_id"])] = r
        want = 0
        for key, n in keys.items():
            for cid, content in enumerate(self.ref[n]):
                want += 1
                r = got.get((key, cid))
                if r is None:
                    self.problems.append(f"base sample: missing chunk {key}#{cid}")
                    continue
                if r["id"] != f"{key}-c{cid:05d}" or r["content"] != content:
                    self.problems.append(f"base sample: chunk {key}#{cid} differs")
                if list(r["contentVector"]) != embed_text_deterministic(content, DIM):
                    self.problems.append(f"base sample: vector {key}#{cid} differs")
        self._expect("base sample chunk count", len(got), want)

    # -- one op ------------------------------------------------------
    def prepare(self, k: int) -> None:
        """Untimed: apply the seeded delta to the live landing zone."""
        delta = self.zone.apply_delta(k)
        for n, d in list(delta.modified.items()) + list(delta.added.items()):
            self.ref[n] = reference_chunks(d.text)
        info = {"delta": delta, "land": self._write_land(k)}
        info["changed_bytes"] = delta.changed_bytes + sum(
            len(d.text.encode("utf-8")) for d in delta.deleted.values())
        info["changed_docs"] = len(delta.modified) + len(delta.added) + len(delta.deleted)
        self.ops[k] = info

    def snapshot(self) -> dict:
        return {d: _dir_files(d) for d in (self.chunks, self.tix, self.ops_table)}

    def op(self, k: int, traced: bool) -> None:
        """The timed op."""
        info, spark, t = self.ops[k], self.spark, self.tracer
        rec = t.rec if traced else None
        src = spark.read.parquet(info["land"])
        ctx = t.span if traced else (lambda name: nullcontext())
        with ctx("op") as sid:
            with ctx("ingest_job"):
                rows = run_ingest_job(
                    spark, src, self.chunks, f"op{k}",
                    partition_cols=PARTITION_COLS, ops_table_path=self.ops_table,
                    text_index_path=self.tix, recorder=rec,
                ).collect()
            live = src.select(sanitize_key(F.col("doc_key").cast("string")).alias("parent_id"))
            with ctx("purge_job"):
                purge = run_purge_job(
                    spark, self.chunks, live, key="parent_id",
                    partition_cols=PARTITION_COLS, text_index_path=self.tix,
                    text_index_id_col="id",
                )
        info.update(summary=rows[0].asDict() if rows else {}, purge=purge, span=sid)

    # -- checks ------------------------------------------------------
    def _expect(self, what, got, want) -> None:
        if got != want:
            self.problems.append(f"{what}: got {got}, want {want}")

    def check_op(self, k: int) -> bool:
        n_before = len(self.problems)
        info, spark = self.ops[k], self.spark
        delta, s, p = info["delta"], info["summary"], info["purge"]
        live = self.zone.docs
        key = {n: sanitize(d.doc_key) for n, d in live.items()}
        cand = set(delta.modified) | set(delta.added) | {
            n for n in live if not self.ref[n]}
        self._expect(f"op{k} sourceFiles", s.get("sourceFiles"), len(cand))
        self._expect(f"op{k} failed", s.get("failed"), 0)
        self._expect(f"op{k} totalChunksUploaded", s.get("totalChunksUploaded"),
                     sum(len(self.ref[n]) for n in cand))
        gone = {sanitize(d.doc_key): n for n, d in delta.deleted.items()}
        self._expect(f"op{k} docsDeleted", p["docsDeleted"],
                     sum(len(self.ref[n]) or self.stale.pop(n, 0) for n in delta.deleted))
        # chunk counts of every touched parent; deleted parents and
        # modified ones that fell below min_tokens must be absent.  A
        # present parent of the second kind is the job's stale-chunk
        # defect (NOTES.md, defect 5): counted and reported, not failed
        touched = {key[n]: len(self.ref[n]) for n in set(delta.modified) | set(delta.added)}
        got = {r["parent_id"]: r["n"] for r in (
            spark.read.parquet(self.chunks)
            .filter(F.col("parent_id").isin(list(touched) + list(gone)))
            .groupBy("parent_id").agg(F.count(F.lit(1)).alias("n")).collect())}
        for n in set(delta.modified) | set(delta.added):
            self.stale.pop(n, None)
            if not self.ref[n] and key[n] in got:
                self.stale[n] = got.pop(key[n])
                info["stale_parents"] = info.get("stale_parents", 0) + 1
                self.defects.append(f"op{k}: stale chunks of {key[n]} (defect 5)")
        self._expect(f"op{k} touched parents", got,
                     {pk: c for pk, c in touched.items() if c})
        # text index: the delta token hits exactly the modified chunks
        # holding it; deleted documents' marker tokens hit nothing
        want_ids = [
            f"{key[n]}-c{cid:05d}"
            for n in delta.modified
            for cid, c in enumerate(self.ref[n])
            if delta.token in c.lower().split()
        ]
        want_docs = set()
        if want_ids:
            want_docs = {r[0] for r in spark.createDataFrame(
                [(i,) for i in want_ids], "id string").select(F.xxhash64("id")).collect()}
        queries = [(0, [delta.token])] + [
            (n + 1, [f"kd{n}x"]) for n in sorted(delta.deleted)]
        hits = search.text_index_query(
            spark, self.tix,
            spark.createDataFrame(queries, "query_id long, terms array<string>"),
            k=10_000,
        ).collect()
        self._expect(f"op{k} delta-token hits",
                     {r["doc"] for r in hits if r["query_id"] == 0}, want_docs)
        self._expect(f"op{k} deleted-doc hits",
                     sorted({r["query_id"] for r in hits if r["query_id"] != 0}), [])
        return len(self.problems) == n_before

    # -- traced-run metrics --------------------------------------------
    def layer_metrics(self, rows, by_span, traced_ops, untraced_ops, walls) -> dict:
        """Per-layer values: medians over traced ops, chunking over the
        set-up cold ingest."""
        spans = {r["span_id"]: r for r in rows}
        kids = T.children_of(rows)
        m: dict[str, float] = {}

        def sub_spans(sid, name):
            return [r for r in T.subtree(rows, sid) if r["name"] == name]

        def dur(rs):
            return sum(r["dur_ms"] for r in rs) / 1000.0

        per_op = []
        for k in traced_ops:
            info = self.ops[k]
            sid = info["span"]
            ing = sub_spans(sid, "ingest_job")[0]
            phases = {c["name"]: c for c in kids.get(ing["span_id"], [])}
            v = {f"ingest_job.{ph}_s": phases[ph]["dur_ms"] / 1000.0 if ph in phases else 0.0
                 for ph in PHASES}
            v["ingest_job.self_s"] = (ing["dur_ms"] - sum(
                c["dur_ms"] for c in kids.get(ing["span_id"], []))) / 1000.0
            s = info["summary"]
            changed = len(info["delta"].modified) + len(info["delta"].added)
            v["freshness.candidates"] = s["sourceFiles"]
            v["freshness.reprocess_ratio"] = s["sourceFiles"] / max(changed, 1)
            merges = sub_spans(sid, "upsert.merge_upsert")
            v["upsert.merge_upsert_s"] = dur(merges)
            v["upsert.delete_keys_s"] = dur(sub_spans(sid, "upsert.delete_keys"))
            v["upsert.bytes_written_mb"] = info["written"][self.chunks][0] / 1e6
            v["upsert.files_written"] = info["written"][self.chunks][1]
            rec_written = sum(j["records_written"] for r in merges
                              for x in T.subtree(rows, r["span_id"])
                              for j in by_span.get(x["span_id"], []))
            v["upsert.rewrite_ratio"] = rec_written / max(s["totalChunksUploaded"], 1)
            v["upsert.stale_parents"] = info.get("stale_parents", 0)
            v["purge_job.s"] = dur(sub_spans(sid, "purge_job"))
            v["purge_job.docs_deleted"] = info["purge"]["docsDeleted"]
            v["search.text_index_apply_s"] = dur(sub_spans(sid, "search.text_index_apply"))
            v["search.bytes_written_mb"] = info["written"][self.tix][0] / 1e6
            v["ops_log.rows_written"] = info["ops_rows"]
            v["write_amp"] = sum(b for b, _ in info["written"].values()) / info["changed_bytes"]
            per_op.append(v)
        for name in per_op[0]:
            m[name] = statistics.median(v[name] for v in per_op)

        base_sid = self.base["span"]
        m["base.ingest_s"] = spans[base_sid]["dur_ms"] / 1000.0
        m["base.chunk_embed_s"] = dur(
            [r for r in T.subtree(rows, base_sid) if r["name"] == "chunk_embed"])
        m["search.text_index_build_s"] = dur(
            [r for r in T.subtree(rows, base_sid) if r["name"] == "search.text_index_build"])
        m.update(self._chunking_metrics())
        m["docs_per_s"] = statistics.median(
            self.ops[k]["changed_docs"] / walls[k] for k in untraced_ops)
        m["space_amp"] = (_dir_bytes(self.chunks) + _dir_bytes(self.tix)) / self.zone.text_bytes()
        return m

    def _chunking_metrics(self) -> dict:
        nonascii = self.base["nonascii"]
        rows = (self.spark.read.parquet(self.ops_table)
                .filter((F.col("run_id") == "base") & F.col("file_key").isNotNull())
                .select("file_key", F.col("timings.chunkEmbedSec").alias("sec"))
                .collect())
        return {
            "chunking.kernel_task_s": sum(r["sec"] or 0.0 for r in rows),
            "chunking.kernel_task_s.nonascii": sum(
                r["sec"] or 0.0 for r in rows if r["file_key"] in nonascii),
            "chunking.chunks_out": self.base["summary"]["totalChunksUploaded"],
        }

    def before_traced(self, k: int) -> None:
        self.ops[k]["fs_before"] = self.snapshot()
        self.ops[k]["ops_before"] = self.spark.read.parquet(self.ops_table).count()

    def after_traced(self, k: int) -> None:
        info = self.ops[k]
        after = self.snapshot()
        info["written"] = {d: _written(info["fs_before"][d], after[d]) for d in after}
        info["ops_rows"] = self.spark.read.parquet(self.ops_table).count() - info["ops_before"]
