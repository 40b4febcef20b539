"""Seeded landing-zone generator shared by the two ingest workloads.

A landing zone is one parquet file with the columns the ingest job
reads: ``doc_key, text, last_modified, source``.  ``last_modified`` is
written as a UTC-adjusted parquet timestamp, which Spark reads as
``timestamp`` (a naive timestamp would read as ``timestamp_ntz``; see
NOTES.md, defect 1).

Text properties:

- lognormal document lengths (median ~2,400 tokens), so most documents
  yield 1-3 chunks at the ingest job's 2048/200/100 chunk parameters;
- a few percent of documents below ``min_tokens`` (they yield no chunk);
- about 15% non-ASCII documents (accented Latin and CJK words);
- paragraph (``\\n\\n``), line (``\\n``) and sentence (``. ``) separators.

Every document carries a unique lower-case marker token ``kd<n>x`` in
its first sentence, so the persisted text index can be probed for a
single document.  Modified documents also carry the delta's own marker
token (``Delta.token``).

Pure function of the seed: the same seed writes a byte-identical file.
"""

from __future__ import annotations

import datetime as dt
import functools
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("blob", "sharepoint", "web")
BASE_TIME = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
BASE_SPAN_DAYS = 8
# deltas are stamped after every base timestamp, one hour apart, so a
# modified document is always fresher than its watermark
DELTA_TIME = dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc)

SHORT_SHARE = 0.03     # documents below min_tokens
MODIFY_SHARE = 0.02    # per delta: documents given fresh text
NEW_SHARE = 0.01       # per delta: documents added
DELETE_SHARE = 0.01    # per delta: documents deleted
NONASCII_SHARE = 0.15  # accented-Latin or CJK documents
LOGNORMAL_MEDIAN_TOKENS = 2400
LOGNORMAL_SIGMA = 0.55

_SYLLABLES = [
    c + v
    for c in ("b", "c", "d", "f", "g", "l", "m", "n", "p", "r", "s", "t", "v")
    for v in ("a", "e", "i", "o", "u", "ar", "en", "is", "or")
]
_ACCENTS = ["é", "è", "á", "ñ", "ü", "ö", "ç", "ø", "å", "í"]


@functools.cache
def _vocab() -> tuple[list[str], list[str], list[str]]:
    """Fixed vocabularies (independent of the seed): ASCII words,
    accented-Latin words and CJK words."""
    rng = np.random.default_rng(20240601)
    ascii_words = sorted({
        "".join(rng.choice(_SYLLABLES, size=rng.integers(1, 4)))
        for _ in range(6000)
    })
    accented = []
    for w in ascii_words[:1500]:
        i = int(rng.integers(0, len(w)))
        accented.append(w[:i] + str(rng.choice(_ACCENTS)) + w[i + 1:])
    cjk = [
        "".join(chr(int(c)) for c in rng.integers(0x4E00, 0x9FA5, size=n))
        for n in rng.integers(1, 4, size=1500)
    ]
    return ascii_words, accented, cjk


@dataclass
class Doc:
    doc_key: str
    text: str
    last_modified: dt.datetime
    source: str


def _text(rng: np.random.Generator, n_tokens: int, marker: str, nonascii: bool) -> str:
    """Sentences of 6-18 words ending in '.', grouped into paragraphs;
    roughly ``n_tokens`` tokens (words plus '.' punctuation)."""
    ascii_words, accented, cjk = _vocab()
    foreign = None
    if nonascii:
        foreign = accented if rng.random() < 0.5 else cjk
    n_words = max(3, int(n_tokens * 0.92))
    words = list(rng.choice(ascii_words, size=n_words))
    if foreign is not None:
        mask = rng.random(n_words) < 0.35
        picks = rng.choice(foreign, size=int(mask.sum()))
        for i, w in zip(np.flatnonzero(mask), picks):
            words[i] = str(w)
    words[min(2, n_words - 1)] = marker
    lengths = rng.integers(6, 19, size=n_words // 6 + 2)
    breaks = rng.random(len(lengths))
    paras, sents, pos = [], [], 0
    for ln, brk in zip(lengths, breaks):
        if pos >= n_words:
            break
        sents.append(" ".join(words[pos:pos + int(ln)]) + ".")
        pos += int(ln)
        if brk < 0.18:
            paras.append(" ".join(sents))
            sents = []
        elif brk < 0.26:
            sents[-1] += "\n"
    if sents:
        paras.append(" ".join(sents))
    return "\n\n".join(p.replace("\n ", "\n") for p in paras)


def _new_doc(rng: np.random.Generator, n: int, modified: dt.datetime) -> Doc:
    if rng.random() < SHORT_SHARE:
        n_tokens = int(rng.integers(15, 80))
    else:
        n_tokens = int(rng.lognormal(np.log(LOGNORMAL_MEDIAN_TOKENS), LOGNORMAL_SIGMA))
    src = SOURCES[int(rng.integers(0, len(SOURCES)))]
    return Doc(
        doc_key=f"{src}/folder {n % 17}/doc_{n:06d}.txt",
        text=_text(rng, n_tokens, f"kd{n}x", rng.random() < NONASCII_SHARE),
        last_modified=modified,
        source=src,
    )


@dataclass
class LandingZone:
    """The live landing zone: documents by their running number."""

    seed: int
    docs: dict[int, Doc] = field(default_factory=dict)
    next_n: int = 0

    @classmethod
    def generate(cls, seed: int, n_docs: int) -> "LandingZone":
        rng = np.random.default_rng([seed, 0])
        zone = cls(seed=seed)
        span_s = BASE_SPAN_DAYS * 86400
        for n in range(n_docs):
            ts = BASE_TIME + dt.timedelta(seconds=int(rng.integers(0, span_s)))
            zone.docs[n] = _new_doc(rng, n, ts)
        zone.next_n = n_docs
        return zone

    def text_bytes(self) -> int:
        return sum(len(d.text.encode("utf-8")) for d in self.docs.values())

    def write(self, path: str) -> None:
        """One parquet file, rows ordered by running number."""
        keys = sorted(self.docs)
        docs = [self.docs[k] for k in keys]
        table = pa.table(
            {
                "doc_key": pa.array([d.doc_key for d in docs], pa.string()),
                "text": pa.array([d.text for d in docs], pa.string()),
                "last_modified": pa.array(
                    [d.last_modified for d in docs], pa.timestamp("us", tz="UTC")
                ),
                "source": pa.array([d.source for d in docs], pa.string()),
            }
        )
        pq.write_table(table, path, compression="snappy")

    def apply_delta(self, op: int) -> "Delta":
        """Mutate the zone in place: modify, add and delete a seeded
        share of documents.  Modified documents get fresh text carrying
        the delta's marker token and a timestamp past every watermark."""
        rng = np.random.default_rng([self.seed, 1, op])
        live = sorted(self.docs)
        n_mod = max(1, round(len(live) * MODIFY_SHARE))
        n_del = max(1, round(len(live) * DELETE_SHARE))
        n_new = max(1, round(len(live) * NEW_SHARE))
        picked = rng.choice(len(live), size=n_mod + n_del, replace=False)
        mod_keys = sorted(live[i] for i in picked[:n_mod])
        del_keys = sorted(live[i] for i in picked[n_mod:])
        ts = DELTA_TIME + dt.timedelta(hours=op)
        token = f"zq{self.seed}o{op}x"
        delta = Delta(op=op, token=token)
        for n in mod_keys:
            old = self.docs[n]
            fresh = _new_doc(rng, n, ts)
            # keep identity (key, source); plant the delta token once
            words = fresh.text.split(" ")
            words.insert(min(5, len(words)), token)
            self.docs[n] = Doc(old.doc_key, " ".join(words), ts, old.source)
            delta.modified[n] = self.docs[n]
            delta.changed_bytes += len(self.docs[n].text.encode("utf-8"))
        for n in del_keys:
            delta.deleted[n] = self.docs.pop(n)
        for _ in range(n_new):
            n = self.next_n
            self.next_n += 1
            self.docs[n] = _new_doc(rng, n, ts)
            delta.added[n] = self.docs[n]
            delta.changed_bytes += len(self.docs[n].text.encode("utf-8"))
        return delta


@dataclass
class Delta:
    op: int
    token: str
    modified: dict[int, Doc] = field(default_factory=dict)
    added: dict[int, Doc] = field(default_factory=dict)
    deleted: dict[int, Doc] = field(default_factory=dict)
    changed_bytes: int = 0
