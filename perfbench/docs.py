"""Seeded multi-day document feed for the ingest workload.

Each day lands one parquet file of ``(doc_id, text)`` and one of
``(vec_id, embedding)`` (``vec_id`` = ``doc_id``):

- fresh documents: 40-90 random words from a 3000-word vocabulary;
- from day 2 on, exact re-sends of fresh documents of earlier days
  (new ``doc_id``, same text) and near-copies (a few words replaced);
- embeddings for most documents (not all): fresh ones drawn around 16
  topic centres, re-sends and near-copies near their original's.

A fixed probe batch copies some day-1 embeddings exactly and draws the
rest fresh. :func:`generate` checks these promises before it returns.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 32
VOCAB = 3000
WORDS = (40, 90)
EMBEDDED_SHARE = 0.9
TOPICS = 16
NEAR_EDITS = (2, 4)  # words replaced in a near-copy
PROBES, PROBE_COPIES = 12, 6


@dataclass(frozen=True)
class Size:
    days: int
    docs_per_day: int
    exact_share: float  # of a later day's documents
    near_share: float
    compact_every: int


SIZES = {
    "ingest_days": Size(days=2, docs_per_day=30, exact_share=0.15, near_share=0.1,
                        compact_every=2),
    "ingest_days-smoke": Size(days=2, docs_per_day=20, exact_share=0.15, near_share=0.1,
                              compact_every=2),
}


@dataclass
class Doc:
    doc_id: int
    day: int
    text: str
    kind: str  # "fresh" | "exact" | "near"
    source: int | None  # doc_id of the original of a re-send / near-copy
    embedding: np.ndarray | None


@dataclass
class Feed:
    docs: list[Doc]
    days: int
    compact_every: int
    probe_ids: list[int]
    probe_vecs: np.ndarray  # (PROBES, DIM) float64
    probe_copies: dict[int, int]  # probe id -> doc_id whose vector it copies

    def day(self, k: int) -> list[Doc]:
        return [d for d in self.docs if d.day == k]


def generate(size: Size, seed: int) -> Feed:
    rng = np.random.default_rng(seed)
    vocab = np.array([
        "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), rng.integers(3, 9)))
        for _ in range(VOCAB)
    ])
    centres = rng.normal(size=(TOPICS, DIM))
    docs: list[Doc] = []
    fresh: list[Doc] = []
    next_id = 1

    def embed(base: np.ndarray | None, scale: float) -> np.ndarray:
        if base is None:
            base = centres[rng.integers(TOPICS)]
        return (base + rng.normal(scale=scale, size=DIM)).astype(np.float32)

    # Word counts are spread evenly over their range (in random order)
    # and each day embeds the same share, so a day's size varies little
    # by seed.
    n = size.docs_per_day
    for day in range(1, size.days + 1):
        n_exact = 0 if day == 1 else round(size.exact_share * n)
        n_near = 0 if day == 1 else round(size.near_share * n)
        n_words = rng.permutation(np.linspace(*WORDS, n).round().astype(int))
        embedded = set(rng.choice(n, round(EMBEDDED_SHARE * n), replace=False))
        earlier = list(fresh)
        first = len(docs)
        for i in range(n):
            if i < n_exact:
                src = earlier[rng.integers(len(earlier))]
                doc = Doc(next_id, day, src.text, "exact", src.doc_id,
                          src.embedding if src.embedding is not None else embed(None, 0.6))
            elif i < n_exact + n_near:
                src = earlier[rng.integers(len(earlier))]
                words = src.text.split()
                for j in rng.choice(len(words), rng.integers(*NEAR_EDITS), replace=False):
                    words[j] = vocab[rng.integers(VOCAB)]
                doc = Doc(next_id, day, " ".join(words), "near", src.doc_id,
                          embed(src.embedding, 0.05))
            else:
                text = " ".join(vocab[rng.integers(VOCAB, size=n_words[i])])
                doc = Doc(next_id, day, text, "fresh", None, embed(None, 0.6))
                fresh.append(doc)
            docs.append(doc)
            next_id += 1
        for i, doc in enumerate(docs[first:]):
            if i not in embedded:
                doc.embedding = None
    day1 = [d for d in docs if d.day == 1 and d.embedding is not None]
    picks = rng.choice(len(day1), PROBE_COPIES, replace=False)
    copies = {q: day1[i].doc_id for q, i in enumerate(picks)}
    vecs = [day1[i].embedding.astype(np.float64) for i in picks]
    vecs += [rng.normal(size=DIM) for _ in range(PROBES - PROBE_COPIES)]
    feed = Feed(docs, size.days, size.compact_every, list(range(PROBES)), np.stack(vecs), copies)
    check_feed(feed)
    return feed


def check_feed(feed: Feed) -> None:
    def require(ok: bool, what: str) -> None:
        if not ok:
            raise AssertionError(f"generated feed: {what}")

    by_id = {d.doc_id: d for d in feed.docs}
    require(len(by_id) == len(feed.docs), "doc ids repeat")
    fresh_texts = [d.text for d in feed.docs if d.kind == "fresh"]
    require(len(set(fresh_texts)) == len(fresh_texts), "two fresh documents share a text")
    require(all(len(d.text.split()) >= 3 for d in feed.docs), "a document too short to sign")
    for d in feed.docs:
        if d.kind != "fresh":
            src = by_id[d.source]
            require(src.kind == "fresh" and src.day < d.day, f"{d.doc_id}: bad source")
            require((d.text == src.text) == (d.kind == "exact"), f"{d.doc_id}: copy kind")
    later = [d for d in feed.docs if d.day > 1]
    for kind in ("exact", "near"):
        require(any(d.kind == kind for d in later), f"no {kind} copies")
    embedded = sum(d.embedding is not None for d in feed.docs)
    require(0 < embedded < len(feed.docs), "embeddings for all or none of the documents")
    require(feed.days >= feed.compact_every, "no compaction day")
    for q, doc_id in feed.probe_copies.items():
        require(np.array_equal(feed.probe_vecs[q], by_id[doc_id].embedding.astype(np.float64)),
                f"probe {q} does not copy {doc_id}")


def write_day(feed: Feed, day: int, landing_dir: str, emb_path: str) -> None:
    docs = feed.day(day)
    os.makedirs(landing_dir, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array([d.doc_id for d in docs], pa.int64()),
                  "text": pa.array([d.text for d in docs], pa.string())}),
        os.path.join(landing_dir, "part-00000.parquet"))
    emb = [d for d in docs if d.embedding is not None]
    pq.write_table(
        pa.table({"vec_id": pa.array([d.doc_id for d in emb], pa.int64()),
                  "embedding": pa.array([d.embedding.tolist() for d in emb],
                                        pa.list_(pa.float32()))}),
        emb_path)
