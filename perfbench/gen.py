"""Seeded input generators for the corpus-build benchmark.

Everything here is numpy + pyarrow only: the program under test sees the
generated parquet files and nothing else.

Documents are web-page shaped: a URL, ~3 KB of text drawn word by word from
the sf0.1 ``documents`` vocabulary (so langid says ``en`` and the char-LM
perplexity sits near 24, inside the build's ``max_ppl=50`` gate), about half
carrying PII values taken from ``fixtures/golden_examples.json`` that the
regex scrub detects, and a few percent planted near-duplicate clusters of
2-5 docs. Apart from the planted duplicates no text span is reused across
documents: the vocabulary has 30 words, so two independent 8-word windows
collide with probability 30**-8, and the build's ``doc_id % 37``
decontamination sample only catches its own members and their planted
copies.

Embeddings keep sf0.1's shape: 64-d unit vectors drawn uniformly on the
sphere (sf0.1's label means have norm ~1/sqrt(cluster size), i.e. no
structure), plus a planted share of near-copies (cosine > 0.99 to an
earlier vector) that SemDeDup must flag.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 30 common words of sf0.1 documents.parquet (its 31st, "dup", marks
# that corpus's own planted duplicates and is left out)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()

# golden-fixture entity values the regex scrub removes without a per-URL
# gazetteer (checked with kernels.scrub.scrub_text(value-in-context, ()))
PII_EMAILS = (
    "1938qun@hotmail.com", "3chunmei@protonmail.com", "MVC@tutanota.com",
    "asukas55@aol.com", "babitha.iliksoy1969@hotmail.com",
    "bballoi@yahoo.com", "blerenbaasgara@gmail.com", "helbert@gmail.com",
    "keesguirard@aol.com", "mindkassir@hotmail.com", "tiurid@yahoo.com",
    "vtpkbqcutaxb799@yahoo.com", "xwjhgbgg009@outlook.com",
    "xwlkacrakee21@gmail.com", "ydtjqhxrfiv1162@hotmail.com")
PII_PHONES = ("+534 045 899.3504", "107-393-9036", "554.575.9355",
              "996 076 6460")
PII_VALUES = PII_EMAILS + PII_PHONES

WORDS_PER_DOC = 540        # ~3.1 KB of text per document
PII_SHARE = 0.5            # documents carrying 1-3 PII values
DUP_MUTATE = 0.01          # share of words replaced in a planted copy
EMB_DIM = 64


@dataclass
class Corpus:
    """Generated documents plus what was planted in them."""
    doc_id: np.ndarray
    url: list[str]
    text: list[str]
    # planted near-dup clusters: lists of doc ids, base first
    clusters: list[list[int]] = field(default_factory=list)
    pii_docs: int = 0

    def table(self) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(self.doc_id, pa.int64()),
            "url": self.url,
            "text": self.text,
            "lang": ["en"] * len(self.text),
            "source": [f"src{int(i) % 5}" for i in self.doc_id],
            "n_chars": pa.array([len(t) for t in self.text], pa.int64()),
        })

    def info(self) -> dict:
        n = len(self.text)
        planted = sum(len(c) - 1 for c in self.clusters)
        return {"docs": n,
                "text_bytes": int(sum(len(t) for t in self.text)),
                "pii_share": round(self.pii_docs / max(n, 1), 4),
                "dup_clusters": len(self.clusters),
                "dup_share": round(planted / max(n, 1), 4)}


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(0, len(VOCAB), size=n)


def _render(ids: np.ndarray, pii: list[tuple[int, str]]) -> str:
    words = [VOCAB[i] for i in ids]
    for pos, val in sorted(pii, reverse=True):
        words.insert(pos, val)
    # paragraph breaks every ~60 words, as on a rendered page
    for pos in range(len(words) - 60, 0, -60):
        words[pos] = words[pos] + "\n"
    return " ".join(words)


def make_docs(seed: int, n: int, first_id: int = 0,
              dup_share: float = 0.03,
              dup_of: "Corpus | None" = None,
              cross_share: float = 0.0) -> Corpus:
    """``n`` documents with ids ``first_id..first_id+n-1``.

    ``dup_share`` of them are planted near-copies inside this set
    (clusters of 2-5, base = lowest id); with ``dup_of`` a further
    ``cross_share`` are near-copies of documents of that earlier corpus
    (each its own cluster [old base, new copy])."""
    rng = np.random.default_rng(seed)
    word_ids: list[np.ndarray] = []
    pii: list[list[tuple[int, str]]] = []
    for _ in range(n):
        w = _words(rng, WORDS_PER_DOC + int(rng.integers(-40, 41)))
        vals: list[tuple[int, str]] = []
        if rng.random() < PII_SHARE:
            for _ in range(int(rng.integers(1, 4))):
                vals.append((int(rng.integers(0, len(w))),
                             PII_VALUES[int(rng.integers(len(PII_VALUES)))]))
        word_ids.append(w)
        pii.append(vals)

    def mutate(src: np.ndarray) -> np.ndarray:
        out = src.copy()
        k = max(1, int(len(out) * DUP_MUTATE))
        pos = rng.choice(len(out), size=k, replace=False)
        out[pos] = _words(rng, k)
        return out

    clusters: list[list[int]] = []
    # in-set clusters: a copy replaces a later slot, so every base has the
    # lowest id of its cluster and slots are never reused
    n_planted = int(n * dup_share)
    free = rng.permutation(np.arange(1, n))
    used: set[int] = set()
    fi = 0
    while n_planted > 0 and fi + 2 <= len(free):
        members = sorted(int(s) for s in
                         free[fi:fi + int(rng.integers(2, 6))])
        fi += len(members)
        base, copies = members[0], members[1:]
        used.update(members)
        for c in copies:
            word_ids[c] = mutate(word_ids[base])
            pii[c] = list(pii[base])
        clusters.append([first_id + base] + [first_id + c for c in copies])
        n_planted -= len(copies)

    texts = [_render(w, p) for w, p in zip(word_ids, pii)]
    if dup_of is not None and cross_share > 0:
        n_cross = int(n * cross_share)
        old_pos = rng.choice(len(dup_of.text), size=n_cross, replace=False)
        slots = [s for s in range(n) if s not in used][:n_cross]
        for s, op in zip(slots, old_pos):
            # copy the old document's rendered text, mutate a few words
            words = dup_of.text[int(op)].split(" ")
            k = max(1, int(len(words) * DUP_MUTATE))
            for p in rng.choice(len(words), size=k, replace=False):
                if words[p] in VOCAB:     # never touch a PII token
                    words[p] = VOCAB[int(rng.integers(len(VOCAB)))]
            texts[s] = " ".join(words)
            pii[s] = [(0, v) for v in PII_VALUES
                      if v in dup_of.text[int(op)]]
            clusters.append([int(dup_of.doc_id[int(op)]), first_id + s])

    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    urls = [f"https://www.site{int(rng.integers(0, 400))}.example.com/"
            f"articles/{int(i)}.html" for i in ids]
    return Corpus(doc_id=ids, url=urls, text=texts, clusters=clusters,
                  pii_docs=sum(1 for p in pii if p))


@dataclass
class Embeddings:
    vec_id: np.ndarray
    vectors: np.ndarray            # n x dim float32, unit norm
    dup_pairs: list[tuple[int, int]]  # (base vec_id, copy vec_id)

    def table(self) -> pa.Table:
        """``(doc_id, embedding)``: the columns ``cli select`` reads."""
        flat = pa.array(self.vectors.reshape(-1), pa.float32())
        emb = pa.FixedSizeListArray.from_arrays(flat, self.vectors.shape[1])
        return pa.table({
            "doc_id": pa.array(self.vec_id, pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
        })

    def info(self) -> dict:
        n = len(self.vec_id)
        return {"vectors": n, "dim": int(self.vectors.shape[1]),
                "dup_share": round(len(self.dup_pairs) / max(n, 1), 4)}


def make_embeddings(seed: int, n: int, dup_share: float = 0.05,
                    jitter: float = 0.01) -> Embeddings:
    """Uniform unit vectors with ``dup_share`` planted near-copies: copy
    ``j`` of base ``i < j`` is ``normalize(v_i + jitter * noise)``."""
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n, EMB_DIM))
    n_dup = int(n * dup_share)
    copies = np.sort(rng.choice(np.arange(1, n), size=n_dup, replace=False))
    copy_set = set(copies.tolist())
    pairs: list[tuple[int, int]] = []
    for j in copies:
        i = int(rng.integers(0, j))
        while i in copy_set:      # bases are original vectors
            i = int(rng.integers(0, j))
        v[j] = v[i] / np.linalg.norm(v[i]) \
            + jitter * rng.standard_normal(EMB_DIM)
        pairs.append((i, int(j)))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return Embeddings(vec_id=np.arange(n, dtype=np.int64),
                      vectors=v.astype(np.float32), dup_pairs=pairs)


def write_parquet(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)
