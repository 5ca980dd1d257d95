"""Seeded input generator for the three perfbench workloads.

Everything the engine sees is made here from one integer seed with
NumPy's PCG64 generator, so the same seed always yields the same inputs
(``digest`` pins that) and the engine receives only generated rows:

- an index corpus: Zipfian word frequencies over a made-up vocabulary,
  log-normal document lengths split into paragraphs, and Zipfian source
  sizes over ``src0 .. src19``;
- refresh rounds over that corpus, each changing, adding and removing
  stated shares of documents;
- a query pool, a query stream with a stated share of repeats drawn
  Zipf-wise from the pool, and a fixed batch of queries;
- curation shards with planted exact and near duplicates whose pairs are
  recorded as ground truth.

Run ``python3 perfbench/gen.py --seed N`` to print the input digests.
"""

from __future__ import annotations

import argparse
import hashlib
import json
from dataclasses import dataclass

import numpy as np

N_SOURCES = 20
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass(frozen=True)
class CorpusShape:
    """Document-length and source-size distribution of one corpus."""

    n_docs: int
    mean_words: float = 90.0
    sigma_words: float = 0.45  # log-normal sigma of the words-per-doc draw
    min_words: int = 20
    max_words: int = 400
    paragraph_words: int = 35  # mean words between blank-line breaks
    vocab: int = 3000
    word_zipf: float = 1.05
    source_zipf: float = 1.0


@dataclass(frozen=True)
class RefreshShape:
    """Per-round shares of the live corpus that change, arrive, leave."""

    rounds: int
    changed: float
    added: float
    removed: float


@dataclass(frozen=True)
class QueryShape:
    pool: int = 120
    stream: int = 4000
    repeat_share: float = 0.5
    pool_zipf: float = 1.1
    min_words: int = 2
    max_words: int = 5
    batch: int = 32


@dataclass(frozen=True)
class CurationShape:
    shards: int
    docs_per_shard: int
    exact_dup_share: float = 0.08
    near_dup_share: float = 0.08
    near_dup_edit: float = 0.03  # share of words substituted in a near dup


def _zipf(n: int, a: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** a
    return p / p.sum()


class Generator:
    """One seeded stream of inputs; draw order is fixed, so every method
    must be called in the same order for the same seed."""

    def __init__(self, seed: int, shape: CorpusShape):
        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.shape = shape
        self.vocab = self._vocabulary(shape.vocab)
        self.word_p = _zipf(len(self.vocab), shape.word_zipf)
        # sources ranked by size at random, so "src0" is not always largest
        ranked = self.rng.permutation(N_SOURCES)
        self.source_p = _zipf(N_SOURCES, shape.source_zipf)[np.argsort(ranked)]
        self.next_id = 1

    def _vocabulary(self, n: int) -> list[str]:
        words: dict[str, None] = {}
        while len(words) < n:
            length = int(self.rng.integers(2, 10))
            words["".join(self.rng.choice(_LETTERS, size=length))] = None
        return list(words)

    def _words(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self.vocab), size=n, p=self.word_p)
        return [self.vocab[i] for i in idx]

    def _n_words(self) -> int:
        s = self.shape
        n = self.rng.lognormal(np.log(s.mean_words), s.sigma_words)
        return int(np.clip(round(n), s.min_words, s.max_words))

    def text(self, n_words: int | None = None, *, paragraphs: bool = True) -> str:
        words = self._words(n_words or self._n_words())
        if not paragraphs:
            return " ".join(words)
        paras, i = [], 0
        while i < len(words):
            step = max(5, int(self.rng.poisson(self.shape.paragraph_words)))
            paras.append(" ".join(words[i : i + step]))
            i += step
        return "\n\n".join(paras)

    def source(self) -> str:
        return f"src{int(self.rng.choice(N_SOURCES, p=self.source_p))}"

    def new_doc(self, *, paragraphs: bool = True) -> dict:
        doc_id = self.next_id
        self.next_id += 1
        return {
            "doc_id": doc_id,
            "source": self.source(),
            "text": self.text(paragraphs=paragraphs),
        }

    # -- index corpus and refresh rounds ----------------------------------

    def corpus(self) -> list[dict]:
        return [self.new_doc() for _ in range(self.shape.n_docs)]

    def edit(self, text: str) -> str:
        """Rewrite one paragraph of ``text`` (a typical content edit)."""
        paras = text.split("\n\n")
        i = int(self.rng.integers(len(paras)))
        paras[i] = " ".join(self._words(max(5, len(paras[i].split(" ")))))
        return "\n\n".join(paras)

    def refresh_rounds(self, docs: list[dict], shape: RefreshShape) -> list[dict]:
        """Each round: {"docs": the full corpus after the round, "changed",
        "added", "removed": doc ids}. Changed and removed docs are drawn
        from the corpus before the round."""
        rounds = []
        live = list(docs)
        for _ in range(shape.rounds):
            n = len(live)
            order = self.rng.permutation(n)
            n_chg = int(round(shape.changed * n))
            n_rem = int(round(shape.removed * n))
            chg = set(order[:n_chg].tolist())
            rem = set(order[n_chg : n_chg + n_rem].tolist())
            nxt = []
            for i, d in enumerate(live):
                if i in rem:
                    continue
                if i in chg:
                    d = {**d, "text": self.edit(d["text"])}
                nxt.append(d)
            added = [self.new_doc() for _ in range(int(round(shape.added * n)))]
            nxt.extend(added)
            rounds.append(
                {
                    "docs": nxt,
                    "changed": sorted(live[i]["doc_id"] for i in chg),
                    "added": [d["doc_id"] for d in added],
                    "removed": sorted(live[i]["doc_id"] for i in rem),
                }
            )
            live = nxt
        return rounds

    # -- queries ------------------------------------------------------------

    def _query(self, shape: QueryShape) -> str:
        n = int(self.rng.integers(shape.min_words, shape.max_words + 1))
        return " ".join(self._words(n))

    def queries(self, docs: list[dict], shape: QueryShape) -> dict:
        """A pool, a stream of (kind, text-or-doc-key) requests and a
        fixed batch. ``repeat_share`` of the stream's text queries are
        drawn Zipf-wise from the pool; the rest are fresh."""
        pool = [self._query(shape) for _ in range(shape.pool)]
        pool_p = _zipf(shape.pool, shape.pool_zipf)
        kinds = ("search", "ann_search", "find_similar")
        stream = []
        for i in range(shape.stream):
            kind = kinds[i % len(kinds)]
            if kind == "find_similar":
                d = docs[int(self.rng.integers(len(docs)))]
                stream.append((kind, object_key(d)))
            elif self.rng.random() < shape.repeat_share:
                stream.append((kind, pool[int(self.rng.choice(shape.pool, p=pool_p))]))
            else:
                stream.append((kind, self._query(shape)))
        batch = [pool[i] for i in self.rng.permutation(shape.pool)[: shape.batch]]
        return {"pool": pool, "stream": stream, "batch": sorted(set(batch))}

    # -- curation shards ----------------------------------------------------

    def near_dup(self, text: str, edit: float) -> str:
        words = text.split(" ")
        k = max(1, int(round(edit * len(words))))
        for i in self.rng.choice(len(words), size=k, replace=False):
            words[int(i)] = self._words(1)[0]
        return " ".join(words)

    def exact_dup(self, text: str) -> str:
        """Same content under the engine's fingerprint normalization
        (lowercase, trimmed, whitespace runs collapsed)."""
        words = text.split(" ")
        i = int(self.rng.integers(len(words)))
        words[i] = words[i].upper()
        return "  ".join(words) if self.rng.random() < 0.5 else " " + " ".join(words)

    def curation_shard(self, shape: CurationShape) -> tuple[list[dict], list[dict]]:
        """(docs, planted) — originals get the lower ids, so a min-id
        representative policy keeps the original of every planted group."""
        n_exact = int(round(shape.exact_dup_share * shape.docs_per_shard))
        n_near = int(round(shape.near_dup_share * shape.docs_per_shard))
        n_base = shape.docs_per_shard - n_exact - n_near
        base = [self.new_doc(paragraphs=False) for _ in range(n_base)]
        docs, planted = list(base), []
        for kind, n in (("exact", n_exact), ("near", n_near)):
            for _ in range(n):
                orig = base[int(self.rng.integers(n_base))]
                text = (
                    self.exact_dup(orig["text"])
                    if kind == "exact"
                    else self.near_dup(orig["text"], shape.near_dup_edit)
                )
                dup = {"doc_id": self.next_id, "source": orig["source"], "text": text}
                self.next_id += 1
                docs.append(dup)
                planted.append(
                    {"dup_id": dup["doc_id"], "orig_id": orig["doc_id"], "kind": kind}
                )
        return docs, planted


def object_key(doc: dict) -> str:
    return f"{doc['source']}:{doc['doc_id']}"


def digest(obj) -> str:
    """sha256 of a canonical JSON rendering of generated inputs."""
    blob = json.dumps(obj, sort_keys=True, separators=(",", ":"), default=str)
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def _main() -> None:
    from perfbench import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    for name, make in workloads.INPUTS.items():
        print(name, digest(make(args.seed)))


if __name__ == "__main__":
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _main()
