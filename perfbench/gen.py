"""Seeded input generators. Every array and document comes from
``np.random.default_rng([seed, stream, iteration])``, so one seed gives
the same inputs on every run and every iteration gets inputs no earlier
call has seen."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# stream ids: one per kind of input, so changing how many of one kind
# a run draws never shifts another kind's numbers
SPACE, BASE, QUERIES, ADDS, DELETES, CORPUS, PROBES = range(7)


def rng_for(seed: int, stream: int, iteration: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, stream, iteration])


class VectorSpace:
    """Overlapping Gaussian clusters in ``dim`` dimensions: neighbouring
    clusters overlap, so the approximate indexes miss some true
    neighbours (recall well below 1.0) and a loss of quality can show.
    One spread for every cluster keeps that difficulty the same from
    seed to seed."""

    def __init__(self, seed: int, dim: int, n_clusters: int, spread: float):
        self.dim = dim
        self.spread = spread
        self.centers = rng_for(seed, SPACE).normal(size=(n_clusters, dim))

    def sample(self, r: np.random.Generator, n: int) -> np.ndarray:
        lab = r.integers(0, len(self.centers), n)
        noise = r.normal(size=(n, self.dim)) * self.spread
        return (self.centers[lab] + noise).astype(np.float32)


def vector_frame(spark, ids: np.ndarray, X: np.ndarray, id_col: str = "id"):
    pdf = pd.DataFrame({id_col: ids.astype(np.int64), "vector": list(X)})
    return spark.createDataFrame(pdf, f"{id_col} long, vector array<float>")


# ---- corpus -------------------------------------------------------------

EN_STOP = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for"]
VOCAB = 5000


@dataclass
class Corpus:
    """One corpus slice plus what was planted in it."""

    ids: np.ndarray
    texts: list[str]
    #: documents built to pass the quality filter / to fail it
    good: set
    bad: set
    #: planted copy id -> source id
    exact_copies: dict
    near_copies: dict
    #: planted corpus doc id -> the evaluation probe it copies
    contaminated: dict

    def n_tokens(self) -> dict:
        return {int(i): len(t.split()) for i, t in zip(self.ids, self.texts)}

    def survivors(self) -> list[int]:
        """Ids the whole pipeline must keep: the good documents minus
        the planted copies and the contaminated documents."""
        gone = set(self.exact_copies) | set(self.near_copies) | set(self.contaminated)
        return sorted(i for i in self.good if i not in gone)


def _good_text(r: np.random.Generator) -> list[str]:
    """48-110 tokens that pass every quality rule by construction:
    content words are distinct and no two stopwords are adjacent, so no
    word bigram repeats; English stopwords make up about a fifth."""
    n = int(r.integers(48, 110))
    words = iter(f"w{w}" for w in r.choice(VOCAB, n, replace=False))
    toks = [next(words)]
    for u, p in zip(r.random(n - 1), r.integers(0, len(EN_STOP), n - 1)):
        stop = u < 0.3 and toks[-1] not in EN_STOP
        toks.append(EN_STOP[p] if stop else next(words))
    return toks


PROBE_ID_BASE = 10_000_000_000


def make_probes(seed: int, n: int) -> tuple[np.ndarray, list[str]]:
    """A fixed evaluation suite of ``n`` good documents."""
    r = rng_for(seed, PROBES)
    return (
        np.arange(PROBE_ID_BASE, PROBE_ID_BASE + n, dtype=np.int64),
        [" ".join(_good_text(r)) for _ in range(n)],
    )


def make_corpus(seed: int, iteration: int, n_docs: int, id_base: int, probes) -> Corpus:
    """``n_docs`` originals (90% good, 5% too short, 5% repetitive) and,
    on top, exact copies of 2%, near copies (one appended token) of 2%,
    and near copies of 2% worth of evaluation probes (contamination).
    Planted sources are distinct and copies get higher ids than every
    original, so each dedup keeps the source."""
    r = rng_for(seed, CORPUS, iteration)
    ids, texts, good, bad = [], [], set(), set()
    for j in range(n_docs):
        doc_id = id_base + j
        u = r.random()
        if u < 0.05:
            toks = [f"w{w}" for w in r.integers(0, VOCAB, int(r.integers(4, 16)))]
            bad.add(doc_id)
        elif u < 0.10:
            a, b = r.integers(0, VOCAB, 2)
            toks = [f"w{a}", f"w{b}"] * int(r.integers(20, 40))
            bad.add(doc_id)
        else:
            toks = _good_text(r)
            good.add(doc_id)
        ids.append(doc_id)
        texts.append(" ".join(toks))
    text_of = dict(zip(ids, texts))
    n_plant = max(1, n_docs // 50)
    sources = r.permutation(sorted(good))[: 2 * n_plant].tolist()
    probe_ids, probe_texts = probes
    leaked = r.choice(len(probe_ids), min(n_plant, len(probe_ids)), replace=False)
    planted = (
        [("exact", s, text_of[s]) for s in sources[:n_plant]]
        + [("near", s, text_of[s] + " zzz") for s in sources[n_plant:]]
        + [("probe", int(probe_ids[j]), probe_texts[j] + " qqq") for j in leaked]
    )
    exact, near, contaminated = {}, {}, {}
    for next_id, (kind, src, text) in enumerate(planted, start=id_base + n_docs):
        {"exact": exact, "near": near, "probe": contaminated}[kind][next_id] = src
        ids.append(next_id)
        texts.append(text)
        good.add(next_id)
    return Corpus(
        ids=np.asarray(ids, dtype=np.int64),
        texts=texts,
        good=good,
        bad=bad,
        exact_copies=exact,
        near_copies=near,
        contaminated=contaminated,
    )


def text_frame(spark, ids: np.ndarray, texts: list[str]):
    pdf = pd.DataFrame({"doc_id": ids.astype(np.int64), "text": texts})
    return spark.createDataFrame(pdf, "doc_id long, text string")
