"""Seeded corpus and probe generator for the perfbench workloads.

Everything a workload feeds the program comes from here, derived from the
``--seed`` on the command line: the same seed gives byte-identical inputs
(``Corpus.digest``), another seed gives different ones.

Documents are 10-60 whitespace-separated tokens whose ranks follow a Zipf
law. The query corpus folds the ranks into a 20k-token vocabulary, so its
distinct tokens fit the embedder's per-process token memo
(``check_vocabulary``); the ingest pool draws them from an unbounded
Zipf(1.05), whose long tail keeps bringing tokens the memo has not seen
(``check_traffic``, on the documents a run actually embedded).

Metadata has the three shapes the filter compiler handles: ``Year`` is a
numeric range (with a few non-numeric values that ``try_cast`` turns into
NULL), ``Rating`` a small int that some documents lack, and ``Lang`` a
skewed categorical, so filter selectivity varies from a few rows to most.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

QUERY_VOCAB = 20_000
QUERY_ZIPF_A = 1.1
INGEST_ZIPF_A = 1.05
MIN_TOKENS, MAX_TOKENS = 10, 60

LANGS = ("en", "de", "fr", "es", "ja", "ko")
LANG_P = (0.60, 0.15, 0.10, 0.08, 0.05, 0.02)
RATING_P = (0.05, 0.10, 0.20, 0.35, 0.30)
YEAR_LO, YEAR_HI = 1990, 2024

# filter pools by selectivity: LOW passes most rows, HIGH passes few
LOW_FILTERS = (
    lambda r: {"Year": {"gte": int(r.integers(1990, 1996))}},
    lambda r: {"Rating": {"in": [2, 3, 4, 5]}},
    lambda r: {"Lang": {"in": ["en", "de", "fr", "es"]}},
)
MEDIUM_FILTERS = (
    lambda r: {"Year": {"gte": int(r.integers(2005, 2013))}},
    lambda r: {"Lang": {"eq": "en"}},
    lambda r: {"Rating": {"gte": 4}},
)
HIGH_FILTERS = (
    lambda r: {"Year": {"eq": int(r.integers(YEAR_LO, YEAR_HI + 1))}},
    lambda r: {"Lang": {"in": ["ja", "ko"]}},
    lambda r: {"Rating": {"eq": 1}},
)

# stream ids keep each generated input independent of the others
_STREAMS = {"query": 1, "ingest": 2, "probes": 3, "writes": 4, "sweep": 5, "upsert": 6,
            "sample": 7}


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[stream]])


@dataclass
class Corpus:
    """Parallel lists of document ids, texts and metadata maps."""

    ids: list[str]
    docs: list[str]
    meta: list[dict[str, str]]
    distinct: int = -1  # distinct tokens, counted when generated

    def __len__(self) -> int:
        return len(self.ids)

    def rows(self, lo: int = 0, hi: int | None = None) -> list[tuple]:
        """(id, document, metadata) tuples in the collection schema."""
        sl = slice(lo, hi)
        return list(zip(self.ids[sl], self.docs[sl], self.meta[sl]))

    def digest(self) -> str:
        h = hashlib.sha256()
        for i, d, m in zip(self.ids, self.docs, self.meta):
            h.update(f"{i}\x1f{d}\x1f{sorted(m.items())}\x1e".encode())
        return h.hexdigest()



def _texts(rng: np.random.Generator, n: int, vocab: int | None, a: float) -> tuple[list[str], int]:
    """``n`` documents and their number of distinct tokens."""
    lens = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, n)
    ranks = rng.zipf(a, int(lens.sum()))
    if vocab is not None:
        ranks = (ranks - 1) % vocab
    toks = ["t%x" % r for r in ranks.tolist()]
    ends = np.cumsum(lens).tolist()
    out, start = [], 0
    for end in ends:
        out.append(" ".join(toks[start:end]))
        start = end
    # one token per rank, so distinct ranks are distinct tokens
    return out, int(np.unique(ranks).size)


def _metadata(rng: np.random.Generator, n: int) -> list[dict[str, str]]:
    years = rng.integers(YEAR_LO, YEAR_HI + 1, n).tolist()
    year_bad = (rng.random(n) < 0.01).tolist()
    ratings = (rng.choice(5, n, p=RATING_P) + 1).tolist()
    rating_missing = (rng.random(n) < 0.03).tolist()
    langs = rng.choice(len(LANGS), n, p=LANG_P).tolist()
    out = []
    for y, yb, r, rm, lg in zip(years, year_bad, ratings, rating_missing, langs):
        m = {"Year": "unknown" if yb else str(y), "Lang": LANGS[lg]}
        if not rm:
            m["Rating"] = str(r)
        out.append(m)
    return out


def query_corpus(seed: int, n: int) -> Corpus:
    """The collection the query workload searches."""
    rng = _rng(seed, "query")
    docs, distinct = _texts(rng, n, QUERY_VOCAB, QUERY_ZIPF_A)
    return Corpus([f"q{i}" for i in range(n)], docs, _metadata(rng, n), distinct)


def ingest_pool(seed: int, n: int) -> Corpus:
    """Documents the ingest workload saves, appends and upserts, in order."""
    rng = _rng(seed, "ingest")
    docs, distinct = _texts(rng, n, None, INGEST_ZIPF_A)
    return Corpus([f"p{i}" for i in range(n)], docs, _metadata(rng, n), distinct)


def write_docs(seed: int, n: int) -> Corpus:
    """Extra query-vocabulary documents for append/upsert batches."""
    rng = _rng(seed, "writes")
    docs, distinct = _texts(rng, n, QUERY_VOCAB, QUERY_ZIPF_A)
    return Corpus([f"w{i}" for i in range(n)], docs, _metadata(rng, n), distinct)


def upsert_targets(seed: int, op: int, n_stored: int, k: int) -> list[int]:
    """Positions of the ``k`` stored rows that the upsert drawn for
    operation ``op`` replaces."""
    rng = np.random.default_rng([seed, _STREAMS["upsert"], op])
    return sorted(rng.choice(n_stored, k, replace=False).tolist())


def sample_positions(seed: int, op: int, n: int, k: int) -> list[int]:
    """Up to ``k`` of ``n`` positions, drawn for operation ``op``: the rows
    whose stored vectors a write check compares with the oracle."""
    rng = np.random.default_rng([seed, _STREAMS["sample"], op])
    return sorted(rng.choice(n, min(k, n), replace=False).tolist())


def check_vocabulary(query: Corpus, memo_max: int) -> dict:
    """Assert that the query corpus's distinct tokens fit the embedder's
    token memo; return the count."""
    q = query.distinct
    if q > memo_max:
        raise ValueError(f"query corpus has {q} distinct tokens > memo {memo_max}")
    return {"query_distinct_tokens": q}


def check_traffic(docs: list[str], floor: float) -> dict:
    """Assert that the documents a run embedded keep bringing new tokens:
    at least ``floor`` of their token occurrences are a token's first in
    the run. Each such occurrence misses the memo of the worker that embeds
    it, so the share is a lower bound on the memo's miss rate."""
    total, seen = 0, set()
    for d in docs:
        toks = d.lower().split()
        total += len(toks)
        seen.update(toks)
    share = len(seen) / total
    if share < floor:
        raise ValueError(f"ingest traffic's new-token share {share:.3f} < {floor}")
    return {"ingest_traffic_docs": len(docs), "ingest_traffic_tokens": total,
            "ingest_traffic_distinct_tokens": len(seen), "ingest_new_token_share": share}


@dataclass(frozen=True)
class Probe:
    """One query call: its kind, probe texts and metadata filters."""

    kind: str  # "cosine" | "nearest" | "many"
    texts: tuple[str, ...]
    f_where: tuple[dict, ...]


# the query workload repeats this cycle of call classes, so every seed sees
# the same mix: cosine_query with 0, 1 (low/medium/high selectivity) and 2
# filters, 1-NN, and cosine_query_many unfiltered and with one filter
QUERY_CYCLE = ("cos0", "cos_low", "nearest", "cos_med", "cos_high", "cos2", "nearest",
               "many0", "many1")
BATCH_PROBES = 8


def small(probe: Probe) -> Probe:
    """``probe`` with a batched call cut to its first two probe texts."""
    return Probe("many", probe.texts[:2], probe.f_where) if probe.kind == "many" else probe


def _probe_text(rng: np.random.Generator) -> str:
    n = int(rng.integers(2, 9))
    ranks = (rng.zipf(QUERY_ZIPF_A, n) - 1) % QUERY_VOCAB
    return " ".join("t%x" % r for r in ranks.tolist())


def _pick(rng: np.random.Generator, pool) -> dict:
    return pool[int(rng.integers(len(pool)))](rng)


def _filters(rng: np.random.Generator, cls: str) -> tuple[dict, ...]:
    if cls in ("cos0", "nearest", "many0"):
        return ()
    if cls == "cos_low":
        return (_pick(rng, LOW_FILTERS),)
    if cls in ("cos_med", "many1"):
        return (_pick(rng, MEDIUM_FILTERS),)
    if cls == "cos_high":
        return (_pick(rng, HIGH_FILTERS),)
    # two filters on different keys: one medium, one low or high
    i = int(rng.integers(len(MEDIUM_FILTERS)))
    first = MEDIUM_FILTERS[i](rng)
    other = LOW_FILTERS if rng.random() < 0.5 else HIGH_FILTERS
    j = (i + 1 + int(rng.integers(len(other) - 1))) % len(other)
    return (first, other[j](rng))


def probes(seed: int, cycle: tuple[str, ...], n: int, stream: str = "probes") -> list[Probe]:
    """The first ``n`` calls of a workload that repeats ``cycle``."""
    rng = _rng(seed, stream)
    out = []
    for k in range(n):
        cls = cycle[k % len(cycle)]
        kind = "nearest" if cls == "nearest" else "many" if cls.startswith("many") else "cosine"
        count = BATCH_PROBES if kind == "many" else 1
        texts = tuple(_probe_text(rng) for _ in range(count))
        out.append(Probe(kind, texts, _filters(rng, cls)))
    return out
