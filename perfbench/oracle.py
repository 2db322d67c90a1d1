"""NumPy oracle for the query paths, written independently of the package.

``HashOracle`` replays the hash embedder: lower-cased whitespace tokens,
sha256 of ``"<seed>\\x1f<token>"``, the first 15 hex digits as a 60-bit
value whose low bit is the sign and whose remaining bits pick the bucket,
float32 accumulation, then division by the float32 L2 norm.

``QueryOracle`` holds one collection's rows and answers the three query
paths: metadata filters (string ``eq``/``in``; numeric values cast to long
the way ``try_cast`` does, so a missing key or a non-numeric value never
matches; AND across filters), the ``similarity > 0`` keep-rule, ranking by
similarity descending then ``id`` ascending, and exact 1-NN by Euclidean
distance. Returned results may differ from the oracle's only among scores
tied within ``TOL`` at the k-th place.
"""

from __future__ import annotations

import hashlib
import re
from typing import Sequence

import numpy as np

TOL = 1e-6
_INT = re.compile(r"\s*[+-]?\d+\s*")


class HashOracle:
    def __init__(self, dim: int, seed: int):
        self.dim = dim
        self.seed = seed
        self._memo: dict[str, tuple[int, float]] = {}

    def _token(self, tok: str) -> tuple[int, float]:
        got = self._memo.get(tok)
        if got is None:
            v = int(hashlib.sha256(f"{self.seed}\x1f{tok}".encode()).hexdigest()[:15], 16)
            got = ((v >> 1) % self.dim, 1.0 if v & 1 else -1.0)
            self._memo[tok] = got
        return got

    def embed(self, texts: Sequence[str]) -> np.ndarray:
        out = np.zeros((len(texts), self.dim), dtype=np.float32)
        for i, text in enumerate(texts):
            row = out[i]
            for tok in text.lower().split():
                b, s = self._token(tok)
                row[b] += s
            n = np.linalg.norm(row)
            if n > 0:
                row /= n
        return out


def _long(v: str | None) -> int | None:
    return int(v) if v is not None and _INT.fullmatch(v) else None


def _match(meta: dict[str, str], spec: dict) -> bool:
    (key, body), = spec.items()
    (op, value), = body.items()
    raw = meta.get(key)
    values = value if isinstance(value, (list, tuple)) else [value]
    if any(isinstance(v, str) for v in values):
        if op not in ("eq", "in"):
            raise ValueError(f"oracle has no string op {op!r}")
        return raw is not None and raw in {str(v) for v in values}
    num = _long(raw)
    if num is None:
        return False
    if op == "in":
        return num in {int(v) for v in values}
    lit = int(value)
    return {"eq": num == lit, "gt": num > lit, "gte": num >= lit,
            "lt": num < lit, "lte": num <= lit}[op]


class QueryOracle:
    """Expected answers for one collection's rows."""

    def __init__(self, ids: Sequence[str], docs: Sequence[str],
                 meta: Sequence[dict[str, str]], embedder: HashOracle):
        self.ids = list(ids)
        self.docs = dict(zip(ids, docs))
        self.meta = list(meta)
        self.embedder = embedder
        self.E = embedder.embed(list(docs)).astype(np.float64)
        self.norms = np.sqrt((self.E * self.E).sum(axis=1))
        self.row_of = {i: k for k, i in enumerate(self.ids)}
        self._masks: dict[str, np.ndarray] = {}

    def mask(self, f_where: Sequence[dict]) -> np.ndarray:
        key = repr(f_where)
        got = self._masks.get(key)
        if got is None:
            got = np.array([all(_match(m, s) for s in f_where) for m in self.meta], dtype=bool)
            self._masks[key] = got
        return got

    def similarities(self, text: str) -> np.ndarray:
        q = self.embedder.embed([text])[0].astype(np.float64)
        denom = self.norms * np.sqrt(q @ q)
        sims = np.zeros(len(self.ids))
        ok = denom > 0
        sims[ok] = (self.E[ok] @ q) / denom[ok]
        return sims

    def rows_passing(self, f_where: Sequence[dict]) -> int:
        return int(self.mask(f_where).sum())

    def check_topk(self, rows: Sequence[tuple], text: str, f_where: Sequence[dict],
                   k: int) -> str | None:
        """None when ``rows`` — (id, document, similarity) tuples in result
        order — is a correct top-k answer; else what is wrong."""
        sims = self.similarities(text)
        keep = self.mask(f_where) & (sims > 0)
        idx = np.flatnonzero(keep)
        order = sorted(idx.tolist(), key=lambda r: (-sims[r], self.ids[r]))
        want = order[:k]
        if len(rows) != len(want):
            return f"{len(rows)} rows returned, {len(want)} expected"
        if not want:
            return None
        kth = sims[want[-1]]
        got_ids = set()
        prev = np.inf
        for rid, doc, sim in rows:
            r = self.row_of.get(rid)
            if r is None or not keep[r]:
                return f"row {rid!r} fails the filter or keep-rule"
            if doc != self.docs[rid]:
                return f"row {rid!r} returned a different document"
            if abs(sim - sims[r]) > TOL:
                return f"row {rid!r} similarity {sim} != {sims[r]}"
            if sim > prev + TOL:
                return "rows are not ranked by similarity"
            if sims[r] < kth - TOL:
                return f"row {rid!r} ranks below the k-th score"
            prev = sim
            got_ids.add(rid)
        missing = [self.ids[r] for r in want if sims[r] > kth + TOL and self.ids[r] not in got_ids]
        if missing:
            return f"rows {missing[:3]} missing from the top-k"
        return None

    def check_nearest(self, rows: Sequence[tuple], text: str) -> str | None:
        """``rows`` holds one (id, distance) tuple, the returned 1-NN."""
        q = self.embedder.embed([text])[0].astype(np.float64)
        d = np.sqrt(((self.E - q) ** 2).sum(axis=1))
        if len(rows) != 1:
            return f"{len(rows)} rows returned, 1 expected"
        rid, dist = rows[0]
        r = self.row_of.get(rid)
        if r is None:
            return f"unknown id {rid!r}"
        if abs(dist - d[r]) > TOL:
            return f"distance {dist} != {d[r]}"
        if d[r] > d.min() + TOL:
            return f"row {rid!r} at {d[r]} is not nearest ({d.min()})"
        return None
