"""Checks of the benchmark's own inputs and oracle; no Spark session needed.

    python3 perfbench/selfcheck.py

- the same seed gives byte-identical corpora and probes, another seed
  gives different ones;
- the oracle's replay of the hash embedder matches ``HashEmbedder``
  bit for bit.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np

import corpus
from oracle import HashOracle

ROOT = Path(__file__).resolve().parent.parent


def inputs(seed: int) -> str:
    parts = [
        corpus.query_corpus(seed, 500).digest(),
        corpus.ingest_pool(seed, 500).digest(),
        corpus.write_docs(seed, 100).digest(),
        repr(corpus.probes(seed, corpus.QUERY_CYCLE, 50)),
        repr(corpus.upsert_targets(seed, 3, 1000, 50)),
    ]
    return "\n".join(parts)


def main() -> int:
    if inputs(7) != inputs(7):
        raise AssertionError("the same seed gave different inputs")
    a, b = inputs(7).splitlines(), inputs(8).splitlines()
    same = [i for i, (x, y) in enumerate(zip(a, b)) if x == y]
    if same:
        raise AssertionError(f"seeds 7 and 8 gave identical inputs in parts {same}")

    sys.path.insert(0, str(ROOT))
    from valentinus_spark.embed import HashEmbedder

    docs = corpus.query_corpus(3, 200).docs + corpus.ingest_pool(3, 200).docs + ["", "A a"]
    for dim, seed in ((384, 42), (64, 7)):
        want = HashEmbedder(dim=dim, seed=seed).embed_texts(docs)
        got = HashOracle(dim, seed).embed(docs)
        if not np.array_equal(want, got):
            raise AssertionError(f"oracle embedding differs from HashEmbedder (dim={dim})")
    print("perfbench selfcheck: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
