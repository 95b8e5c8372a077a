"""Deterministic near-dup document corpus for the dedup oracle gate.

The MinHash/SimHash operators are defined by seeded hash functions
(MinHash: crc32 token hashes + FNV-1a gram folding; SimHash: FNV-1a
token hashes), which no SQL engine reproduces natively — so their
DuckDB oracles follow the ``pipeline_nodes`` fixture pattern: a
deterministic corpus (this module, shared INPUT data), an expected
pair set precomputed by an INDEPENDENT plain-Python implementation
(scripts/make_dedup_fixtures.py — scalar loops, no numpy, no engine
imports on the value path), and an oracle that is a plain ``SELECT``
over the resulting parquet fixture.

The corpus has controlled structure: per base document one of {exact
duplicate, near duplicate (~5% token mutations), two chained near-dups,
truncated copy, nothing}, plus empty/degenerate docs — so the pair set
exercises threshold decisions on both sides of the line.
"""

from __future__ import annotations

import random


def dedup_corpus(n_base: int = 80, seed: int = 7) -> list[tuple[int, str]]:
    """Deterministic (doc_id, text) rows with seeded near-dup clusters."""
    rng = random.Random(seed)
    vocab = [f"w{i:03d}" for i in range(400)] + ["Fluss", "río", "creek,bed"]
    docs: list[tuple[int, str]] = []
    did = 0

    def emit(toks: list[str]) -> None:
        nonlocal did
        docs.append((did, " ".join(toks)))
        did += 1

    def mutate(toks: list[str], frac: float = 0.05) -> list[str]:
        out = list(toks)
        for _ in range(max(1, int(len(out) * frac))):
            out[rng.randrange(len(out))] = rng.choice(vocab)
        return out

    for b in range(n_base):
        n = rng.randint(20, 60)
        base = [rng.choice(vocab) for _ in range(n)]
        emit(base)
        r = b % 5
        if r == 0:  # exact duplicate
            emit(list(base))
        elif r == 1:  # one near duplicate
            emit(mutate(base))
        elif r == 2:  # chain: A ~ B ~ C
            mid = mutate(base)
            emit(mid)
            emit(mutate(mid))
        elif r == 3:  # truncated copy (prefix)
            emit(base[: max(3, int(n * 0.8))])
        # r == 4: no partner
    # degenerate rows: empty, separators-only, below-shingle-width, case fold
    emit([])
    docs.append((did, " .,;! \t"))
    did += 1
    emit(["solo", "pair"])
    docs.append((did, " ".join(t.upper() for t in docs[0][1].split())))
    did += 1
    return docs


def docs_dataframe(spark, rows: list[tuple[int, str]]):
    """(doc_id, text) rows -> 8-partition DataFrame (multi-partition on
    purpose: the dedup plans must not depend on single-partition input)."""
    return spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
