"""Seeded corpus generator for the benchmark workloads.

Output is the engine's raw input shape, a ``(doc_id bigint, text string)``
table of lowercase space-separated tokens; ``kgx.sources.corpus`` renders
it into narrative prose on both the Spark and the DuckDB side.

Every property that the engine's behaviour depends on is a field of
:class:`CorpusSpec`, so each workload fixes its own: vocabulary size and
Zipf exponent (how many distinct entity labels linking sees), document
count, the length tail (every ``tail_every``-th document ``tail_blowup``
times longer, the skew the salted repartition exists for), and the planted
shares of exact duplicates, near-duplicates, boilerplate sentences and PII
that the curation funnel removes.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_CONSONANTS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"
_SYLLABLES = [c + v for c in _CONSONANTS for v in _VOWELS]

#: The narrative renders token triple ``i`` with ``i % 4 == 3`` as
#: ``"the <t1> <t2> pipeline ran quickly."`` whatever the document's template
#: phase, so a fixed triple planted there is one sentence repeated verbatim
#: across documents.
_BOILERPLATE_TRIPLE = 3


@dataclass(frozen=True)
class CorpusSpec:
    docs: int
    vocab: int = 20_000
    zipf: float = 1.1
    min_tokens: int = 30
    max_tokens: int = 90
    tail_every: int = 10
    tail_blowup: int = 10
    exact_dup_share: float = 0.0
    near_dup_share: float = 0.0
    near_dup_edits: int = 2
    boilerplate_share: float = 0.0
    pii_share: float = 0.0


def vocabulary(n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words: two syllables for the first
    85², three after that, so different lengths never collide."""
    s = len(_SYLLABLES)
    words = []
    for i in range(n):
        if i < s * s:
            words.append(_SYLLABLES[i // s] + _SYLLABLES[i % s])
        else:
            j = i - s * s
            words.append(
                _SYLLABLES[(j // (s * s)) % s] + _SYLLABLES[(j // s) % s] + _SYLLABLES[j % s]
            )
    return words


def _pii_token(rng: np.random.Generator) -> str:
    kind = int(rng.integers(4))
    a, b, c = (int(x) for x in rng.integers(0, 10_000, size=3))
    if kind == 0:
        return f"user{a}@mail{b % 10}.net"
    if kind == 1:
        return f"{100 + a % 900}-{b % 100:02d}-{c:04d}"
    if kind == 2:
        return f"{100 + a % 900}-{100 + b % 900}-{c:04d}"
    return f"10.{a % 256}.{b % 256}.{c % 256}"


def generate(spec: CorpusSpec, seed: int) -> tuple[np.ndarray, list[str]]:
    """Return ``(doc_ids, texts)``; the same ``(spec, seed)`` always gives
    the same corpus."""
    rng = np.random.default_rng(seed)
    words = np.array(vocabulary(spec.vocab), dtype=object)
    # the seed decides which words are frequent, the exponent how frequent
    words = words[rng.permutation(spec.vocab)]
    ranks = np.arange(1, spec.vocab + 1, dtype=np.float64)
    p = ranks ** -spec.zipf
    p /= p.sum()

    doc_ids = np.arange(spec.docs, dtype=np.int64)
    lengths = rng.integers(spec.min_tokens, spec.max_tokens + 1, size=spec.docs)
    lengths = np.where(doc_ids % spec.tail_every == 0, lengths * spec.tail_blowup, lengths)
    flat = words[rng.choice(spec.vocab, size=int(lengths.sum()), p=p)]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    toks = [list(flat[bounds[i]:bounds[i + 1]]) for i in range(spec.docs)]

    # each planted share is an exact count of documents, so that every seed
    # gives the funnel the same amount of work to remove
    def _pick(share: float) -> np.ndarray:
        return np.sort(rng.permutation(spec.docs)[: round(share * spec.docs)])

    boiler = list(words[rng.choice(spec.vocab, size=2, replace=False)])
    for d in _pick(spec.boilerplate_share):
        at = 3 * _BOILERPLATE_TRIPLE
        toks[d][at:at + 2] = boiler
    for d in _pick(spec.pii_share):
        toks[d].insert(int(rng.integers(len(toks[d]) + 1)), _pii_token(rng))

    # Planted copies take their source from an earlier doc_id congruent mod
    # 10 (every doc_id >= 10 has one): the narrative template phase is
    # (doc_id + i) % 10, so only then do equal tokens render to equal text.
    copies = 10 + rng.permutation(spec.docs - 10)
    n_exact = round(spec.exact_dup_share * spec.docs)
    n_near = round(spec.near_dup_share * spec.docs)
    near = set(copies[n_exact:n_exact + n_near].tolist())
    for d in sorted(copies[:n_exact + n_near].tolist()):
        toks[d] = list(toks[d - 10 * int(rng.integers(1, d // 10 + 1))])
        if d in near:
            for pos in rng.choice(len(toks[d]), size=spec.near_dup_edits, replace=False):
                toks[d][pos] = words[rng.choice(spec.vocab, p=p)]
    return doc_ids, [" ".join(t) for t in toks]


def write_parquet(spec: CorpusSpec, seed: int, path: str) -> int:
    """Write the corpus as ``path`` (one parquet file); returns doc count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    doc_ids, texts = generate(spec, seed)
    pq.write_table(
        pa.table({"doc_id": pa.array(doc_ids, pa.int64()), "text": pa.array(texts, pa.string())}),
        path,
    )
    return len(texts)
