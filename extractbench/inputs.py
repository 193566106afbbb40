"""Seeded inputs for the benchmark.

The base corpus mirrors the shape of the engine's ``documents`` table
(``doc_id, text, lang, source, n_chars``): 5,000 documents of 10-99 words
drawn from a 30-word vocabulary, about 5% near-duplicates (another
document's text plus the word ``dup``), English-heavy languages and 20
sources. The base texts are fixed, so every seed does the same amount of
work; the seed only moves the documents to other ids and urls:

- doc ids are ``base_index + m * 10_000_000`` for seeded multiples
  ``m`` in 10..99. Every id has nine digits and keeps its residues mod 10,
  20 and 100, so ``corpus.py``'s archetype and host-skew mix is kept.
- ``replicas > 1`` stacks copies of the corpus at distinct seeded
  multiples (a larger crawl of the same shape).
"""

from __future__ import annotations

import random

import pyarrow as pa

BASE_DOCS = 5_000
ID_STRIDE = 10_000_000
_BASE_CORPUS_SEED = 20240101
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
_NEAR_DUP_SHARE = 20  # one document in 20 is a near-duplicate


def _base_texts() -> list[str]:
    rng = random.Random(_BASE_CORPUS_SEED)
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))
        for _ in range(BASE_DOCS)
    ]
    for i in rng.sample(range(BASE_DOCS), BASE_DOCS // _NEAR_DUP_SHARE):
        texts[i] = texts[rng.randrange(BASE_DOCS)] + " dup"
    return texts


def _base_langs() -> list[str]:
    rng = random.Random(_BASE_CORPUS_SEED + 1)
    return [rng.choice(LANGS) for _ in range(BASE_DOCS)]


def documents(seed: int, replicas: int = 1, n: int = BASE_DOCS) -> pa.Table:
    """The seeded ``documents`` table: ``replicas`` x ``n`` rows (the first
    ``n`` base documents; smaller ``n`` only for the benchmark's tests)."""
    rng = random.Random(seed)
    multiples = rng.sample(range(10, 100), replicas)
    texts, langs = _base_texts()[:n], _base_langs()[:n]
    ids = [m * ID_STRIDE + i for m in multiples for i in range(n)]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts * replicas,
        "lang": langs * replicas,
        "source": [f"src{d % 20}" for d in ids],
        "n_chars": pa.array([len(t) for t in texts] * replicas, pa.int64()),
    })
