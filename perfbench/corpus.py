"""Seeded synthetic ``documents`` corpus for the ``llm_pipeline`` workload.

The corpus has the shape of the repository's ``documents`` fixture (doc_id,
text, lang, source, n_chars; 20 round-robin sources, a 30-word vocabulary)
plus a planted near-duplicate structure that is known without running the
engine: ``N_DUPS`` documents are an earlier original's text with `` dup``
appended. Texts have at least ``MIN_WORDS`` words, so each copy's 3-shingle
Jaccard similarity to its original is >= 28/29 and MinHash-LSH at 8 bands of
4 rows finds every planted pair (miss probability below 1e-7 per pair).
Random documents over this vocabulary never reach Jaccard 0.5 with each
other, so the planted pairs are the only near-duplicates.

From that structure and the selected document ids, :func:`expected_report`
derives the pipeline's per-shard report independently of the operators:
survivors are the selected documents minus every copy whose original was
also selected (the canonical of a pair is its smaller id), and packing is
integer arithmetic over each shard's token total.
"""

from __future__ import annotations

import random

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [41, 15, 15, 15, 14]
N_SOURCES = 20
N_DOCS = 5000
N_DUPS = 250
MIN_WORDS, MAX_WORDS = 30, 100
EOS = "<|endoftext|>"


def make_corpus(seed: int, n_docs: int = N_DOCS, n_dups: int = N_DUPS):
    """Return ``(rows, dup_of)``: rows as (doc_id, text, lang, source,
    n_chars) tuples, and the planted map copy doc_id -> original doc_id."""
    rng = random.Random(seed)
    # copies sit at ids above their originals; every original is copied once
    copy_ids = sorted(rng.sample(range(n_docs // 2, n_docs), n_dups))
    copy_set = set(copy_ids)
    texts: list[str] = []
    dup_of: dict[int, int] = {}
    used: set[int] = set()
    for i in range(n_docs):
        if i in copy_set:
            orig = rng.choice([j for j in range(i) if j not in copy_set and j not in used])
            used.add(orig)
            dup_of[i] = orig
            texts.append(texts[orig] + " dup")
        else:
            n = rng.randint(MIN_WORDS, MAX_WORDS)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(n)))
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs)
    rows = [
        (i, texts[i], langs[i], f"src{i % N_SOURCES}", len(texts[i])) for i in range(n_docs)
    ]
    return rows, dup_of


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxhash64_long(value: int, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of one bigint column (XXH64 over its 8 bytes,
    seed 42), as a signed 64-bit integer."""
    h = (seed + _P5 + 8) & _M64
    k1 = _rotl((value & _M64) * _P2 & _M64, 31) * _P1 & _M64
    h ^= k1
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def expected_report(
    texts: dict[int, str],
    dup_of: dict[int, int],
    selected: set[int],
    seq_len: int = 512,
    n_shards: int = 16,
) -> list[tuple[int, int, int, int]]:
    """(shard, n_sequences, n_tokens, n_full) rows the pipeline must return
    for this corpus once ``selected`` is the DSIR-selected id set."""
    survivors = [d for d in selected if not (d in dup_of and dup_of[d] in selected)]
    tokens = [0] * n_shards
    for d in survivors:
        # packing splits "text <eos>" on single spaces
        tokens[xxhash64_long(d) % n_shards] += len(texts[d].split(" ")) + 1
    return [
        (s, -(-t // seq_len), t, t // seq_len) for s, t in enumerate(tokens) if t > 0
    ]
