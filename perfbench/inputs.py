"""Seeded input generators for the benchmark workloads.

The same seed always gives the same bytes. The package under test only ever
sees the generated files.

* ``narrow_transcripts``: the shipped ``datagen`` distribution (150 entities,
  20 % hot-entity skew) with its catalog facts and turn stream re-drawn from
  the seed.
* ``wide_transcripts``: the same turn grammar over a seeded vocabulary of
  many entity names.
* ``documents`` / ``embeddings``: tables in the shape of the testdata the
  contract queries read (31-word vocabulary documents; unit-norm 64-d
  vectors with a class label), drawn from the seed, each with planted
  near-duplicates.

Both transcript generators drive ``datagen.generate_transcripts`` itself, by
overriding its module-level seed and name lists for the duration of one call,
so the grammar cannot drift from the one ``operators/extract.py`` parses.
"""

from __future__ import annotations

import contextlib
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mannheimsearchjoinsengine_spark import datagen

# the testdata document vocabulary, languages and source count
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
DOC_SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10

_ONSETS = "b c d f g h k l m n p r s t v z br dr kr pl st tr".split()
_VOWELS = "a e i o u ai ea io".split()
# tokens the grammar or the near-miss surfaces already use
_RESERVED = {"city", "jr", "inc", "corp", "labs", "group", "sic", "nbsp"}


@contextlib.contextmanager
def _datagen_overrides(**values):
    old = {k: getattr(datagen, k) for k in values}
    for k, v in values.items():
        setattr(datagen, k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            setattr(datagen, k, v)


def narrow_transcripts(seed: int, n_turns: int) -> pa.Table:
    with _datagen_overrides(SEED=seed):
        return datagen.generate_transcripts(n_turns)


def _words(rng: random.Random, n: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(rng.randint(2, 3))
        )
        if w not in _RESERVED:
            out.add(w.capitalize())
    return sorted(out)


def wide_transcripts(seed: int, n_turns: int, n_entities: int) -> pa.Table:
    """About ``n_entities`` names, split evenly over datagen's three entity
    classes; each class is a (prefix × suffix) grid of seeded words, the
    shape of the shipped catalog."""
    side = max(2, math.ceil(math.sqrt(n_entities / 3)))
    words = _words(random.Random(seed), 6 * side)
    lists = [words[i * side:(i + 1) * side] for i in range(6)]
    with _datagen_overrides(
        SEED=seed,
        CITY_PRE=lists[0], CITY_SUF=lists[1],
        PERSON_FIRST=lists[2], PERSON_LAST=lists[3],
        COMPANY_BASE=lists[4], COMPANY_SUF=lists[5],
    ):
        return datagen.generate_transcripts(n_turns)


def documents(seed: int, n_docs: int, dup_frac: float = 0.1) -> pa.Table:
    """Random-word documents of 10-99 tokens; ``dup_frac`` of them copy an
    earlier document with one token replaced, so the dedup operators have
    near-duplicates to find."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < dup_frac:
            toks = texts[rng.randrange(i)].split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(DOC_WORDS)
        else:
            toks = [rng.choice(DOC_WORDS) for _ in range(rng.randint(10, 99))]
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choices(DOC_LANGS, DOC_LANG_WEIGHTS, k=n_docs), pa.string()),
            "source": pa.array([f"src{rng.randrange(DOC_SOURCES)}" for _ in texts], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n_vecs: int, dup_frac: float = 0.1) -> pa.Table:
    """Unit-norm Gaussian vectors, near-random like the testdata; ``dup_frac``
    of them are a slightly perturbed copy of an earlier vector, so the
    near-duplicate join has pairs to find."""
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n_vecs, EMB_DIM))
    for i in np.flatnonzero(rng.random(n_vecs) < dup_frac)[1:]:
        v[i] = v[rng.integers(i)] + 0.2 * rng.standard_normal(EMB_DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, EMB_LABELS, n_vecs), pa.int32()),
        }
    )


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=datagen.ROW_GROUP_SIZE)
    return path
