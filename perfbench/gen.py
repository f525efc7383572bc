"""Seeded input generator for the layered benchmark.

Everything the engine sees is written here as parquet; the engine
only ever receives the paths. The same seed gives byte-identical
tables.

Documents follow a zipf(1) token law over a large vocabulary
(rank = floor(exp(u * ln V)), u uniform — log-uniform ranks, P(r) ~
1/r) with LETTERS-ONLY terms: the engine's tokenizer splits on runs
of non-letters, so a digit inside a term would split it and collapse
the corpus to a one-term vocabulary. Every corpus is checked for its
distinct-term count before it is written.

Planted rates (documents): short docs the quality gate drops, exact
duplicates (a copy of an earlier doc's text) and near duplicates (an
earlier doc with a few tokens replaced, 3-shingle Jaccard well above
the engine's 0.5 threshold). Embeddings: vectors around planted
cluster centres, plus semantic duplicates (a copy of an earlier
vector with small noise).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_000
MIN_LEN, LEN_SPREAD = 60, 80  # tokens per doc in [60, 140)
SHORT_LEN = 20  # planted short docs: below the gate's 50-token floor
SOURCES = ("src0", "src1", "src2", "src3")
LANGS = ("en", "de", "fr", "zh")
EMB_DIM = 64  # the engine's embedding dimension
_DIGITS_TO_LETTERS = str.maketrans("0123456789", "abcdefghij")

# planted rates for the curate corpus
SHORT_RATE = 0.03
EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.05
NEAR_DUP_EDITS = 3  # tokens replaced per near-duplicate
SEMANTIC_DUP_RATE = 0.05
N_CLUSTERS = 12
# per-dimension noise around a unit-variance centre: same-cluster
# cosine ~ 1 / (1 + noise^2), so a minority of in-cell pairs clear the
# engine's 0.3 threshold and the pair output stays small
CLUSTER_NOISE = 3.0


def term(rank: int) -> str:
    return "w" + str(rank).translate(_DIGITS_TO_LETTERS)


def _ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.exp(rng.random(n) * np.log(VOCAB)).astype(np.int64)


def _vocab_lookup(ranks: np.ndarray) -> np.ndarray:
    return np.array([term(int(r)) for r in range(VOCAB + 1)], dtype=object)[ranks]


def doc_texts(rng: np.random.Generator, n: int, short_rate: float = 0.0) -> list[str]:
    """n zipf documents; a `short_rate` share is SHORT_LEN tokens."""
    lens = MIN_LEN + rng.integers(0, LEN_SPREAD, n)
    lens[rng.random(n) < short_rate] = SHORT_LEN
    toks = _vocab_lookup(_ranks(rng, int(lens.sum())))
    ends = np.cumsum(lens)
    return [" ".join(toks[e - n_tok : e]) for e, n_tok in zip(ends, lens)]


def plant_duplicates(rng: np.random.Generator, texts: list[str]) -> dict:
    """Overwrite a share of docs with exact and near copies of an
    earlier doc (in place); returns the planted counts."""
    n = len(texts)
    roll = rng.random(n)
    exact = near = 0
    for i in range(1, n):
        if roll[i] < EXACT_DUP_RATE:
            texts[i] = texts[int(rng.integers(0, i))]
            exact += 1
        elif roll[i] < EXACT_DUP_RATE + NEAR_DUP_RATE:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for p in rng.integers(0, len(toks), NEAR_DUP_EDITS):
                toks[int(p)] = term(int(_ranks(rng, 1)[0]))
            texts[i] = " ".join(toks)
            near += 1
    return {"exact_dups": exact, "near_dups": near}


def distinct_terms(texts: list[str]) -> int:
    return len({t for s in texts for t in s.split(" ")})


def _check_vocab(texts: list[str]) -> int:
    v = distinct_terms(texts)
    # a healthy zipf corpus of even a few thousand docs has thousands
    # of distinct terms; a handful means the term encoding broke
    if v < min(1000, len(texts)):
        raise RuntimeError(f"degenerate corpus: {v} distinct terms in {len(texts)} docs")
    return v


def write_documents(path: str, doc_ids, texts: list[str]) -> None:
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i % len(LANGS)] for i in doc_ids], pa.string()),
            "source": pa.array([SOURCES[(i // 7) % len(SOURCES)] for i in doc_ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray, int]:
    """n vectors around N_CLUSTERS planted centres; a share are
    near-copies of an earlier vector. Returns (vectors, labels,
    semantic duplicate count)."""
    centres = rng.normal(0.0, 1.0, (N_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, N_CLUSTERS, n)
    vecs = centres[labels] + rng.normal(0.0, CLUSTER_NOISE, (n, EMB_DIM))
    dup = rng.random(n) < SEMANTIC_DUP_RATE
    dup[0] = False
    for i in np.flatnonzero(dup):
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(0.0, 0.01, EMB_DIM)
        labels[i] = labels[j]
    return vecs.astype(np.float32), labels.astype(np.int32), int(dup.sum())


def write_embeddings(path: str, vecs: np.ndarray, labels: np.ndarray) -> None:
    n = len(vecs)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1), pa.float32()), EMB_DIM)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def curate_inputs(out: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """documents + embeddings tables under `out` (an sf_dir)."""
    rng = np.random.default_rng([seed, 1])
    texts = doc_texts(rng, n_docs, SHORT_RATE)
    planted = plant_duplicates(rng, texts)
    vocab = _check_vocab(texts)
    write_documents(f"{out}/documents.parquet", np.arange(n_docs), texts)
    vecs, labels, sem = embeddings(rng, n_vecs)
    write_embeddings(f"{out}/embeddings.parquet", vecs, labels)
    return {
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "distinct_terms": vocab,
        "short_docs_rate": SHORT_RATE,
        **planted,
        "semantic_dups": sem,
        "documents_bytes": os.path.getsize(f"{out}/documents.parquet"),
        "embeddings_bytes": os.path.getsize(f"{out}/embeddings.parquet"),
    }


def corpus(out: str, seed: int, n_docs: int) -> list[str]:
    """The serve/ingest corpus (no planted duplicates) as an sf_dir;
    returns its texts, indexed by doc_id."""
    rng = np.random.default_rng([seed, 2])
    texts = doc_texts(rng, n_docs)
    _check_vocab(texts)
    write_documents(f"{out}/documents.parquet", np.arange(n_docs), texts)
    return texts


def query_sets(out: str, seed: int, texts: list[str], sizes: list[int], block: int) -> list[dict]:
    """Per-request query sets, one per entry of `sizes` (0 = the full
    block): each is an sf_dir whose documents table holds a seeded
    sample of the corpus's query docs (doc_id % 100 == 0, the engine's
    query filter, within its `block` cap). The sizes are fixed, so
    every seed sends the same mix of request sizes."""
    rng = np.random.default_rng([seed, 3])
    pool = np.arange(0, len(texts), 100)[:block]
    sets = []
    for i, k in enumerate(sizes):
        k = len(pool) if k == 0 else min(k, len(pool))
        ids = np.sort(rng.choice(pool, size=k, replace=False))
        path = f"{out}/q{i:03d}"
        write_documents(f"{path}/documents.parquet", ids, [texts[j] for j in ids])
        sets.append({"dir": path, "n_queries": k, "ids": [int(j) for j in ids]})
    return sets


def split_even_odd(out: str, texts: list[str]) -> str:
    """The even-doc_id half as the base sf_dir of the ingest workload
    (the split the engine's streaming-append oracle fixes)."""
    ids = np.arange(0, len(texts), 2)
    path = f"{out}/base"
    write_documents(f"{path}/documents.parquet", ids, [texts[j] for j in ids])
    return path


def stream_batches(texts: list[str], n_batches: int) -> list[np.ndarray]:
    """The odd-doc_id half cut into n_batches contiguous id ranges."""
    return np.array_split(np.arange(1, len(texts), 2), n_batches)
