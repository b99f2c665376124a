"""Seeded input generator for the benchmark workloads.

Every table is drawn from ``numpy.random.Generator(PCG64)`` streams derived
from the workload seed, and written with pyarrow under fixed writer
settings, so the same seed gives byte-identical parquet files. The program
under test only ever sees these files, through the same ``sf_dir`` layout
as the synthetic test tables of ``TESTDATA.md`` (one ``<table>.parquet`` per table, the
schemas of ``catalog.SCHEMAS``).

Shapes follow that corpus; the sizes are scaled so a warm pass of each
workload fits the benchmark's run budget (see ``BENCHMARK.json`` and
``LAYERS.md``).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Vocabulary of the synthetic corpus (the sf0.1 test documents use the same
#: small-vocabulary shape, which keeps shingle statistics comparable).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]
N_SOURCES = 20
EMB_DIM = 64


@dataclass(frozen=True)
class Inputs:
    """Where a workload's generated inputs live and how they hash."""

    sf_dir: str
    sha256: str
    rows: dict[str, int]


def _rng(seed: int, stream: str) -> np.random.Generator:
    # One independent stream per table, keyed by name, so adding a table
    # never shifts the draws of another.
    key = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, key])))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table,
        path,
        compression="snappy",
        row_group_size=1 << 20,
        use_dictionary=True,
        write_statistics=True,
    )


def _doc_text(rng: np.random.Generator, n_words: int) -> list[str]:
    return list(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)])


def corpus_texts(
    seed: int, n_docs: int, exact_share: float, chain_share: float, chain_len: int
) -> list[str]:
    """``n_docs`` synthetic texts in doc_id order.

    ``exact_share`` of the docs repeat an earlier doc's text verbatim and
    ``chain_share`` sit in near-duplicate chains of exactly ``chain_len``
    docs, each one a single-word edit of its predecessor (so neighbours
    share most shingles and the chain's diameter is ``chain_len - 1``).
    The shares and the chain length are fixed; the seed decides which
    docs, which words and which edits.
    """
    r = _rng(seed, "corpus")
    kind = np.zeros(n_docs, np.int8)  # 0 fresh, 1 chain member, 2 exact copy
    n_chain = int(n_docs * chain_share) // chain_len
    slots = r.permutation(n_docs)
    kind[slots[n_chain : n_chain + int(n_docs * exact_share)]] = 2
    texts: list[list[str] | None] = [None] * n_docs
    for s in np.sort(slots[:n_chain]):
        # chain members: the next free doc_ids from the start on
        members, j = [], int(s)
        while len(members) < chain_len and j < n_docs:
            if kind[j] == 0:
                members.append(j)
                kind[j] = 1
            j += 1
        words = _doc_text(r, int(r.integers(30, 90)))
        for m in members:
            texts[m] = list(words)
            pos = int(r.integers(0, len(words)))
            words = list(words)
            words[pos] = VOCAB[int(r.integers(0, len(VOCAB)))] + "x"
    for i in range(n_docs):
        if kind[i] == 0:
            texts[i] = _doc_text(r, int(r.integers(10, 101)))
    for i in range(n_docs):
        if kind[i] == 2:
            earlier = [j for j in range(max(0, i - 400), i) if texts[j] is not None]
            src = earlier[int(r.integers(0, len(earlier)))] if earlier else None
            texts[i] = texts[src] if src is not None else _doc_text(r, int(r.integers(10, 101)))
    return [" ".join(t) for t in texts]


def documents_table(seed: int, texts: list[str]) -> pa.Table:
    """``texts`` as the documents table, doc_id in list order."""
    r = _rng(seed, "documents")
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
            "source": np.char.add("src", r.integers(0, N_SOURCES, n).astype(str)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int, near_share: float) -> pa.Table:
    """Unit-scale 64-d float vectors; ``near_share`` of them are tiny
    perturbations of an earlier vector (semantic near-duplicates)."""
    r = _rng(seed, "embeddings")
    vec = r.normal(0.0, 0.12, (n, EMB_DIM)).astype(np.float32)
    near = np.sort(r.choice(np.arange(1, n), int(n * near_share), replace=False))
    for i in near:
        j = int(r.integers(0, i))
        vec[i] = vec[j] + r.normal(0.0, 0.002, EMB_DIM).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n), pa.int32()),
        }
    )


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> Inputs:
    """Write ``tables`` as ``<sf_dir>/<name>.parquet`` and hash the bytes."""
    os.makedirs(sf_dir, exist_ok=True)
    h = hashlib.sha256()
    for name in sorted(tables):
        path = os.path.join(sf_dir, f"{name}.parquet")
        _write(tables[name], path)
        with open(path, "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return Inputs(sf_dir, h.hexdigest(), {k: v.num_rows for k, v in tables.items()})


def stream_texts(
    seed: int, n_batches: int, batch_docs: int, recur_share: float
) -> tuple[list[str], list[tuple[int, int]]]:
    """Texts of a document stream in doc_id order, plus each micro-batch's
    [lo, hi) doc range. From the second batch on, ``recur_share`` of a
    batch's docs repeat the text of a doc from an earlier batch."""
    r = _rng(seed, "stream")
    n = n_batches * batch_docs
    lens = r.integers(10, 101, n)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends.tolist(), lens.tolist())]
    bounds = [(b * batch_docs, (b + 1) * batch_docs) for b in range(n_batches)]
    for lo, hi in bounds[1:]:
        picks = r.choice(batch_docs, int(batch_docs * recur_share), replace=False)
        for i, src in zip((lo + picks).tolist(), r.integers(0, lo, len(picks)).tolist()):
            texts[i] = texts[src]
    return texts, bounds


def combined_hash(parts: list[Inputs]) -> str:
    return hashlib.sha256("".join(p.sha256 for p in parts).encode()).hexdigest()
