"""Seeded input tables for the ``text_dedup`` workload.

Writes the two tables its registry queries read, ``documents`` and
``embeddings`` (one parquet file each, the schemas of the engine's
shipped test data), plus the SemDeDup embedding corpus. Every column
is drawn from one ``numpy`` generator seeded by the workload seed, so
the same seed writes the same files. Value domains follow that test
data, and about 5% of the documents are near-duplicates (an earlier
text plus ``' dup'``) so the dedup queries have work to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("documents", "embeddings")
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.array(values)[rng.choice(len(values), n, p=p)])


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """``TABLES`` at scale factor ``sf`` (``documents`` has
    ``50_000 * sf`` rows, as in the shipped test data)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0.0, 1.0, (10, 64))[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def write_semdedup_corpus(path: str, seed: int, rows: int, dim: int = 16) -> None:
    """``rows`` vectors of ``dim`` uniform floats (the bench.py SemDeDup
    corpus shape), columns ``vec_id`` and ``embedding``."""
    rng = np.random.default_rng(seed + 1)
    vecs = rng.random((rows, dim), dtype=np.float64)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(rows), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), dim).cast(pa.list_(pa.float64())),
    }), path)
