"""Seeded inputs, generated once per (seed, size) into the cache dir and
reused by later runs. Generation is outside every timed phase."""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyarrowspace_spark.sources.synth import ensure_clustered_corpus

F_DIM = 384
VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMB_DIM = 64


def corpus(cache_dir: str, n: int, seed: int) -> tuple[str, np.ndarray, np.ndarray]:
    """Clustered F=384 corpus: (parquet path, item ids, features)."""
    path = ensure_clustered_corpus(cache_dir, n=n, f=F_DIM, seed=seed)
    tbl = pq.read_table(path)
    ids = tbl["item_id"].to_numpy()
    X = np.stack(tbl["features"].to_numpy(zero_copy_only=False))
    return path, ids, X


def _write(tbl: pa.Table, path: str) -> None:
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)


def text_tables(cache_dir: str, n_docs: int, n_emb: int, seed: int) -> str:
    """A directory holding `documents.parquet` and `embeddings.parquet`
    in the test-data schema: random-word documents over a 30-word
    vocabulary with ~5% near duplicates (a copy plus " dup") and a few
    exact duplicates, and unit-norm float32 embeddings."""
    d = os.path.join(cache_dir, f"text_d{n_docs}_e{n_emb}_seed{seed}")
    if os.path.exists(os.path.join(d, "embeddings.parquet")):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.integers(i)] + " dup")
        elif i > 0 and r < 0.055:
            texts.append(texts[rng.integers(i)])
        else:
            words = rng.choice(len(VOCAB), size=rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), os.path.join(d, "documents.parquet"))
    E = rng.standard_normal((n_emb, EMB_DIM))
    E = (E / np.linalg.norm(E, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(E), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), type=pa.int32()),
    }), os.path.join(d, "embeddings.parquet"))
    return d
