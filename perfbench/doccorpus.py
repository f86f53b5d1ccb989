"""Synthetic ``documents`` and ``embeddings`` tables for the ``doc_ops``
workload, in the shape the driver contract's operator leaves read
(``__spark_entry__.queries()``):

- ``documents``: doc_id long, text string, lang string, source string,
  n_chars long;
- ``embeddings``: vec_id long, embedding array<float> (64 dims), label int.

Both tables plant near-duplicate groups (a base row plus edited copies);
``write_tables`` returns each row's planted group for the recall oracle.  The
content comes from ``seed``; ``order_seed`` draws only the row order the
tables are written in, which changes partitioning but not any leaf's rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
LABELS = 10


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 10, size=n)
    return np.array(["".join(rng.choice(letters, size=k)) for k in lengths])


def documents(n: int, seed: int, dup_share: float = 0.3) -> tuple[dict, np.ndarray]:
    """``n`` documents, about ``dup_share`` of them edited copies (1-3 words
    replaced, or the case changed) of an earlier base document."""
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 4000)
    texts, group = [], np.arange(n)
    for i in range(n):
        if i and rng.random() < dup_share:
            base = int(rng.integers(0, i))
            words = texts[base].split()
            if rng.random() < 0.2:
                text = " ".join(words).upper()   # exact dup after normalizing
            else:
                for j in rng.choice(len(words), size=int(rng.integers(1, 4)), replace=False):
                    words[j] = vocab[rng.integers(len(vocab))]
                text = " ".join(words)
            group[i] = group[base]
        else:
            text = " ".join(vocab[rng.integers(len(vocab), size=int(rng.integers(30, 70)))])
        texts.append(text)
    cols = {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr"], size=n),
        "source": np.array([f"src{k}" for k in rng.integers(0, 5, size=n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    return cols, group


def embeddings(n: int, seed: int, dup_share: float = 0.3) -> tuple[dict, np.ndarray]:
    """``n`` unit-ish random vectors in ``LABELS`` blocks, about ``dup_share``
    of them noisy copies (cosine about 0.95) of an earlier vector of the same
    block."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, DIM)).astype(np.float32)
    label = rng.integers(0, LABELS, size=n).astype(np.int32)
    group = np.arange(n)
    for i in range(1, n):
        if rng.random() < dup_share:
            base = int(rng.integers(0, i))
            vecs[i] = vecs[base] + 0.3 * rng.standard_normal(DIM).astype(np.float32)
            label[i], group[i] = label[base], group[base]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs),
            "label": label}, group


def write_tables(data_dir: str, n_docs: int, n_vecs: int, seed: int,
                 order_seed: int) -> dict[str, np.ndarray]:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (one file each,
    rows in an order drawn from ``order_seed``) into ``data_dir``; returns
    each table's planted group per id."""
    os.makedirs(data_dir, exist_ok=True)
    order_rng = np.random.default_rng(order_seed)
    groups = {}
    for name, (cols, group) in (("documents", documents(n_docs, seed)),
                                ("embeddings", embeddings(n_vecs, seed + 1))):
        order = order_rng.permutation(len(group))
        table = pa.table({k: [v[i] for i in order] if isinstance(v, list) else np.asarray(v)[order]
                          for k, v in cols.items()})
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
        groups[name] = group
    return groups
