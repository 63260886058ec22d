"""Seeded input generators.

Every generator is a pure function of its seed and parameters: the same
seed writes byte-identical parquet.  Schemas follow the testdata
fixtures (FIXTURES.md) so the package reads the files through its own
loaders (``tables.*`` and the registry's ``(spark, sf_dir)`` calls).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMB_DIM = 64
N_CLASSES = 10
LANGS = ("en", "de", "zh", "fr", "es")


def mixture(rng: np.random.Generator, n: int, spread: float) -> tuple[np.ndarray, np.ndarray]:
    """``n`` float32 points of a 10-class Gaussian mixture in 64 dims.

    Class centres are N(0, 1) per dimension; points scatter around them
    with standard deviation ``spread``.  Large ``spread`` makes the
    classes overlap, so kNN accuracy stays well below 1 and stage-1
    memberships carry evidence for several classes per point.
    """
    centres = rng.standard_normal((N_CLASSES, EMB_DIM))
    labels = rng.integers(0, N_CLASSES, n).astype(np.int32)
    pts = centres[labels] + spread * rng.standard_normal((n, EMB_DIM))
    return pts.astype(np.float32), labels


def _emb_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each generated table as ``<out_dir>/<name>.parquet``."""
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def embeddings(seed: int, n: int, spread: float) -> tuple[dict, dict]:
    """``embeddings``: vec_id int64, embedding list<float>[64], label
    int32.  Returns the table and the arrays the oracles need."""
    rng = np.random.default_rng([seed, 1])
    vecs, labels = mixture(rng, n, spread)
    ids = np.arange(n, dtype=np.int64)
    return {"embeddings": _emb_table(ids, vecs, labels)}, {"ids": ids, "vecs": vecs, "labels": labels}


def _zipf_probs(vocab: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** s
    return p / p.sum()


def documents(
    seed: int,
    n: int,
    vocab: int,
    zipf_s: float,
    words: tuple[int, int],
    dup_share: float,
    edit_share: float,
) -> tuple[dict, dict]:
    """``documents``: doc_id, text, lang, source, n_chars.

    Text is Zipf(``zipf_s``) word soup over ``vocab`` words of
    ``words`` = [lo, hi) length.  A ``dup_share`` of the documents are
    planted near-duplicates: a copy of an earlier original with an
    ``edit_share`` of its words replaced.  Returns the texts and the
    planted (original, copy) id pairs next to the table.
    """
    rng = np.random.default_rng([seed, 3])
    probs = _zipf_probs(vocab, zipf_s)
    n_dup = int(round(n * dup_share))
    n_orig = n - n_dup
    texts: list[list[int]] = []
    for _ in range(n_orig):
        texts.append(list(rng.choice(vocab, size=int(rng.integers(*words)), p=probs)))
    planted = []
    for j in range(n_dup):
        src = int(rng.integers(0, n_orig))
        toks = list(texts[src])
        n_edit = max(1, int(round(len(toks) * edit_share)))
        for pos in rng.choice(len(toks), size=n_edit, replace=False):
            toks[int(pos)] = int(rng.choice(vocab, p=probs))
        texts.append(toks)
        planted.append((src, n_orig + j))
    # shuffle doc ids so copies are not all at the tail of the id range
    doc_ids = rng.permutation(n).astype(np.int64)
    strs = [" ".join(f"w{t}" for t in toks) for toks in texts]
    tbl = pa.table(
        {
            "doc_id": pa.array(doc_ids, type=pa.int64()),
            "text": pa.array(strs, type=pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)], type=pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], type=pa.string()),
            "n_chars": pa.array([len(s) for s in strs], type=pa.int64()),
        }
    )
    pairs = {tuple(sorted((int(doc_ids[a]), int(doc_ids[b])))) for a, b in planted}
    return {"documents": tbl}, {"doc_ids": doc_ids, "texts": strs, "planted": pairs}


def ranked(seed: int, n: int, mode_share: float) -> tuple[dict, dict]:
    """``ranked``: cnt int64 (Zipfian, a ``mode_share`` of rows
    tie at cnt = 1), tb string tiebreaker, id int64 unique, val int64.
    Ranking order is (cnt desc, tb asc, id asc)."""
    rng = np.random.default_rng([seed, 4])
    tail = np.minimum(rng.zipf(1.3, n), 1_000_000).astype(np.int64) + 1
    cnt = np.where(rng.random(n) < mode_share, 1, tail).astype(np.int64)
    tb_codes = rng.integers(0, 16**8, n)
    tb = np.char.mod("t%08x", tb_codes).astype(object)
    ids = rng.permutation(n).astype(np.int64)
    val = rng.integers(1, 1000, n).astype(np.int64)
    tbl = pa.table(
        {
            "cnt": pa.array(cnt, type=pa.int64()),
            "tb": pa.array(tb, type=pa.string()),
            "id": pa.array(ids, type=pa.int64()),
            "val": pa.array(val, type=pa.int64()),
        }
    )
    return {"ranked": tbl}, {"cnt": cnt, "tb": tb, "id": ids, "val": val}
