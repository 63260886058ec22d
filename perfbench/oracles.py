"""Harness-side reference answers, computed outside the timed region.

Each oracle is an independent re-implementation in numpy / pandas /
plain Python of what the package computes, so a disagreement counts
as a failed operation.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

EPS = 1e-12  # operators.fknn's guard on 1/d² for duplicate points
TAU = 0.5  # queries.llm near-dup Jaccard threshold


def knn_indices(q: np.ndarray, c: np.ndarray, c_ids: np.ndarray, k: int, q_ids=None) -> tuple[np.ndarray, np.ndarray]:
    """Exact kNN of every row of ``q`` among ``c`` (float64 Euclidean),
    ties by (dist, candidate id).  With ``q_ids`` given, a candidate
    with the query's own id is excluded (leave-one-out).  Queries go
    in blocks so the distance matrix stays small."""
    c = c.astype(np.float64)
    cc = (c * c).sum(1)
    take = min(c.shape[0], 2 * k + 8)
    idx = np.empty((q.shape[0], k), dtype=np.int64)
    dist = np.empty((q.shape[0], k))
    for lo in range(0, q.shape[0], 1024):
        qb = q[lo : lo + 1024].astype(np.float64)
        d = np.sqrt(np.maximum((qb * qb).sum(1)[:, None] + cc[None, :] - 2.0 * (qb @ c.T), 0.0))
        if q_ids is not None:
            d[q_ids[lo : lo + 1024, None] == c_ids[None, :]] = np.inf
        part = np.argpartition(d, take - 1, axis=1)[:, :take]
        for i in range(qb.shape[0]):
            cols = part[i]
            best = cols[np.lexsort((c_ids[cols], d[i, cols]))[:k]]
            idx[lo + i] = best
            dist[lo + i] = d[i, best]
    return idx, dist


def fknn(train_ids, train_x, train_y, test_ids, test_x, test_y, k: int) -> tuple[pd.DataFrame, int]:
    """Two-stage Keller Fuzzy kNN (m = 2): leave-one-out memberships
    on the training set, then 1/d²-weighted membership votes.  Also
    returns the row count of the sparse membership table."""
    n_cls = int(train_y.max()) + 1
    idx1, _ = knn_indices(train_x, train_x, train_ids, k, q_ids=train_ids)
    cnt = np.zeros((len(train_ids), n_cls))
    np.add.at(cnt, (np.repeat(np.arange(len(train_ids)), k), train_y[idx1].ravel()), 1)
    u = 0.49 * cnt / k
    u[np.arange(len(train_ids)), train_y] += 0.51
    idx2, d = knn_indices(test_x, train_x, train_ids, k)
    w = 1.0 / np.maximum(d * d, EPS)
    score = (w[:, :, None] * u[idx2]).sum(1) / w.sum(1)[:, None]
    pred = score.argmax(1)
    out = pd.DataFrame(
        {
            "vec_id": test_ids,
            "label": test_y,
            "pred": pred,
            "conf": score[np.arange(len(test_ids)), pred],
        }
    )
    return out, int((u > 0).sum())


def fknn_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Rows whose ``pred`` differs, or whose ``conf`` differs from the
    oracle by more than 6-dp rounding plus BLAS ulp drift."""
    m = want.merge(got, on="vec_id", how="outer", suffixes=("", "_got"), indicator=True)
    bad = (m["_merge"] != "both").sum()
    both = m[m["_merge"] == "both"]
    bad += int((both["pred"] != both["pred_got"]).sum())
    bad += int((np.abs(both["conf"] - both["conf_got"]) > 5e-7 + 1e-9).sum())
    return int(bad)


def shingles(text: str) -> frozenset:
    w = text.split(" ")
    return frozenset(" ".join(w[i : i + 3]) for i in range(len(w) - 2))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def near_dup_pairs(doc_ids, texts) -> tuple[dict, dict]:
    """Exact 3-shingle Jaccard >= TAU pairs via an inverted index.
    Returns ({(i, j): jaccard}, {doc_id: shingle set})."""
    sh = {int(d): shingles(t) for d, t in zip(doc_ids, texts)}
    index = defaultdict(list)
    for d, s in sh.items():
        for g in s:
            index[g].append(d)
    cand = set()
    for docs in index.values():
        docs.sort()
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                cand.add((docs[a], docs[b]))
    pairs = {}
    for i, j in cand:
        jac = jaccard(sh[i], sh[j])
        if jac >= TAU:
            pairs[(i, j)] = jac
    return pairs, sh


def survivors(doc_ids, pairs) -> pd.DataFrame:
    """Union-find components; every doc labelled with its component's
    minimum doc id, kept iff it is that minimum."""
    parent = {int(d): int(d) for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in pairs:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    ids = np.array(sorted(parent), dtype=np.int64)
    cl = np.array([find(int(d)) for d in ids], dtype=np.int64)
    return pd.DataFrame({"doc_id": ids, "cluster_id": cl, "kept": (cl == ids).astype(np.int32)})


def rank(cnt, tb, ids, val) -> pd.DataFrame:
    """Exact rank and inclusive running sum over (cnt desc, tb asc, id asc)."""
    df = pd.DataFrame({"cnt": cnt, "tb": tb, "id": ids, "val": val})
    df = df.sort_values(["cnt", "tb", "id"], ascending=[False, True, True], kind="mergesort")
    return pd.DataFrame(
        {
            "id": df["id"].to_numpy(),
            "rank": np.arange(1, len(df) + 1, dtype=np.int64),
            "rsum": df["val"].cumsum().to_numpy(),
        }
    )
