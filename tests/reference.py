"""Brute-force references for the pair and fingerprint kernels.

Plain numpy / Python over collected rows, written for clarity rather
than speed: every pair is enumerated, every gram hashed. Tests compare
the Spark operators against these on small inputs. Rounding follows
Spark ``round`` / DuckDB ``ROUND``: half away from zero on the
double's shortest decimal form.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def round_half_up(x: float, places: int = 6) -> float:
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def cosines(vecs) -> np.ndarray:
    """All-pairs cosine matrix, each entry rounded half-up to 6 dp."""
    v = np.asarray(vecs, dtype=np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    raw = (v @ v.T) / np.outer(norms, norms)
    return np.vectorize(round_half_up, otypes=[np.float64])(raw)


def _same_block(ka, kb, hamming: int | None) -> bool:
    if ka is None or kb is None:
        return False
    if hamming is None:
        return ka == kb
    return bin(ka ^ kb).count("1") <= hamming


def cosine_pairs(ids, vecs, threshold, keys=None, hamming=None) -> set:
    """``{(id_a, id_b, cosine)}`` for every ``id_a < id_b`` pair whose
    rounded cosine is ``>= threshold``. With ``keys``, only pairs with
    equal keys qualify (a None key pairs with nothing); with
    ``hamming`` as well, integer keys at most that many bits apart."""
    c = cosines(vecs)
    keys = [0] * len(ids) if keys is None else keys
    return {
        (ids[i], ids[j], float(c[i, j]))
        for i in range(len(ids))
        for j in range(len(ids))
        if ids[i] < ids[j]
        and c[i, j] >= threshold
        and _same_block(keys[i], keys[j], hamming)
    }


def cosine_topk(ids, vecs, k, keys=None) -> dict:
    """``{id: [neighbor ids]}``: each row's ``k`` nearest other rows
    with the same key, by (rounded cosine desc, id asc). Rows with no
    candidate are absent."""
    c = cosines(vecs)
    keys = [0] * len(ids) if keys is None else keys
    out = {}
    for i in range(len(ids)):
        cand = [j for j in range(len(ids)) if j != i and keys[j] == keys[i]]
        cand.sort(key=lambda j: (-c[i, j], ids[j]))
        if cand:
            out[ids[i]] = [ids[j] for j in cand[:k]]
    return out


def knn_label_agreement(ids, vecs, labels, k, keys) -> set:
    """``{(id, label, n_nbrs, n_same, agree_ppm)}`` over the
    :func:`cosine_topk` neighborhoods."""
    lab = dict(zip(ids, labels))
    out = set()
    for i, nbrs in cosine_topk(ids, vecs, k, keys).items():
        same = sum(lab[j] == lab[i] for j in nbrs)
        out.add((i, lab[i], len(nbrs), same, same * 1_000_000 // len(nbrs)))
    return out


def winnow(rows, k: int, window: int) -> set:
    """``{(id, fp, pos)}``: md5[:10] of every ``k``-char gram packed as
    ``hash * 2^20 + pos``, the minimum of each ``window``-wide run of
    grams (one run when a doc has fewer grams), distinct per doc."""
    out = set()
    for doc_id, text in rows:
        m = len(text or "") - k + 1
        if m <= 0:
            continue
        packed = [
            int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:10], 16) * (1 << 20) + i
            for i in range(m)
        ]
        for s in range(max(m - window + 1, 1)):
            w = min(packed[s : s + window])
            out.add((doc_id, w >> 20, w & ((1 << 20) - 1)))
    return out


def _wedges(edges, max_degree):
    adj: dict = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    shared: dict = {}
    for m, nbrs in adj.items():
        if max_degree is not None and len(nbrs) > max_degree:
            continue
        for a in nbrs:
            for b in nbrs:
                if a < b and b not in adj[a]:
                    shared.setdefault((a, b), []).append(m)
    return adj, shared


def common_neighbors(edges, min_common=2, max_degree=None) -> set:
    """``{(id_a, id_b, common, jaccard)}`` for non-adjacent pairs at
    distance 2; Jaccard uses full degrees."""
    adj, shared = _wedges(edges, max_degree)
    return {
        (a, b, len(ms), round_half_up(len(ms) / (len(adj[a]) + len(adj[b]) - len(ms))))
        for (a, b), ms in shared.items()
        if len(ms) >= min_common
    }


def adamic_adar(edges, min_score_micro=1, max_degree=None) -> set:
    """``{(id_a, id_b, aa_micro)}``: Σ round(10⁶ / ln deg(m)) over the
    shared neighbors m of each non-adjacent pair."""
    adj, shared = _wedges(edges, max_degree)
    out = set()
    for (a, b), ms in shared.items():
        score = sum(int(round_half_up(1_000_000 / math.log(len(adj[m])), 0)) for m in ms)
        if score >= min_score_micro:
            out.add((a, b, score))
    return out
