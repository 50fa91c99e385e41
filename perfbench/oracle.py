"""Driver-side reference answers, computed with numpy / plain Python from the
same generated inputs the program receives. Nothing here imports the package
under test: each formula is an independent re-derivation of what the
operator must return."""

from __future__ import annotations

import hashlib
import zlib

import numpy as np


# ------------------------------------------------------------------ spatial
def holed_diamonds_hit_rect(cx, cy, r, rect) -> np.ndarray:
    """Diamond |x-cx|+|y-cy| <= r with the open hole |x-cx|+|y-cy| < r/2
    removed. It meets the rectangle unless the rectangle is out of the
    shell's reach or lies strictly inside the hole."""
    x0, y0, x1, y1 = rect
    ddx = np.maximum.reduce([x0 - cx, np.zeros_like(cx), cx - x1])
    ddy = np.maximum.reduce([y0 - cy, np.zeros_like(cy), cy - y1])
    reach = ddx + ddy <= r
    far = np.maximum.reduce(
        [np.abs(px - cx) + np.abs(py - cy) for px in (x0, x1) for py in (y0, y1)]
    )
    return reach & ~(far < r / 2)


def candidate_pairs(ax, ay, bx, by, cell: float):
    """Index pairs (i, j) with a[i] and b[j] in the same or adjacent square
    cells of side ``cell``; complete for any interaction distance <= cell."""
    ka, la = np.floor(ax / cell).astype(np.int64), np.floor(ay / cell).astype(np.int64)
    kb, lb = np.floor(bx / cell).astype(np.int64), np.floor(by / cell).astype(np.int64)
    m = 1 << 30
    keys = kb * m + lb
    order = np.argsort(keys, kind="stable")
    skeys = keys[order]
    out_i, out_j = [], []
    for dk in (-1, 0, 1):
        for dl in (-1, 0, 1):
            q = (ka + dk) * m + (la + dl)
            lo = np.searchsorted(skeys, q, "left")
            hi = np.searchsorted(skeys, q, "right")
            n = hi - lo
            total = int(n.sum())
            if total == 0:
                continue
            i = np.repeat(np.arange(len(ax)), n)
            within = np.arange(total) - np.repeat(np.cumsum(n) - n, n)
            out_i.append(i)
            out_j.append(order[np.repeat(lo, n) + within])
    if not out_i:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(out_i), np.concatenate(out_j)


def pair_keys(a_ids, b_ids) -> np.ndarray:
    """Sorted int64 encoding of (a, b) id pairs, for exact set comparison."""
    a = np.asarray(a_ids, dtype=np.int64)
    b = np.asarray(b_ids, dtype=np.int64)
    return np.sort(a * (1 << 32) + b)


def points_in_diamonds(px, py, pid, cx, cy, r, did, cell: float) -> np.ndarray:
    i, j = candidate_pairs(px, py, cx, cy, cell)
    hit = np.abs(px[i] - cx[j]) + np.abs(py[i] - cy[j]) <= r[j]
    return pair_keys(pid[i[hit]], did[j[hit]])


def pairs_within(qx, qy, qid, px, py, pid, radius: float) -> np.ndarray:
    i, j = candidate_pairs(qx, qy, px, py, radius)
    d2 = (qx[i] - px[j]) ** 2 + (qy[i] - py[j]) ** 2
    hit = d2 <= radius * radius
    return pair_keys(qid[i[hit]], pid[j[hit]])


def knn_brute(qx, qy, px, py, k: int):
    """(ranked neighbour indices, their squared distances) per query."""
    d2 = (qx[:, None] - px[None, :]) ** 2 + (qy[:, None] - py[None, :]) ** 2
    part = np.argpartition(d2, k - 1, axis=1)[:, :k]
    pd2 = np.take_along_axis(d2, part, axis=1)
    o = np.argsort(pd2, axis=1)
    return np.take_along_axis(part, o, axis=1), np.take_along_axis(pd2, o, axis=1)


# ------------------------------------------------------------------- text
def crc32(s: str) -> int:
    return zlib.crc32(s.encode("utf-8"))


def shingles(words: list[str], n: int) -> set[str]:
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def span_removal(docs: list[list[str]], window: int, min_count: int):
    """Fixed-window exact span dedup, keep='none': per document the number
    of surviving windows and the surviving text."""
    spans = [
        [" ".join(w[i : i + window]) for i in range(0, len(w), window)] for w in docs
    ]
    counts: dict[bytes, int] = {}
    for ss in spans:
        for s in ss:
            h = hashlib.md5(s.encode()).digest()
            counts[h] = counts.get(h, 0) + 1
    out = []
    for ss in spans:
        kept = [s for s in ss if counts[hashlib.md5(s.encode()).digest()] < min_count]
        out.append((len(kept), " ".join(kept)))
    return out


def bpe_train(word_counts: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    """Greedy BPE training: repeatedly merge the most frequent adjacent
    symbol pair (ties to the larger pair). Produces the merge list the
    curate workload hands to the encoder."""
    words = {tuple(w) + ("</w>",): c for w, c in word_counts.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in words.items():
            for p in zip(syms, syms[1:]):
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best = max(pairs, key=lambda p: (pairs[p], p))
        merges.append(best)
        words = {tuple(_merge(list(syms), best)): c for syms, c in words.items()}
    return merges


def _merge(syms: list[str], pair: tuple[str, str]) -> list[str]:
    a, b = pair
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_segment(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Textbook BPE application: repeatedly merge every occurrence of the
    highest-priority pair present until no listed pair remains."""
    rank = {tuple(m): i for i, m in enumerate(merges)}
    syms = list(word) + ["</w>"]
    while True:
        present = {p for p in zip(syms, syms[1:]) if p in rank}
        if not present:
            return syms
        syms = _merge(syms, min(present, key=rank.__getitem__))
