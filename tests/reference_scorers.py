"""Per-doc and per-pivot reference implementations that the vectorized
index kernels in ``ee_outliers_spark.index.query`` are checked against."""

from __future__ import annotations

import heapq
from collections import Counter

import numpy as np


def sloppy_tf(plists: dict, phrase_terms: list[str], doc: int,
              slop: int) -> int:
    """Sloppy-phrase frequency for one doc: the number of window starts v
    (v ∈ adjusted positions, adjusted = position - phrase offset) such that
    every phrase offset can claim a DISTINCT doc position within
    [v, v+slop]. At slop=0 this is exactly the exact-phrase tf. Matches the
    range formulation compiled by the regex backends (queryparser
    slop_regex), extended to any phrase length. ``plists``: term → (docs,
    flat positions, per-doc bounds), as ``query._phrase_seg_match`` takes
    them."""
    adj: list[np.ndarray] = []
    for j, t in enumerate(phrase_terms):
        docs, flat, bounds = plists[t]
        i = int(np.searchsorted(docs, doc))
        lo = int(bounds[i - 1]) if i > 0 else 0
        p = flat[lo:int(bounds[i])] - j
        if p.size == 0:
            return 0
        adj.append(p)
    cand = np.unique(np.concatenate(adj))
    ok = np.ones(cand.size, dtype=bool)
    for a in adj:
        # label j covers v iff some element of a lies in [v, v+slop]
        idx = np.searchsorted(a, cand, side="left")
        has = idx < a.size
        has[has] &= a[idx[has]] <= cand[has] + slop
        ok &= has
    cand = cand[ok]
    # repeated phrase terms: the same doc position must not serve two
    # offsets — greedy interval assignment per term (sorted offsets take
    # the smallest unused position in their window)
    counts = Counter(phrase_terms)
    if all(c == 1 for c in counts.values()):
        return int(cand.size)
    offsets: dict[str, list[int]] = {}
    for j, t in enumerate(phrase_terms):
        offsets.setdefault(t, []).append(j)
    tf = 0
    for v in cand.tolist():
        good = True
        for t, offs in offsets.items():
            if len(offs) == 1:
                continue
            docs, flat, bounds = plists[t]
            i = int(np.searchsorted(docs, doc))
            lo = int(bounds[i - 1]) if i > 0 else 0
            pos = flat[lo:int(bounds[i])]
            used = -1
            for o in offs:  # offsets ascending; windows shift right with o
                w = pos[(pos >= max(v + o, used + 1)) & (pos <= v + slop + o)]
                if w.size == 0:
                    good = False
                    break
                used = int(w[0])
            if not good:
                break
        if good:
            tf += 1
    return tf


def wand_segment(
    cursors: list, k: int, avgdl: float, mode: str
) -> list[tuple[int, float]]:
    """Document-at-a-time WAND with block-max refinement over one segment
    of ``query._TermCursor``s: the differential reference for the
    vectorized paths (``_single_term_segment`` / ``_and_segment`` /
    ``_or_segment``) — the per-pivot Python loop is exact but
    interpreter-bound on big segments."""
    heap: list[tuple[float, int]] = []  # (score, -doc) min-heap of size k
    theta = 0.0
    n_req = len(cursors) if mode == "and" else 1
    live = [c for c in cursors if c.cur_doc() is not None]
    while len(live) >= n_req:
        live.sort(key=lambda c: c.cur_doc())
        # find pivot: smallest prefix whose Σ max_score ≥ θ (and ≥ n_req terms)
        acc = 0.0
        pivot_i = None
        for i, c in enumerate(live):
            acc += c.max_score
            if i + 1 >= n_req and acc >= theta:
                pivot_i = i
                break
        if pivot_i is None:
            break
        pivot_doc = live[pivot_i].cur_doc()
        if mode == "and":
            pivot_doc = live[-1].cur_doc()  # conjunction: align on max
            pivot_i = len(live) - 1
        if all(live[i].cur_doc() == pivot_doc for i in range(pivot_i + 1)):
            # extend the pivot over ties: cursors beyond pivot_i whose current
            # doc IS pivot_doc contribute to the real score, so they must be
            # inside the block-max upper bound too (PISA block_max_wand does
            # the same) — otherwise ub underestimates and full docs get
            # skipped once the heap is full
            while (pivot_i + 1 < len(live)
                   and live[pivot_i + 1].cur_doc() == pivot_doc):
                pivot_i += 1
            # block-max check: refine the upper bound with block maxima
            ub = sum(c.block_ub() for c in live[: pivot_i + 1])
            full_eval = ub >= theta or len(heap) < k
            if full_eval:
                score = 0.0
                matched = 0
                for c in live:
                    if c.cur_doc() == pivot_doc:
                        score += c.score_cur(avgdl)
                        matched += 1
                if matched >= n_req:
                    # rank order: score desc, doc asc → heap key (score, -doc)
                    item = (score, -int(pivot_doc))
                    if len(heap) < k:
                        heapq.heappush(heap, item)
                    elif item > heap[0]:
                        heapq.heapreplace(heap, item)
                    if len(heap) == k:
                        theta = heap[0][0]
            for c in live:
                if c.cur_doc() == pivot_doc:
                    c.pos += 1
        else:
            # advance all pre-pivot cursors to the pivot doc (skip via blocks)
            for c in live[:pivot_i]:
                c.seek(pivot_doc)
        live = [c for c in live if c.cur_doc() is not None]
        if mode == "and" and len(live) < len(cursors):
            break
    out = [(-d, s) for s, d in heap]
    out.sort(key=lambda x: (-x[1], x[0]))
    return out
