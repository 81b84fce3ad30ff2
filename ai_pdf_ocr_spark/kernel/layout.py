"""Per-page reading-order kernel: merge -> cluster-sort -> interleave ->
renumber -> dedupe -> sink filters.

Transcription of the reference's ``text_block_sorter.py``,
``data_structures.py:136-176`` and ``pdf_processor.py:148-150,244-246``
in two steps; this is the only module that holds the overlap math:

- ``page_candidates`` evaluates the O(n^2) J3 merge and J2 dedupe
  PREDICATES (pure float math) for every (i<j) pair of every page of
  an Arrow batch as flat numpy arrays, in chunks of at most
  ``PAIR_BUDGET`` pairs;
- ``process_page_fast`` runs the order-DEPENDENT greedy state machines
  (merge used-state, column/row cluster membership against each
  group's seed — not expressible as a window function, SURVEY.md
  §2.5 — and removed-at-visit-time dedupe) as Python loops over those
  candidate pairs, recomputing only the pairs around merged blocks.

Float parity notes: every arithmetic expression keeps the reference's
operand order ((right-left)*(bottom-top))/smaller etc.), all math is
IEEE float64, and group-confidence means use sequential Python
summation to match ``sum()/len()`` at
/root/reference/text_block_sorter.py:232.
"""

from __future__ import annotations

from operator import itemgetter

import numpy as np
import pandas as pd

_KEY_X0 = itemgetter(0)
_KEY_Y0 = itemgetter(1)

DPI = 200
PT_SCALE = 72.0 / DPI
MERGE_THRESHOLD = 0.5   # /root/reference/text_block_sorter.py:178
REMOVE_THRESHOLD = 0.6  # /root/reference/data_structures.py:136

# most (i<j) pairs whose predicates are evaluated at once: bounds the
# flat pair arrays whatever the page size (a 4,000-span page alone has
# 8M pairs)
PAIR_BUDGET = 1 << 18

# full upper triangles of small pages, reused across batches; capped
# at PAIR_BUDGET/16 pairs (pages up to ~180 spans, ~16 MB worst case)
# so a long-lived worker does not keep one big triangle per page size
_TRI_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def _tri(n: int, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
    """Local (i, j) pairs, i<j, of rows [lo, hi) of an n-span page's
    upper triangle, row-major: the same (i asc, j asc) visit order as
    the reference's nested loops."""
    full = lo == 0 and hi == n - 1
    got = _TRI_CACHE.get(n) if full else None
    if got is None:
        rows = np.arange(lo, hi)
        lens = n - 1 - rows
        ti = np.repeat(rows, lens)
        tj = np.arange(len(ti)) - np.repeat(np.cumsum(lens) - lens - rows - 1,
                                            lens)
        got = ti, tj
        if full and len(ti) <= PAIR_BUDGET >> 4:
            _TRI_CACHE[n] = got
    return got


def _chunks(sizes):
    """Pack the pair triangles of pages ``sizes`` into chunks of at most
    PAIR_BUDGET pairs; yields lists of (page, lo, hi, pairs) pieces.

    A page whose triangle alone exceeds the budget is split into row
    blocks [lo, hi) (at least one row each); blocks and pages come in
    ascending order, so each page's pairs keep their visit order
    across chunks."""
    chunk, acc = [], 0
    for g, n in enumerate(sizes.tolist()):
        if n < 2:
            continue
        total = n * (n - 1) // 2
        if total <= PAIR_BUDGET:
            pieces = [(g, 0, n - 1, total)]
        else:
            pieces, lo, block = [], 0, 0
            for r in range(n - 1):
                if block and block + n - 1 - r > PAIR_BUDGET:
                    pieces.append((g, lo, r, block))
                    lo, block = r, 0
                block += n - 1 - r
            pieces.append((g, lo, n - 1, block))
        for piece in pieces:
            if acc and acc + piece[3] > PAIR_BUDGET:
                yield chunk
                chunk, acc = [], 0
            chunk.append(piece)
            acc += piece[3]
    if chunk:
        yield chunk


def _extend(out, hits, firsts, seconds, pair_off, pages):
    """Append (firsts[k], seconds[k]) for every hit to the list of the
    page its pair belongs to.  ``hits`` ascend, so one searchsorted +
    cut yields each page's run, and the pairs are built by zip in C
    (a per-pair dict-append loop was the top batch-stage cost)."""
    if not len(hits):
        return
    gs = np.searchsorted(pair_off, hits, side="right") - 1
    cut = np.nonzero(np.diff(gs))[0] + 1
    bounds = np.concatenate(([0], cut, [len(hits)])).tolist()
    f, s = firsts.tolist(), seconds.tolist()
    for a, b, gg in zip(bounds, bounds[1:], gs[bounds[:-1]].tolist()):
        # extend, never assign: a page's pairs may span two chunks
        out.setdefault(pages[gg], []).extend(zip(f[a:b], s[a:b]))


def page_candidates(starts, sizes, x0, y0, x1, y1, kind, direction):
    """Batched J3 merge and J2 dedupe candidates for every page.

    Page g is the slice [starts[g], starts[g] + sizes[g]) of the flat
    per-span arrays, in arrival order.  Returns (merge, dedupe): dicts
    page -> list of pairs, pages without candidates absent.

    - merge: LOCAL (i, j), i<j, passing the J3 predicate (text-only,
      same direction, overlap/smaller-area >= MERGE_THRESHOLD, the
      reference's text_block_sorter.py:161-178), in (i asc, j asc)
      order.
    - dedupe: batch-global (small, large) with own-ratio >=
      REMOVE_THRESHOLD and strictly smaller area (the reference's
      data_structures.py:41-61,136-176), valid only while the merge
      stage leaves both blocks untouched."""
    merge: dict[int, list[tuple[int, int]]] = {}
    dedupe: dict[int, list[tuple[int, int]]] = {}
    area = (x1 - x0) * (y1 - y0)
    is_text = kind == "text"
    dcode = pd.factorize(direction)[0]
    for chunk in _chunks(sizes):
        pages = [g for g, *_ in chunk]
        n_pairs = [p for *_, p in chunk]
        tris = [_tri(int(sizes[g]), lo, hi) for g, lo, hi, _ in chunk]
        LI = np.concatenate([ti for ti, _ in tris])
        LJ = np.concatenate([tj for _, tj in tris])
        base = np.repeat(starts[pages], n_pairs)
        PI = LI + base
        PJ = LJ + base
        pair_off = np.concatenate(([0], np.cumsum(n_pairs)))

        il = np.maximum(x0[PI], x0[PJ]); it = np.maximum(y0[PI], y0[PJ])
        ir = np.minimum(x1[PI], x1[PJ]); ib = np.minimum(y1[PI], y1[PJ])
        strict = (il < ir) & (it < ib)
        inter = (ir - il) * (ib - it)
        ai = area[PI]; aj = area[PJ]
        smaller = np.minimum(ai, aj)
        with np.errstate(divide="ignore", invalid="ignore"):
            ratio_sm = np.where(strict & (smaller > 0), inter / smaller, 0.0)
            own_i = np.where(strict & (ai != 0), inter / ai, 0.0)
            own_j = np.where(strict & (aj != 0), inter / aj, 0.0)
        mg = np.nonzero((ratio_sm >= MERGE_THRESHOLD) & is_text[PI]
                        & is_text[PJ] & (dcode[PI] == dcode[PJ]))[0]
        _extend(merge, mg, LI[mg], LJ[mg], pair_off, pages)
        dd_ij = (own_i >= REMOVE_THRESHOLD) & (ai < aj)
        dd_ji = (own_j >= REMOVE_THRESHOLD) & (aj < ai)
        dd = np.nonzero(dd_ij | dd_ji)[0]
        fwd = dd_ij[dd]
        _extend(dedupe, dd, np.where(fwd, PI[dd], PJ[dd]),
                np.where(fwd, PJ[dd], PI[dd]), pair_off, pages)
    return merge, dedupe


def process_page_fast(blocks, merge_cands, dd_cands):
    """Run the full page pipeline over one page of any size,
    candidate-driven: the greedy state machines walk the pairs that
    ``page_candidates`` found instead of an O(n^2) rescan.

    Bit-parity with the oracle: identical IEEE doubles, identical
    expression order, CPython's stable list.sort.

    ``blocks``: list of 10-tuples (x0, y0, x1, y1, conf, direction,
    kind, text, media_ref, gidx) in arrival order — pre-zipped ONCE per
    Arrow batch by extract.py (one list slice per page instead of nine).
    ``gidx`` is the batch-global span index; merged blocks get fresh
    negative ids.

    ``merge_cands``: merge-candidate pairs (i<j LOCAL indices passing
    the J3 predicate, from ``page_candidates``) or None when the
    page has none.  The greedy used-state semantics equal the reference
    nested loop because candidates arrive in the same (i asc, j asc)
    visit order.

    ``dd_cands``: duplicate-removal candidate pairs (small_gidx,
    large_gidx with own-ratio >= REMOVE_THRESHOLD and strictly smaller
    area, from ``page_candidates``).  Valid for blocks whose geometry the merge
    stage did not touch; pairs involving post-merge geometry are
    recomputed here — O(n_merged * k) instead of O(k^2) (round-2 perf:
    the full dedupe rescan was ~30%% of the kernel on merge-bearing
    pages, which the planted dup-pair degeneracies make ~37%% of all
    pages)."""
    n = len(blocks)
    stats = {"merged_away": 0, "dedup_removed": 0, "filtered": 0}
    if n == 0:
        return [], [], [], [], stats

    # ---- merge (J3), /root/reference/text_block_sorter.py:178-240 ----
    new_blocks = None
    if n > 1 and merge_cands:
        cand_js: dict[int, list[int]] = {}
        for i, j in merge_cands:
            cand_js.setdefault(i, []).append(j)
        merged = []
        new_blocks = []
        used = [False] * n
        neg = -1
        for i in range(n):
            if used[i]:
                continue
            used[i] = True
            js = cand_js.get(i)
            cand = None
            if js is not None:
                for j in js:
                    if not used[j]:
                        if cand is None:
                            cand = [blocks[i]]
                        cand.append(blocks[j])
                        used[j] = True
            if cand is None:
                merged.append(blocks[i])
            else:
                base = max(cand, key=lambda b: b[4])
                longest = max(cand, key=lambda b: len(b[7]))[7]
                conf_m = sum(b[4] for b in cand) / len(cand)
                nb = (min(b[0] for b in cand),
                      min(b[1] for b in cand),
                      max(b[2] for b in cand),
                      max(b[3] for b in cand),
                      conf_m, base[5], "text", longest, None, neg)
                neg -= 1
                merged.append(nb)
                new_blocks.append(nb)
        stats["merged_away"] = n - len(merged)
    else:
        merged = blocks

    # ---- direction split + cluster sorts (:26-87,:113-114) ----
    vert = [b for b in merged if b[5] == "vertical"]
    horiz = [b for b in merged if b[5] == "horizontal"]

    def _sort_v(bs):
        cols = []
        for b in bs:
            for col in cols:
                s = col[0]
                lo = b[0] if b[0] > s[0] else s[0]
                hi = b[2] if b[2] < s[2] else s[2]
                ov = hi - lo
                if ov < 0:
                    ov = 0
                if ov >= (b[2] - b[0]) * 0.5 or ov >= (s[2] - s[0]) * 0.5:
                    col.append(b)
                    break
            else:
                cols.append([b])
        # itemgetter + singleton guards: same keys, same stable sort,
        # ~2x less per-call overhead than a lambda on tiny lists
        for col in cols:
            if len(col) > 1:
                col.sort(key=_KEY_Y0)
        if len(cols) > 1:
            cols.sort(key=lambda col: -((col[0][0] + col[0][2]) / 2))
        return [b for col in cols for b in col]

    def _sort_h(bs):
        rows = []
        for b in bs:
            for row in rows:
                s = row[0]
                lo = b[1] if b[1] > s[1] else s[1]
                hi = b[3] if b[3] < s[3] else s[3]
                ov = hi - lo
                if ov < 0:
                    ov = 0
                if ov >= (b[3] - b[1]) * 0.5 or ov >= (s[3] - s[1]) * 0.5:
                    row.append(b)
                    break
            else:
                rows.append([b])
        for row in rows:
            if len(row) > 1:
                row.sort(key=_KEY_X0)
        if len(rows) > 1:
            rows.sort(key=lambda row: (row[0][1] + row[0][3]) / 2)
        return [b for row in rows for b in row]

    if vert and horiz:
        v_top = min(b[1] for b in vert)
        h_top = min(b[1] for b in horiz)
        final = _sort_v(vert) + _sort_h(horiz) if v_top <= h_top \
            else _sort_h(horiz) + _sort_v(vert)
    elif vert:
        final = _sort_v(vert)
    else:
        final = _sort_h(horiz)

    # ---- dedupe (J2), /root/reference/data_structures.py:136-176 ----
    # candidate-driven: only the greedy state machine is order-dependent
    # (SURVEY.md §2.5); the pair predicates are batch-precomputed for
    # untouched geometry and recomputed only around merged blocks.
    k = len(final)
    removed = [False] * k
    if k > 1 and (dd_cands or new_blocks):
        pos_of = {b[9]: p for p, b in enumerate(final)}
        by_small: dict[int, list[int]] = {}
        if dd_cands:
            for sm, lg in dd_cands:
                ps = pos_of.get(sm)
                pl = pos_of.get(lg)
                if ps is not None and pl is not None:
                    by_small.setdefault(ps, []).append(pl)
        if new_blocks:
            for b in new_blocks:
                p = pos_of[b[9]]
                bx0, by0, bx1, by1 = b[0], b[1], b[2], b[3]
                ab = (bx1 - bx0) * (by1 - by0)
                for q, o in enumerate(final):
                    if q == p or (o[9] < 0 and o[9] > b[9]):
                        continue  # merged-merged pair handled once
                    ol = bx0 if bx0 > o[0] else o[0]
                    ot = by0 if by0 > o[1] else o[1]
                    orr = bx1 if bx1 < o[2] else o[2]
                    ob = by1 if by1 < o[3] else o[3]
                    if ol >= orr or ot >= ob:
                        continue
                    ao = (o[2] - o[0]) * (o[3] - o[1])
                    inter = (orr - ol) * (ob - ot)
                    if ab != 0 and ab < ao \
                            and inter / ab >= REMOVE_THRESHOLD:
                        by_small.setdefault(p, []).append(q)
                    if ao != 0 and ao < ab \
                            and inter / ao >= REMOVE_THRESHOLD:
                        by_small.setdefault(q, []).append(p)
        for i in sorted(by_small):
            # the full O(k^2) scan visits j ascending; first surviving
            # j wins (removed-at-visit-time state reproduced exactly)
            for j in sorted(by_small[i]):
                if not removed[j]:
                    removed[i] = True
                    break
        stats["dedup_removed"] = sum(removed)

    # ---- sink filters: text spans only ----
    kinds, texts, refs, orders = [], [], [], []
    for a in range(k):
        if removed[a]:
            continue
        b = final[a]
        if b[6] == "text":
            t = b[7]
            if not t.strip():
                stats["filtered"] += 1
                continue
            if (b[2] - b[0]) * PT_SCALE < 1 or (b[3] - b[1]) * PT_SCALE < 1:
                stats["filtered"] += 1
                continue
        kinds.append(b[6])
        texts.append(b[7])
        refs.append(b[8])
        orders.append(a + 1)
    return kinds, texts, refs, orders, stats

