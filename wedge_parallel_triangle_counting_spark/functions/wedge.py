"""Vectorized wedge enumeration and closure probing.

numpy re-expression of the reference's device-side inner loops:
- wedge decode / enumeration: `tc.cu:194-244` (F1 triangular decode +
  incremental walk) becomes an exact integer two-level `np.repeat`
  construction — no floating point, so none of the reference's
  "not tested for limits" sqrt edge cases (`tc.cu:210`).
- closure check: `binary_search_GPU` (`tc.cu:101-114`, J1) becomes ONE
  `np.searchsorted` over a globally sorted int64 edge-key array
  (key = src * key_base + dst) — a whole-block vectorized probe, the
  analogue of the reference's "cooperation" staging (`tc.cu:176-257`)
  where wedges are first materialized contiguously and then evaluated
  together.
- hub bitmap: `tc.cu:329-346,262-272` (J3) becomes a dense bit-packed
  numpy matrix over the top-`hub_k` ranked vertices, probed O(1).

All functions operate on whole arrays; python-level loops only step
over bounded-size blocks (the analogue of kernel-launch chunking,
`experiments/tc_base.cu:332-356`).
"""

from __future__ import annotations

import time

import numpy as np

# A block bounds peak memory of the enumerate+probe stage
# (~5 int64 arrays of this length alive at once → ~160 MB/task).
DEFAULT_BLOCK_PAIRS = 4_000_000


def pair_count(deg: np.ndarray, i_lo: np.ndarray, i_hi: np.ndarray) -> np.ndarray:
    """Number of adjacency pairs (i, j), i_lo <= i < i_hi, i < j < deg.

    Closed form of the reference's wedge-count formula d(d-1)/2
    (tc.cu:352-358, F2) generalized to an i-range chunk (used for
    high-degree-vertex splitting)."""
    deg = deg.astype(np.int64)
    i_lo = i_lo.astype(np.int64)
    i_hi = i_hi.astype(np.int64)
    full = lambda i: i * (2 * deg - i - 1) // 2  # pairs with first index < i
    return full(i_hi) - full(i_lo)


def enumerate_pairs(
    flat: np.ndarray,
    starts: np.ndarray,
    degs: np.ndarray,
    i_lo: np.ndarray,
    i_hi: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Enumerate all wedge endpoint pairs (w, u) = (adj[i], adj[j]) with
    i_lo[r] <= i < i_hi[r], i < j < degs[r] for every adjacency row r.

    flat    — concatenated adjacency values of all rows in the batch
    starts  — offset of each row's adjacency inside `flat`
    degs    — adjacency length per row
    i_lo/hi — first-index chunk bounds per row (hub-split support)

    Returns (w, u) int64 arrays, one entry per pair, exactly in
    row-major (vertex, i, j) order. Fully vectorized: two nested
    variable-length expansions via np.repeat — the integer-exact
    equivalent of the reference's float triangular decode (tc.cu:209-212).
    """
    degs = degs.astype(np.int64)
    starts = starts.astype(np.int64)
    i_lo = i_lo.astype(np.int64)
    i_hi = np.minimum(i_hi.astype(np.int64), degs - 1)
    n_rows_per_vertex = np.maximum(i_hi - i_lo, 0)

    # Level 1: expand each adjacency row into its "first index" rows.
    total_rows = int(n_rows_per_vertex.sum())
    if total_rows == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    row_vertex = np.repeat(np.arange(len(degs), dtype=np.int64), n_rows_per_vertex)
    row_start = np.repeat(np.cumsum(n_rows_per_vertex) - n_rows_per_vertex, n_rows_per_vertex)
    k = np.arange(total_rows, dtype=np.int64) - row_start + np.repeat(i_lo, n_rows_per_vertex)
    row_len = degs[row_vertex] - 1 - k  # pairs (k, j) for j in (k, deg)

    # Level 2: expand each first-index row into its pairs. Row r holds
    # adj[k] at flat position first[r] and pairs it with the next
    # row_len[r] positions, so pair g of row r (global index
    # offs[r] + t) reads u at first[r] + 1 + t = g + (first[r] + 1 - offs[r]).
    total_pairs = int(row_len.sum())
    if total_pairs == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    first = starts[row_vertex] + k
    offs = np.cumsum(row_len) - row_len
    w = np.repeat(flat[first], row_len)
    u = flat[np.arange(total_pairs, dtype=np.int64) + np.repeat(first + 1 - offs, row_len)]
    return w.astype(np.int64, copy=False), u.astype(np.int64, copy=False)


def build_edge_keys(src: np.ndarray, dst: np.ndarray, key_base: int) -> np.ndarray:
    """Sorted int64 edge-key array for the closure probe, canonicalized
    by vertex id (key = min*base + max).

    Canonical-by-id keys make the probe independent of the edge
    ORIENTATION order (degree order in the no-relabel pipeline differs
    from id order); the oriented set holds each undirected edge once,
    so canonical keys stay unique. key_base must exceed the max vertex
    id; key_base**2 must fit int64 (checked by caller) — holds for
    graphs up to ~3e9 vertices."""
    lo = np.minimum(src, dst).astype(np.int64)
    hi = np.maximum(src, dst).astype(np.int64)
    keys = lo * np.int64(key_base) + hi
    keys.sort()
    return keys


def probe_pairs(
    w: np.ndarray,
    u: np.ndarray,
    edge_keys: np.ndarray,
    key_base: int,
    hub_bitmap: np.ndarray | None = None,
    hub_ids: np.ndarray | None = None,
) -> int:
    """Count how many {w, u} pairs are edges — the closure check (J1).

    Pairs are canonicalized by id before probing. If a hub index is
    provided (`hub_ids`: sorted vertex ids; `hub_bitmap`: dense k×k bit
    matrix over their positions), pairs whose BOTH endpoints are hubs
    are answered by a cache-resident probe (J3, tc.cu:262-272) — a
    searchsorted over ≤8k ids (L1/L2) plus one bit load — instead of a
    binary search over the full DRAM-sized edge-key array."""
    if len(w) == 0:
        return 0
    lo = np.minimum(w, u).astype(np.int64, copy=False)
    hi = np.maximum(w, u).astype(np.int64, copy=False)
    hub_count = 0
    if hub_bitmap is not None and hub_ids is not None and len(hub_ids):
        k = len(hub_ids)
        ilo = np.searchsorted(hub_ids, lo)
        ihi = np.searchsorted(hub_ids, hi)
        np.clip(ilo, 0, k - 1, out=ilo)
        np.clip(ihi, 0, k - 1, out=ihi)
        is_hub = (hub_ids[ilo] == lo) & (hub_ids[ihi] == hi)
        if is_hub.any():
            bit = ilo[is_hub] * k + ihi[is_hub]
            bit.sort()  # sequential bitmap access (cache locality)
            hits = (hub_bitmap[bit >> 6] >> (bit & 63).astype(np.uint64)) & np.uint64(1)
            hub_count = int(hits.sum())
            keep = ~is_hub
            lo = lo[keep]
            hi = hi[keep]

    if len(lo) == 0:
        return hub_count
    keys = lo * np.int64(key_base) + hi
    # Sorting the probe keys first makes consecutive binary searches
    # share their upper tree path in cache — ~15x faster than random-
    # order searchsorted on a DRAM-sized key array (the count is
    # order-independent, so the sort is free semantically). This is
    # the CPU analogue of the reference's coalesced "cooperation"
    # staging (tc.cu:176-257).
    keys.sort()
    pos = np.searchsorted(edge_keys, keys)
    np.clip(pos, 0, len(edge_keys) - 1, out=pos)
    return hub_count + int((edge_keys[pos] == keys).sum())


def build_hub_bitmap(
    src: np.ndarray, dst: np.ndarray, hub_ids: np.ndarray
) -> np.ndarray:
    """Dense bit matrix of hub↔hub edges (canonical by id) over the
    positions of `hub_ids` (sorted vertex ids, typically the top-k by
    degree).

    Reference builds a packed upper-triangular matrix over the top
    RANKS (tc.cu:329-346); indexing by position in an explicit sorted
    id array generalizes that to un-relabeled vertex spaces. A dense
    k×k matrix costs 2× bits but keeps the index math branch-free for
    numpy (8192 → 8 MiB, as the README's -a 8192)."""
    k = len(hub_ids)
    bitmap = np.zeros((k * k + 63) // 64, dtype=np.uint64)
    if k == 0 or len(src) == 0:
        return bitmap
    lo = np.minimum(src, dst).astype(np.int64)
    hi = np.maximum(src, dst).astype(np.int64)
    max_id = int(hi.max())
    min_id = int(lo.min())
    if 0 <= min_id and max_id <= min(max(4 * 2 * len(src), 1 << 20), 1 << 28):
        # dense-domain fast path (r5-n follow-up): a byte membership
        # table turns the hub test into two sequential-gather passes,
        # and the exact positions are then found by binary search over
        # ONLY the surviving hub-hub endpoints — vs binary-searching
        # all 2m endpoints (measured 6s -> <1s at 38.4M endpoints).
        member = np.zeros(max_id + 1, dtype=bool)
        # guard (ADVICE r5): hub_ids outside [0, max endpoint id] would
        # raise / silently wrap under fancy indexing; such ids cannot
        # appear in any edge, so dropping them is exact
        safe = hub_ids[(hub_ids >= 0) & (hub_ids <= max_id)]
        member[safe] = True
        m = member[lo] & member[hi]
        if m.any():
            ilo = np.searchsorted(hub_ids, lo[m])  # exact: members only
            ihi = np.searchsorted(hub_ids, hi[m])
            bit = ilo * k + ihi
            np.bitwise_or.at(
                bitmap, bit >> 6, np.uint64(1) << (bit & 63).astype(np.uint64)
            )
        return bitmap
    ilo = np.clip(np.searchsorted(hub_ids, lo), 0, k - 1)
    ihi = np.clip(np.searchsorted(hub_ids, hi), 0, k - 1)
    m = (hub_ids[ilo] == lo) & (hub_ids[ihi] == hi)
    if m.any():
        bit = ilo[m] * k + ihi[m]
        np.bitwise_or.at(bitmap, bit >> 6, np.uint64(1) << (bit & 63).astype(np.uint64))
    return bitmap


def wedge_blocks(
    flat: np.ndarray,
    starts: np.ndarray,
    degs: np.ndarray,
    i_lo: np.ndarray,
    i_hi: np.ndarray,
    block_pairs: int = DEFAULT_BLOCK_PAIRS,
):
    """Yield the wedge pairs (w, u) of a batch of adjacency rows
    (`enumerate_pairs` arguments) in blocks of whole rows, each at most
    `block_pairs` pairs unless one row alone exceeds it — the bounded
    launch chunking of O4, and the one block loop behind both the
    closure count and the pair emitter. Block ends are found by binary
    search over the cumulative pair count, not by a per-row walk."""
    cum = np.cumsum(pair_count(degs, i_lo, i_hi))
    lo = 0
    nrows = len(degs)
    while lo < nrows:
        base = int(cum[lo - 1]) if lo else 0
        hi = max(int(np.searchsorted(cum, base + block_pairs, side="right")), lo + 1)
        yield enumerate_pairs(flat, starts[lo:hi], degs[lo:hi], i_lo[lo:hi], i_hi[lo:hi])
        lo = hi


def count_closed(
    blocks,
    edge_keys: np.ndarray,
    key_base: int,
    hub_bitmap: np.ndarray | None = None,
    hub_ids: np.ndarray | None = None,
    timings: dict | None = None,
) -> int:
    """Count the closed wedges among `blocks`, an iterator of (w, u)
    pair arrays such as `wedge_blocks`.

    `timings`, if given, accumulates "enum_sec" (producing each block —
    the reference's get-wedges phase) and "probe_sec" (closure check —
    its evaluate-wedges phase), mirroring tc_cycles' per-variant cycle
    split (experiments/tc_cycles.cu:1089-1137)."""
    total = 0
    t0 = time.perf_counter()
    for w, u in blocks:
        t1 = time.perf_counter()
        total += probe_pairs(w, u, edge_keys, key_base, hub_bitmap, hub_ids)
        t2 = time.perf_counter()
        if timings is not None:
            timings["enum_sec"] = timings.get("enum_sec", 0.0) + (t1 - t0)
            timings["probe_sec"] = timings.get("probe_sec", 0.0) + (t2 - t1)
        t0 = t2
    return total
