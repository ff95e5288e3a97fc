"""Exact triangle counting — five physical strategies, one logical query.

The reference ships ~12 binaries that are alternative physical plans of
the same query (SURVEY.md §2.11); we expose the same axis as a
`strategy=` option, and the strategies cross-check each other
(differential testing, mirroring the reference's cross-variant
agreement). Every strategy but "join" is wedge enumeration plus a
closure check, written once: two batch readers (`_csr_rows` over
sorted (src, dst) partitions, `_list_rows` over adjacency-array rows)
feed one count UDF and one emit UDF through `wk.wedge_blocks`, and one
closure step (`_close`) picks the broadcast probe or the distributed
semi-join. The "edge" strategy lists through `graph.common_neighbors`,
the adjacency intersection truss and clustering share.

Options: `strategy`; `closure` ("auto" | "broadcast" | "join");
`hub_k` (hub-bitmap size of the broadcast probe; the driver count
probes the edge keys alone, see `_local_count`); `split_budget`
(wedges per hub chunk);
`phase_metrics`. Every other physical choice follows from the input:
- prep: fast (original ids, one shuffle) unless the ids do not fit
  int64 edge keys (`_key_base`: a negative id, or (max_id+1)² > 2⁶²),
  then the rank-space relabel;
- closure="auto": broadcast probe up to BROADCAST_MAX_EDGES oriented
  edges, distributed LEFT SEMI join beyond;
- flat-lane partitioning: wedge-balanced range partitioning when the
  max degree reaches the hub threshold, else the prep's hash(src)
  clustering with no exchange;
- partitions: the session's defaultParallelism.

- "wedge"  (default, the WeTriC strategy, tc.cu:173-293): in the
  broadcast-closure regime (≤30M edges) the COLLECT-FIRST path's first
  job is one narrow Arrow collect of the clean input; dedup, degrees,
  the degree-order orientation and the oriented wedge count W are
  numpy on the driver. Up to `checkpointing.LOCAL_LANE_MAX_WEDGES`
  wedges the count runs there too — the paper's one-launch count, in
  one thread per CPU over equal wedge ranges (tc.cu:348-361) — and the
  collect is the only Spark job. Beyond it one count job runs, in
  which the CSR reader applies the orientation and hub skip per run of
  the symmetric table against a broadcast degree dictionary (no stats
  job, no degree joins). One INFO event names the lane taken
  (`checkpointing.lane_event`). Beyond that regime (or with
  closure="join") the general two-lane plan runs:
  fused single-shuffle preprocessing (degree-ordered orientation in
  ORIGINAL id space — graph.prepare_oriented_fast), then:
  * non-hub lane: oriented edges are already hash-clustered by src
    from the prep shuffle; a sortWithinPartitions makes the partition
    the CSR (columnar src/dst, no array objects) with NO further
    exchange; one vectorized mapInPandas enumerates wedges and probes
    closure per partition. With hubs present the lane is instead
    range-partitioned on the global cumulative wedge count (the
    paper's equal-wedges-per-worker partition, tc.cu:348-361);
  * hub lane (power-law head): vertices whose wedge count exceeds
    `split_budget` are routed out by anti/semi JOIN (never a driver-side
    id collect), exploded into bounded first-index chunks
    (high-degree-vertex splitting) and spread across partitions.
  Both lanes probe a broadcast sorted canonical edge-key array + hub
  bitmap (reference J1/J3), or emit candidate pairs for a distributed
  LEFT SEMI join when the edge set exceeds executor memory.
- "arrow"  (experiments/tc_arrow.cu:173-289,345-371): path-wedge
  enumeration — per oriented edge (v,w), walk adj(w) (the two-level
  wedge_vp/wedge_vi index becomes an edges⋈adjacency join) and probe
  closure {v,u}.
- "vertex" (experiments/tc_vertex.cu): one adjacency-array row per unit
  of work (collect_list layout), no splitting/rebalancing.
- "edge"   (experiments/tc_edge.cu, mixed wedge style): per oriented
  edge (a,b), |adj(a) ∩ adj(b)| via `array_intersect` — 100% JVM.
- "join"   (the relational formulation): oriented 3-way self-join,
  pure Catalyst — also the DuckDB oracle formulation.

All strategies return an eagerly computed 1-row DataFrame and
unpersist their intermediate caches, so repeated queries in one
session don't accumulate cached blocks.
"""

from __future__ import annotations

import functools
import os
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import wedge as wk
from . import checkpointing
from .checkpointing import BROADCAST_MAX_EDGES, collect_arrays, lane_event, size_gate
from .graph import (
    adjacency,
    build_sym_clustered,
    common_neighbors,
    drop_self_loops,
    normalize_edges,
    orient_from_sym,
    prepare_oriented,
    prepare_oriented_fast,
)

HUB_ROUTE_BROADCAST_MAX = 1_000_000  # hub-id table broadcast cap for lane routing


def _split_chunks(adj_df: DataFrame, split_budget: int) -> DataFrame:
    """High-degree-vertex splitting: explode each adjacency row into
    first-index chunks of width c = max(1, split_budget // deg) so every
    chunk enumerates ≤ ~split_budget pairs. (north rule:
    'high-degree-vertex splitting'; the reference handles the same skew
    with wedge-id global partitioning, tc.cu:348-361.)"""
    c = F.greatest(F.lit(1), (F.lit(split_budget) / F.col("deg")).cast("long"))
    return (
        adj_df.filter(F.col("deg") >= 2)
        .withColumn("i_lo", F.explode(F.sequence(F.lit(0), F.col("deg") - 2, c)))
        .withColumn("i_hi", F.least(F.col("i_lo") + c, F.col("deg") - 1))
        .select("v", "adj", "deg", "i_lo", "i_hi")
    )


class _Probe:
    """Closure-probe context shipped to executors (broadcast handles).

    `hub_ids` is a sorted ≤hub_k-element id array (tiny — rides in the
    closure pickle); the bitmap over its positions is broadcast."""

    def __init__(self, keys_bc, key_base, hub_bc, hub_ids):
        self.keys_bc = keys_bc
        self.key_base = key_base
        self.hub_bc = hub_bc
        self.hub_ids = hub_ids

    def count(self, rows: tuple, timings: dict | None = None) -> int:
        """Closed wedges of one batch of wedge rows (a reader's yield)."""
        return wk.count_closed(
            wk.wedge_blocks(*rows),
            self.keys_bc.value,
            self.key_base,
            self.hub_bc.value if self.hub_bc is not None else None,
            self.hub_ids,
            timings=timings,
        )


def _runs(src: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Run-length encode a sorted src column → (starts, lengths)."""
    change = np.flatnonzero(src[1:] != src[:-1])
    starts = np.concatenate([[0], change + 1]).astype(np.int64)
    degs = np.diff(np.append(starts, len(src))).astype(np.int64)
    return starts, degs


# Every count UDF emits one row per partition with the triangle count
# plus the get/evaluate CPU-second split (reference accounting,
# experiments/tc_cycles.cu:1089-1137); the splits are summed across
# tasks, so they are CPU seconds and may exceed wall time.
COUNT_SCHEMA = "tri long, enum_sec double, probe_sec double"


def _timed_row(total: int, timings: dict) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "tri": [total],
            "enum_sec": [timings.get("enum_sec", 0.0)],
            "probe_sec": [timings.get("probe_sec", 0.0)],
        }
    )


# The two readers turn a mapInPandas batch iterator into wedge rows
# (flat, starts, degs, i_lo, i_hi) — the arguments of wk.wedge_blocks —
# one per physical layout; the count and emit UDFs below are written
# once over either.


def _csr_rows(it: Iterator[pd.DataFrame], keep=None) -> Iterator[tuple]:
    """The CSR reader: partitions of (src, dst) rows sorted by (src,
    dst) are consumed as columnar CSR directly, every src run one
    adjacency row. Arrow batches may split a vertex's adjacency; a
    carry buffer defers the trailing (possibly incomplete) run to the
    next batch. `keep(src, dst) -> mask`, if given, filters each
    stretch of complete runs (the fused lane's degree-order orientation
    and hub skip): a run's kept subset stays contiguous and sorted."""

    def rows(src: np.ndarray, dst: np.ndarray):
        if keep is not None:
            mask = keep(src, dst)
            src, dst = src[mask], dst[mask]
            if len(src) == 0:
                return
        starts, degs = _runs(src)
        yield dst, starts, degs, np.zeros(len(degs), np.int64), degs - 1

    carry_s = carry_d = None
    for pdf in it:
        if len(pdf) == 0:
            continue
        src = pdf["src"].values.astype(np.int64, copy=False)
        dst = pdf["dst"].values.astype(np.int64, copy=False)
        if carry_s is not None:
            src = np.concatenate([carry_s, src])
            dst = np.concatenate([carry_d, dst])
        # defer the trailing run (vertex may continue in next batch)
        boundary = int(np.searchsorted(src, src[-1], side="left"))
        if boundary > 0:
            yield from rows(src[:boundary], dst[:boundary])
        carry_s, carry_d = src[boundary:], dst[boundary:]
    if carry_s is not None and len(carry_s):
        yield from rows(carry_s, carry_d)


def _list_rows(it: Iterator[pd.DataFrame]) -> Iterator[tuple]:
    """The list-column reader: rows (adj, deg, i_lo, i_hi), one
    adjacency array each — the hub lane's chunks, the vertex strategy's
    whole adjacencies and the arrow strategy's path rows."""
    for pdf in it:
        if len(pdf) == 0:
            continue
        degs = pdf["deg"].values.astype(np.int64)
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in pdf["adj"].values]
        )
        yield (
            flat,
            np.cumsum(degs) - degs,
            degs,
            pdf["i_lo"].values.astype(np.int64),
            pdf["i_hi"].values.astype(np.int64),
        )


def _count_udf(probe: _Probe, read=_csr_rows):
    """Count closed wedges over the rows `read` yields: one row per
    partition (COUNT_SCHEMA)."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        timings: dict = {}
        total = sum(probe.count(rows, timings) for rows in read(it))
        yield _timed_row(total, timings)

    return run


# bench.py's amplified exec phase counts a sorted oriented frame
# through this name
_flat_count_udf = _count_udf


def _emit_udf(read):
    """Emit every wedge pair (w, u) of the rows `read` yields, for the
    distributed closure (rows of "src long, dst long")."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for rows in read(it):
            for w, u in wk.wedge_blocks(*rows):
                yield pd.DataFrame({"src": w, "dst": u})

    return run


def _degree_order_keep(lookup_bc):
    """The fused lane's per-run filter over the SYMMETRIC edge table:
    keep the degree-ordered half, minus edges out of hub-lane vertices,
    against a broadcast degree dictionary (`lookup_bc`: sorted ids /
    degree / is_hub arrays) — so the count job needs no degree joins."""

    def keep(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
        look = lookup_bc.value
        ids, deg = look["ids"], look["deg"]
        si = np.searchsorted(ids, src)
        ds, dd = deg[si], deg[np.searchsorted(ids, dst)]
        return ((ds < dd) | ((ds == dd) & (src < dst))) & ~look["is_hub"][si]

    return keep


def _numpy_top_hub_ids(src: np.ndarray, dst: np.ndarray, hub_k: int) -> np.ndarray:
    """Top-hub_k vertex ids by (symmetric degree, id) computed from the
    collected oriented edge arrays — each undirected edge appears once,
    so occurrence count across src∪dst IS the symmetric degree.

    Dense-domain fast path: when the id range is comparable to the
    edge count (always true after rank-relabel, and for contiguous web
    graphs), two O(m) `np.bincount` passes (summed — no 2m concatenate
    copy) replace the sort-based `np.unique` over 2m elements —
    measured ~6x faster on the 32x amplified probe build (copy-phase
    probe r5-n follow-up: 0.6 s vs 4.1 s at 38.4M elements / 6.4M id
    domain). Sparse id domains (raw 64-bit hash ids) fall back to
    np.unique, since a bincount array sized by max_id would explode.
    Selection semantics are identical in both paths: top hub_k by
    (count, id)."""
    if len(src) and len(dst):
        max_id = max(int(src.max()), int(dst.max()))
        min_id = min(int(src.min()), int(dst.min()))
    else:  # degenerate input — the unique path handles it cheaply
        max_id, min_id = 0, -1
    # same absolute 1<<28 cap as build_hub_bitmap (ADVICE r5): without
    # it a sparse-but-in-range id domain could transiently allocate
    # ~64 B/edge of bincount buffers at the BROADCAST_MAX_EDGES scale
    if 0 <= min_id and max_id <= min(
        max(4 * (len(src) + len(dst)), 1 << 20), 1 << 28
    ):
        counts_all = np.bincount(src, minlength=max_id + 1)
        counts_all += np.bincount(dst, minlength=max_id + 1)
        present = np.nonzero(counts_all)[0]
        if len(present) > hub_k:
            counts = counts_all[present]
            # O(n) prefilter to the count threshold, then lexsort only
            # the candidate set (hub_k + count-ties) — same top hub_k
            # by (count, id) as the full lexsort in the sparse path
            kth = np.partition(counts, len(counts) - hub_k)[len(counts) - hub_k]
            cand = counts >= kth
            present, counts = present[cand], counts[cand]
            order = np.lexsort((present, counts))[-hub_k:]
            present = present[order]
        return np.sort(present.astype(src.dtype, copy=False))
    ids, counts = np.unique(np.concatenate([src, dst]), return_counts=True)
    if len(ids) > hub_k:
        order = np.lexsort((ids, counts))[-hub_k:]
        ids = ids[order]
    return np.sort(ids)


def _key_base(min_id: int, max_id: int) -> int | None:
    """Base of the int64 edge keys `lo * base + hi` over vertex ids in
    [min_id, max_id]: max_id + 1, or None when those keys are not
    unique int64 values and the caller must relabel to rank space — a
    negative id (at base 4, (-4, 3) and (-3, -1) both key to -13) or
    (max_id + 1)² > 2⁶²."""
    base = max_id + 1
    if min_id < 0 or base * base > 2**62:
        return None
    return base


def _build_probe(
    spark: SparkSession,
    edges,
    key_base: int,
    hub_k: int,
    keys=None,
) -> _Probe:
    """The one broadcast closure probe: sorted edge keys plus, for
    hub_k > 0, the top-hub_k id array and its hub↔hub bitmap. `edges`
    is an oriented (src, dst) frame, collected here through Arrow, or
    the (src, dst) arrays a caller already collected (with their sorted
    `keys`, if it has them)."""
    if key_base * key_base > 2**62:
        raise ValueError("vertex domain too large for int64 edge keys")
    if isinstance(edges, DataFrame):
        edges = collect_arrays(edges, "src", "dst")
    src, dst = edges
    sc = spark.sparkContext
    hub_bc = None
    hub_ids = None
    if hub_k > 0 and len(src):
        # the probe arrays are already in driver memory (the broadcast
        # path caps them at BROADCAST_MAX_EDGES), so a numpy top-k is
        # strictly cheaper than a Spark degree re-aggregation job —
        # the copy phase stays free of extra cluster actions
        hub_ids = _numpy_top_hub_ids(src, dst, hub_k)
        hub_bc = sc.broadcast(wk.build_hub_bitmap(src, dst, hub_ids))
    if keys is None:
        keys = wk.build_edge_keys(src, dst, key_base)
    return _Probe(sc.broadcast(keys), key_base, hub_bc, hub_ids)


# Max flat adjacency elements the driver may materialize when building
# hub chunks from the already-collected edge arrays (~400 MB of int64).
# Chunk rows duplicate the adjacency per chunk, the same duplication the
# distributed _split_chunks explode pays in shuffle volume; beyond the
# cap the fully distributed hub lane takes over.
HUB_DRIVER_CHUNK_ELEMS = 50_000_000


def _orientation_arrays(a: np.ndarray, b: np.ndarray):
    """Degree/orientation prep from collected canonical (a<b) edges —
    the whole reference preprocess (degree count, degree-order
    orientation, tc.cu:660-751) as numpy over arrays already resident
    in driver memory, so the fused path needs NO extra Spark job for
    stats, hubs, or the probe."""
    ids, cnt = np.unique(np.concatenate([a, b]), return_counts=True)
    ia = np.searchsorted(ids, a)
    ib = np.searchsorted(ids, b)
    da, db = cnt[ia], cnt[ib]
    a_first = (da < db) | ((da == db) & (a < b))
    src_o = np.where(a_first, a, b)
    dst_o = np.where(a_first, b, a)
    pos_o = np.where(a_first, ia, ib)
    outdeg = np.bincount(pos_o, minlength=len(ids))
    return ids, cnt, src_o, dst_o, pos_o, outdeg


def _hub_chunk_rows(
    src_o: np.ndarray,
    dst_o: np.ndarray,
    pos_o: np.ndarray,
    hub_flag: np.ndarray,
    split_budget: int,
):
    """Hub-lane chunk rows (v, adj, deg, i_lo, i_hi) built driver-side
    from the collected oriented arrays (no Spark jobs — the fused
    analogue of adjacency()+_split_chunks). Returns (pa.Table, None),
    (None, None) when there is no hub work, or (None, est_elems) when
    materializing the rows would exceed HUB_DRIVER_CHUNK_ELEMS.

    Fully vectorized (numpy repeat/cumsum) and shipped as an Arrow
    table: at the 50M-element cap the old per-hub Python loop built
    several GB of boxed ints and paid pickling on top (ADVICE r3) —
    the Arrow path materializes exactly the ~8 B/element it budgets
    for and enters Spark through zero-copy createDataFrame."""
    import pyarrow as pa

    hmask = hub_flag[pos_o]
    hs, hd = src_o[hmask], dst_o[hmask]
    if len(hs) == 0:
        return None, None
    order = np.lexsort((hd, hs))
    hs, hd = hs[order], hd[order]
    starts, degs = _runs(hs)
    keep = degs >= 2  # a 1-edge hub spawns no wedges
    starts, degs = starts[keep], degs[keep]
    if len(starts) == 0:
        return None, None
    widths = np.maximum(1, split_budget // degs)
    n_chunks = (degs - 2) // widths + 1  # len(range(0, deg-1, c))
    est = int((n_chunks * degs).sum())
    if est > HUB_DRIVER_CHUNK_ELEMS:
        return None, est
    # one row per chunk: map each chunk to its hub, then its (lo, hi)
    # window from the chunk's ordinal within the hub
    hub_of = np.repeat(np.arange(len(starts)), n_chunks)
    first = np.repeat(np.cumsum(n_chunks) - n_chunks, n_chunks)
    within = np.arange(len(hub_of), dtype=np.int64) - first
    lo = within * widths[hub_of]
    hi = np.minimum(lo + widths[hub_of], degs[hub_of] - 1)
    # adjacency values: every chunk row carries its hub's full sorted
    # adjacency — the same duplication the distributed _split_chunks
    # explode pays in shuffle volume
    d_of = degs[hub_of]
    val_first = np.repeat(np.cumsum(d_of) - d_of, d_of)
    val_pos = np.arange(int(d_of.sum()), dtype=np.int64) - val_first
    values = hd[np.repeat(starts[hub_of], d_of) + val_pos]
    offsets = np.concatenate(([0], np.cumsum(d_of)))
    adj = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), pa.array(values, type=pa.int64())
    )
    table = pa.table(
        {
            "v": pa.array(hs[starts][hub_of], type=pa.int64()),
            "adj": adj,
            "deg": pa.array(d_of, type=pa.int64()),
            "i_lo": pa.array(lo, type=pa.int64()),
            "i_hi": pa.array(hi, type=pa.int64()),
        }
    )
    return table, None


def _wedge_parts(
    starts: np.ndarray, degs: np.ndarray, parts: int, block_pairs: int
) -> list[tuple]:
    """Cut CSR rows into at most `parts` wedge rows (starts, degs, i_lo,
    i_hi) of near-equal pair count — the paper's equal-wedges-per-worker
    split by the cumulative wedge count (tc.cu:348-361). A row with
    more pairs than a share (at most `block_pairs`) is first split into
    i-range chunks of width max(1, share // deg), so every chunk but a
    degree-bound one fits a block; the chunks keep reading the shared
    `flat` array, nothing is copied."""
    keep = degs >= 2
    starts, degs = starts[keep], degs[keep]
    pairs = degs * (degs - 1) // 2
    total = int(pairs.sum())
    if total == 0:
        return []
    share = max(1, min(block_pairs, -(-total // parts)))
    width = np.where(pairs > share, np.maximum(1, share // degs), degs - 1)
    n_chunks = (degs - 2) // width + 1
    row = np.repeat(np.arange(len(degs)), n_chunks)
    first = np.repeat(np.cumsum(n_chunks) - n_chunks, n_chunks)
    i_lo = (np.arange(len(row), dtype=np.int64) - first) * width[row]
    i_hi = np.minimum(i_lo + width[row], degs[row] - 1)
    starts, degs = starts[row], degs[row]
    cum = np.cumsum(wk.pair_count(degs, i_lo, i_hi))
    cuts = np.searchsorted(cum, total * np.arange(1, parts) // parts, side="right")
    bounds = np.unique(np.concatenate([[0], cuts, [len(cum)]]))
    return [
        (starts[lo:hi], degs[lo:hi], i_lo[lo:hi], i_hi[lo:hi])
        for lo, hi in zip(bounds, bounds[1:])
    ]


def _local_count(
    flat: np.ndarray, parts: list[tuple], keys: np.ndarray, key_base: int
) -> tuple[int, dict]:
    """Closed wedges of `parts` (`_wedge_parts`) over the oriented
    adjacency `flat`, probed against the sorted edge `keys`: one thread
    per part — numpy releases the GIL in the enumerate and probe
    kernels — each walking its part in blocks of at most
    `wk.DEFAULT_BLOCK_PAIRS` pairs, the per-task memory bound of the
    Spark count. Returns the count and the enumerate/probe seconds
    summed over the threads.

    No hub bitmap: on 4 vCPU it made this probe 1.4-1.6x slower (R-MAT
    scale 14 and 16, 1 and 4 threads, hub_k=8192) — two extra binary
    searches per pair over the hub ids cost more than the smaller
    search they save."""
    block = wk.DEFAULT_BLOCK_PAIRS

    def count(part: tuple) -> tuple[int, dict]:
        timings: dict = {}
        blocks = wk.wedge_blocks(flat, *part, block_pairs=block)
        n = wk.count_closed(blocks, keys, key_base, timings=timings)
        return n, timings

    with ThreadPoolExecutor(max(len(parts), 1)) as pool:
        done = list(pool.map(count, parts))
    timings = {
        k: sum(t.get(k, 0.0) for _, t in done) for k in ("enum_sec", "probe_sec")
    }
    return sum(n for n, _ in done), timings


def _wedge_fused(
    spark: SparkSession,
    edges: DataFrame,
    hub_k: int,
    split_budget: int,
    caches: list,
    mark,
    phase_metrics: dict | None,
    lane: dict,
    max_collect_edges: int | None = None,
) -> DataFrame | None:
    """Collect-first wedge count (broadcast-closure regime). Its first
    job is one narrow Arrow collect of the clean input (self loops
    dropped; no shuffle, no persist). Dedup, canonical id order,
    degrees, the degree-order orientation (`_orientation_arrays`) and
    the oriented wedge count W = Σ d⁺(d⁺−1)/2 are then numpy on the
    driver, and W picks where the wedges are counted:

    - W ≤ checkpointing.LOCAL_LANE_MAX_WEDGES: on the driver, over the
      sorted oriented CSR in wedge-balanced threads (`_wedge_parts`,
      `_local_count`) — the only Spark job is the collect;
    - otherwise one Spark count job: the flat lane reads the symmetric
      table (`build_sym_clustered`, its one shuffle) and applies the
      orientation and hub skip inside the vectorized UDF against a
      broadcast degree dictionary (no degree joins), the hub lane (if
      any) runs over driver-built chunk rows, and both probe the
      broadcast built from the arrays in hand.

    `lane` is the verdict (`checkpointing.lane_event`): it gains the
    canonical rows, W and the lane taken. Returns None, with
    lane["lane"] naming the fallback, when the path cannot apply: a
    vertex id that does not fit int64 edge keys ("relabel") or, after
    an entry on the size estimate (`max_collect_edges`), more canonical
    edges than the broadcast budget ("distributed"). The broadcast
    degree dictionary is ~24 B/vertex, the same order as the edge-key
    broadcast itself."""
    src, dst = collect_arrays(drop_self_loops(normalize_edges(edges)), "src", "dst")
    keys = np.empty(0, np.int64)
    key_base = 1  # any base keys an empty edge set
    if len(src):
        lo_id = int(min(src.min(), dst.min()))
        hi_id = int(max(src.max(), dst.max()))
        key_base = _key_base(lo_id, hi_id)
        if key_base is None:
            lane.update(lane="relabel", min_id=lo_id, max_id=hi_id)
            return None
        # sorted unique canonical keys: the dedup and the probe array
        keys = np.unique(np.minimum(src, dst) * key_base + np.maximum(src, dst))
    del src, dst
    m = len(keys)
    lane["rows"] = m
    if max_collect_edges is not None and m > max_collect_edges:
        # the estimate let in more canonical edges than the broadcast
        # budget: abort to the distributed pipeline
        lane["lane"] = "distributed"
        return None
    a, b = np.divmod(keys, key_base)
    ids, cnt, src_o, dst_o, pos_o, outdeg = _orientation_arrays(a, b)
    wedges = int((outdeg * (outdeg - 1) // 2).sum())
    cap = checkpointing.LOCAL_LANE_MAX_WEDGES
    local = wedges <= cap
    lane.update(lane="local" if local else "spark", wedges=wedges, cap=cap, unit="wedges")
    mark("prep_sec")

    if local:
        # oriented CSR: rows by src, each row's adjacency sorted
        row_src, flat = np.divmod(np.sort(src_o * key_base + dst_o), key_base)
        starts, degs = _runs(row_src)
        parts = _wedge_parts(
            starts, degs, len(os.sched_getaffinity(0)), wk.DEFAULT_BLOCK_PAIRS
        )
        mark("build_sec")
        total, timings = _local_count(flat, parts, keys, key_base)
        _record_split(phase_metrics, timings)
        mark("exec_sec")
        return _result(spark, total)

    npart = spark.sparkContext.defaultParallelism
    sym = build_sym_clustered(edges, npart)
    stats = {
        "n": int(len(ids)),
        "max_id": key_base - 1,
        "m_oriented": m,
        "max_degree": int(cnt.max()),
    }
    hub_min_deg = int((2 * split_budget) ** 0.5) + 2
    hub_flag = outdeg >= hub_min_deg

    probe = _build_probe(spark, (a, b), key_base, hub_k, keys)

    hub_tbl = None
    est = None
    if bool(hub_flag.any()):
        hub_tbl, est = _hub_chunk_rows(src_o, dst_o, pos_o, hub_flag, split_budget)
        if hub_tbl is None and est is not None:
            # pathological hub mass: keep the fully distributed hub
            # machinery (join routing + explode splitting + wedge_range
            # balance), reusing the probe and stats already in hand
            oriented = orient_from_sym(sym, npart, stats["n"]).persist()
            caches.append(oriented)
            mark("build_sec")
            result = _wedge_count(
                spark,
                oriented,
                key_base,
                closure="broadcast",
                hub_k=hub_k,
                split_budget=split_budget,
                clustered_by_src=True,
                caches=caches,
                stats=stats,
                probe=probe,
            )
            out = _finish(result, caches, spark, phase_metrics)
            mark("exec_sec")
            return out

    lookup_bc = spark.sparkContext.broadcast(
        {"ids": ids, "deg": cnt, "is_hub": hub_flag}
    )
    mark("build_sec")

    keep = _degree_order_keep(lookup_bc)
    flat = sym.sortWithinPartitions("src", "dst")
    counts = flat.mapInPandas(
        _count_udf(probe, lambda it: _csr_rows(it, keep)), schema=COUNT_SCHEMA
    )
    if hub_tbl is not None:
        # Arrow table → DataFrame is zero-copy on the driver side
        # (no Python row boxing / pickling; ADVICE r3)
        hub_df = spark.createDataFrame(hub_tbl).repartition(npart, "v", "i_lo")
        counts = counts.unionByName(
            hub_df.mapInPandas(_count_udf(probe, _list_rows), schema=COUNT_SCHEMA)
        )
    out = _finish(_sum_counts(counts), caches, spark, phase_metrics)
    mark("exec_sec")
    return out


def _canonical(oriented: DataFrame) -> DataFrame:
    """Edge set canonicalized by id (src < dst) for semi-join closure —
    orientation order (degree) and id order differ in the fast-prep
    space."""
    return oriented.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    )


def _wedge_range_flat(
    flat_edges: DataFrame, odeg: DataFrame, npart: int, caches: list
) -> DataFrame:
    """Range-partition the flat lane by the global cumulative WEDGE
    count (SURVEY §2.11 / tc.cu:348-361: equal wedges per worker).

    Each vertex gets pid = floor(cum_wedges * npart / total); edges
    join the (vertex → pid) map and repartitionByRange on pid, so the
    physical partitioning is RangePartitioning with near-equal wedge
    mass (vertex-atomic; residual imbalance ≤ split_budget per vertex
    because heavier vertices were routed to the hub lane)."""
    from .ids import attach_cumulative_weight

    w = odeg.select(
        "src",
        (F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("wedges"),
    )
    cw, total = attach_cumulative_weight(w, ["src"], "wedges", "cum", caches=caches)
    if total <= 0:
        return flat_edges.repartition(npart, "src").sortWithinPartitions("src", "dst")
    pid_map = cw.select(
        "src",
        F.floor(F.col("cum") * npart / total).cast("int").alias("pid"),
    )
    # no broadcast hint: the pid map has one row per flat vertex (too
    # big to force-broadcast at web scale); AQE picks broadcast at
    # runtime when the map side is actually small
    tagged = flat_edges.join(pid_map, "src")
    return (
        tagged.repartitionByRange(npart, "pid")
        .sortWithinPartitions("src", "dst")
        .select("src", "dst")
    )


def _wedge_count(
    spark: SparkSession,
    oriented: DataFrame,
    key_base: int,
    closure: str,
    hub_k: int,
    split_budget: int,
    clustered_by_src: bool,
    caches: list,
    stats: dict | None,
    probe: _Probe | None = None,
) -> DataFrame:
    """Two-lane wedge-parallel count over degree-oriented edges.
    `probe`, if given, is a pre-built closure probe (the fused path
    builds it from its own Arrow collect — no second collect here)."""
    npart = spark.sparkContext.defaultParallelism

    hub_min_deg = int((2 * split_budget) ** 0.5) + 2
    odeg = oriented.groupBy("src").agg(F.count("*").alias("deg"))
    if stats is not None:
        # the fast prep's single stats action already produced every
        # scalar: m drives the closure choice; max SYMMETRIC degree
        # bounds the max out-degree, so max_degree < hub_min_deg
        # proves the hub lane empty with NO extra job. When hubs are
        # possible the lane is built unconditionally (maybe empty) —
        # routing stays a join either way, never a driver id list.
        m = stats["m_oriented"]
        maybe_hubs = stats["max_degree"] >= hub_min_deg
        # gate the routing broadcast on the HUB count like the relabel
        # path (ADVICE r2): Σ outdeg = m bounds the number of vertices
        # with outdeg >= hub_min_deg by m / hub_min_deg, so a large
        # graph with few hubs still broadcasts — no extra job needed
        route_broadcast = (
            stats["n"] <= HUB_ROUTE_BROADCAST_MAX
            or m // hub_min_deg <= HUB_ROUTE_BROADCAST_MAX
        )
    else:
        # relabel path: one stats job over the persisted oriented set
        st = odeg.agg(
            F.coalesce(F.sum("deg"), F.lit(0)).alias("m"),
            F.coalesce(
                F.sum(F.when(F.col("deg") >= hub_min_deg, 1).otherwise(0)), F.lit(0)
            ).alias("n_hubs"),
        ).collect()[0]
        m = st["m"]
        maybe_hubs = st["n_hubs"] > 0
        route_broadcast = st["n_hubs"] <= HUB_ROUTE_BROADCAST_MAX

    hub_lane = []
    if maybe_hubs:
        hubs = odeg.filter(F.col("deg") >= hub_min_deg).select("src")
        if route_broadcast:
            hubs = F.broadcast(hubs)
        flat_edges = oriented.join(hubs, "src", "left_anti")
        hub_adj = adjacency(oriented.join(hubs, "src", "left_semi"))
        hub_chunks = _split_chunks(hub_adj, split_budget).repartition(
            npart, "v", "i_lo"
        )
        hub_lane.append((hub_chunks, _list_rows))
        # skew-aware partitioning: a graph whose max degree reaches the
        # hub threshold is in the power-law regime where hash-by-src
        # also misplaces MID-degree vertices — the wedge-balanced range
        # partition measured 1.8x faster there (COVERAGE.md §2.11)
        flat_odeg = odeg.filter(F.col("deg") < hub_min_deg)
        flat_parted = _wedge_range_flat(flat_edges, flat_odeg, npart, caches)
    elif clustered_by_src:
        # fast prep already hash-clustered the edges by src — the CSR
        # lane needs only an in-partition sort, NO exchange
        flat_parted = oriented.sortWithinPartitions("src", "dst")
    else:
        flat_parted = oriented.repartition(npart, "src").sortWithinPartitions(
            "src", "dst"
        )
    lanes = [(flat_parted, _csr_rows)] + hub_lane
    return _close(spark, oriented, key_base, m, closure, hub_k, lanes, probe)


def _close(
    spark: SparkSession,
    oriented: DataFrame,
    key_base: int,
    m: int | None,
    closure: str,
    hub_k: int,
    lanes: list,
    probe: _Probe | None = None,
) -> DataFrame:
    """The closure step shared by the wedge, arrow and vertex
    strategies. `lanes` are (frame, reader) pairs of wedge rows over
    `oriented` (m edges; None when no stats action counted them).
    closure="auto" takes the broadcast probe up to BROADCAST_MAX_EDGES
    oriented edges and the distributed semi-join beyond. "broadcast"
    counts every lane against one probe (built here unless given);
    "join" emits every lane's wedge pairs, canonical by id, LEFT SEMI
    against the canonicalized edge set."""
    if closure == "auto":
        if m is None:
            m = oriented.count()
        closure = "broadcast" if m <= BROADCAST_MAX_EDGES else "join"
    if closure == "broadcast":
        if probe is None:
            probe = _build_probe(spark, oriented, key_base, hub_k)
        counts = [
            rows.mapInPandas(_count_udf(probe, read), schema=COUNT_SCHEMA)
            for rows, read in lanes
        ]
        return _sum_counts(functools.reduce(DataFrame.unionByName, counts))
    pairs = [
        rows.mapInPandas(_emit_udf(read), schema="src long, dst long")
        for rows, read in lanes
    ]
    closed = _canonical(functools.reduce(DataFrame.unionByName, pairs)).join(
        _canonical(oriented), ["src", "dst"], "left_semi"
    )
    return closed.agg(F.count("*").alias("triangles"))


def _prep(edges: DataFrame, caches: list) -> tuple[DataFrame, int, bool, dict | None]:
    """Preprocess → (oriented, key_base, clustered_by_src, stats|None).
    The fast prep fuses everything onto one shuffle in original id
    space and returns its free stats; ids that do not fit integer edge
    keys (`_key_base`: a negative id, or (max_id+1)² > 2⁶²) take the
    rank-space relabel pipeline."""
    oriented, _deg, _n, max_id, stats = prepare_oriented_fast(edges, caches=caches)
    key_base = _key_base(stats["min_id"], max_id)
    if key_base is not None:
        return oriented, key_base, True, stats
    for c in caches:
        c.unpersist()
    caches.clear()
    return _relabel(edges, caches)


def _relabel(edges: DataFrame, caches: list) -> tuple[DataFrame, int, bool, None]:
    """The rank-space prep: ids 0..n-1, so n is the edge-key base."""
    oriented, _ranks, n = prepare_oriented(edges, caches=caches)
    return oriented, n, False, None


def _sum_counts(counts: DataFrame) -> DataFrame:
    """Global reduction of per-partition (tri, enum_sec, probe_sec)."""
    return counts.agg(
        F.coalesce(F.sum("tri"), F.lit(0)).alias("triangles"),
        F.coalesce(F.sum("enum_sec"), F.lit(0.0)).alias("enum_sec"),
        F.coalesce(F.sum("probe_sec"), F.lit(0.0)).alias("probe_sec"),
    )


def _record_split(phase_metrics: dict | None, timings: dict) -> None:
    """Surface a count's enumerate/probe CPU seconds (`timings` keys
    enum_sec, probe_sec) in `phase_metrics` — tc_cycles' get/evaluate
    accounting."""
    if phase_metrics is not None:
        # 6 decimals: a sub-50µs probe on a tiny graph must not round
        # to 0.0 (ADVICE r3: the 4-decimal round made the phase-split
        # test flake on fast hardware)
        phase_metrics["enumerate_cpu_sec"] = round(float(timings["enum_sec"]), 6)
        phase_metrics["probe_cpu_sec"] = round(float(timings["probe_sec"]), 6)


def _result(spark: SparkSession, val: int) -> DataFrame:
    """The 1-row [triangles: long] answer. Built from pandas, it is a
    local relation that the caller collects without a Spark job (a
    frame from Python rows runs one)."""
    return spark.createDataFrame(pd.DataFrame({"triangles": np.array([val], np.int64)}))


def _finish(
    result: DataFrame,
    caches: list,
    spark: SparkSession,
    phase_metrics: dict | None = None,
) -> DataFrame:
    """Run the terminal action, release every persisted intermediate
    (ADVICE round 1: library callers otherwise accumulate cached blocks
    across queries), and return a stable 1-row frame. When the result
    row carries the enumerate/probe CPU split (broadcast-closure lanes),
    surface it in `phase_metrics` (tc_cycles' get/evaluate accounting)."""
    row = result.collect()[0]
    val = int(row[0])
    if "enum_sec" in row.__fields__:
        _record_split(phase_metrics, row.asDict())
    for c in caches:
        try:
            c.unpersist()
        except Exception:  # pragma: no cover
            pass
    return _result(spark, val)


def triangle_count(
    edges: DataFrame,
    strategy: str = "wedge",
    closure: str = "auto",
    hub_k: int = 8192,
    split_budget: int = 1 << 18,
    phase_metrics: dict | None = None,
) -> DataFrame:
    """Exact global triangle count of the undirected simple graph
    induced by a (possibly dirty) edge DataFrame [src, dst].

    Returns an eagerly computed 1-row DataFrame [triangles: long];
    intermediates are unpersisted before returning. `phase_metrics`,
    if given, is filled with driver-side wall times for the prep /
    probe-build / exec phases (the reference's accounting split,
    tc.cu:886-913)."""
    if strategy not in ("wedge", "arrow", "vertex", "edge", "join"):
        raise ValueError(f"unknown strategy {strategy!r}")
    spark = edges.sparkSession
    caches: list = []
    t0 = time.perf_counter()

    def mark(key: str) -> None:
        if phase_metrics is not None:
            nonlocal t0
            now = time.perf_counter()
            phase_metrics[key] = round(
                phase_metrics.get(key, 0.0) + (now - t0), 4
            )
            t0 = now

    prep = _prep
    if strategy == "wedge" and closure in ("auto", "broadcast"):
        # Collect-first path (`_wedge_fused`): in the broadcast-closure
        # regime one narrow Arrow collect is the prep action and the
        # count runs on the driver or in one Spark job. The
        # closure="auto" gate is checkpointing.size_gate: an entry on
        # the size estimate (no job) re-checks the collected rows, so
        # a bad estimate aborts to the distributed pipeline instead of
        # overflowing the broadcast budget. Explicit closure="broadcast"
        # skips the gate entirely.
        lane = {"lane": "distributed", "basis": "closure=broadcast", "value": None,
                "cap": BROADCAST_MAX_EDGES}
        use_fused = True
        max_collect = None
        if closure == "auto":
            gate = size_gate(edges, BROADCAST_MAX_EDGES)
            lane.update(basis=gate.basis, value=gate.value)
            use_fused = gate.fits
            if gate.basis == "estimate":
                max_collect = BROADCAST_MAX_EDGES
        out = None
        if use_fused:
            out = _wedge_fused(
                spark,
                edges,
                hub_k=hub_k,
                split_budget=split_budget,
                caches=caches,
                mark=mark,
                phase_metrics=phase_metrics,
                lane=lane,
                max_collect_edges=max_collect,
            )
        lane_event("triangle_count", lane)
        if out is not None:
            return out
        # vertex ids that do not fit int64 edge keys go straight to the
        # relabel pipeline; a row-count overflow (optimistic estimate
        # entry) keeps the fast prep — its stats job re-derives m and
        # closure="auto" routes to the distributed semi-join lane
        if lane["lane"] == "relabel":
            prep = _relabel

    oriented, key_base, clustered, stats = prep(edges, caches)
    oriented = oriented.persist()
    caches.append(oriented)
    mark("prep_sec")
    m = stats["m_oriented"] if stats is not None else None

    if strategy == "wedge":
        result = _wedge_count(
            spark,
            oriented,
            key_base,
            closure=closure,
            hub_k=hub_k,
            split_budget=split_budget,
            clustered_by_src=clustered,
            caches=caches,
            stats=stats,
        )
    elif strategy == "arrow":
        # path-wedge: edges (v,w) ⋈ adjacency(w) — the relational
        # analogue of tc_arrow's two-level prefix index; adjacency
        # grouping shuffles by v, the join shuffles edges by dst
        # (both unavoidable: the strategy's unit of work is the
        # (in-edge, out-adjacency) pair). Each path row is the
        # adjacency [v, *adj(w)] with first index 0 only, so its wedge
        # pairs are exactly the paths' closures {v, u}
        # (experiments/tc_arrow.cu:345-371).
        adj = adjacency(oriented).select(
            F.col("v").alias("dst"), F.col("adj"), F.col("deg")
        )
        paths = oriented.join(adj, "dst").select(
            F.concat(F.array("src"), "adj").alias("adj"),
            (F.col("deg") + 1).alias("deg"),
            F.lit(0).alias("i_lo"),
            F.lit(1).alias("i_hi"),
        )
        result = _close(
            spark, oriented, key_base, m, closure, hub_k, [(paths, _list_rows)]
        )
    elif strategy == "vertex":
        rows = adjacency(oriented).filter(F.col("deg") >= 2).select(
            "v",
            "adj",
            "deg",
            F.lit(0).alias("i_lo"),
            (F.col("deg") - 1).alias("i_hi"),
        )
        result = _close(spark, oriented, key_base, m, closure, 0, [(rows, _list_rows)])
    elif strategy == "edge":
        # persisted: BOTH endpoint joins consume the grouped
        # adjacency — unpersisted, each branch re-runs the
        # collect_list aggregation over the oriented cache (r6)
        adj = adjacency(oriented).persist()
        caches.append(adj)
        per_edge = common_neighbors(oriented, adj).select(
            F.size("common").alias("c")
        )
        result = per_edge.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("triangles"))
    else:  # join
        e1 = oriented.alias("e1")
        e2 = oriented.alias("e2")
        e3 = oriented.alias("e3")
        tri = e1.join(e2, F.col("e1.dst") == F.col("e2.src")).join(
            e3,
            (F.col("e1.src") == F.col("e3.src"))
            & (F.col("e2.dst") == F.col("e3.dst")),
            "left_semi",
        )
        result = tri.agg(F.count("*").alias("triangles"))
    mark("build_sec")
    out = _finish(result, caches, spark, phase_metrics)
    mark("exec_sec")
    return out


def wedge_stats(edges: DataFrame) -> DataFrame:
    """Graph summary: n, m (oriented), total wedges of the oriented
    graph, max degree — the reference's sample_degrees report
    (experiments/sample_degrees.cu:505-560)."""
    caches: list = []
    oriented, deg, _n, _mx, _st = prepare_oriented_fast(edges, caches=caches)
    odeg = oriented.groupBy(F.col("src")).agg(F.count("*").alias("degree"))
    stats_sym = deg.agg(F.count("*").alias("n"), F.max("degree").alias("max_degree"))
    stats_or = odeg.agg(
        F.coalesce(F.sum("degree"), F.lit(0)).alias("m_oriented"),
        F.coalesce(
            F.sum(F.expr("degree * (degree - 1) / 2").cast("long")), F.lit(0)
        ).alias("total_wedges"),
    )
    out = stats_sym.crossJoin(stats_or).select(
        "n", "m_oriented", "total_wedges", "max_degree"
    )
    rows = out.collect()
    for c in caches:
        c.unpersist()
    spark = edges.sparkSession
    return spark.createDataFrame(rows, out.schema)
