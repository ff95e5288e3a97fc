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
`split_budget` (wedges per hub chunk of the distributed pipeline);
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
  one degree-ordered CSR and one split of its wedges into equal ranges
  (tc.cu:348-361) are numpy on the driver. Up to
  `checkpointing.LOCAL_LANE_MAX_WEDGES` oriented wedges the parts count
  there too, one thread per CPU — the paper's one-launch count — and
  the collect is the only Spark job. Beyond it the same parts count in
  one Spark job, one task each, against the broadcast edge keys (no
  shuffle, no second read of the input). No hub lane is needed:
  degree orientation caps every out-degree at sqrt(2m), and a part
  boundary cuts at most one row. One INFO event names the lane taken
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
  Both lanes probe a broadcast sorted canonical edge-key array
  (reference J1; the J3 hub bitmap measured slower on the CPU, see
  `functions/wedge.py`), or emit candidate pairs for a distributed
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
    common_neighbors,
    drop_self_loops,
    normalize_edges,
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
    """Closure-probe context shipped to executors: the broadcast sorted
    canonical edge keys and their base."""

    def __init__(self, keys_bc, key_base):
        self.keys_bc = keys_bc
        self.key_base = key_base

    def count(self, rows: tuple, timings: dict | None = None) -> int:
        """Closed wedges of one batch of wedge rows (a reader's yield)."""
        return wk.count_closed(
            wk.wedge_blocks(*rows), self.keys_bc.value, self.key_base, timings=timings
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


def _csr_rows(it: Iterator[pd.DataFrame]) -> Iterator[tuple]:
    """The CSR reader: partitions of (src, dst) rows sorted by (src,
    dst) are consumed as columnar CSR directly, every src run one
    adjacency row. Arrow batches may split a vertex's adjacency; a
    carry buffer defers the trailing (possibly incomplete) run to the
    next batch."""

    def rows(src: np.ndarray, dst: np.ndarray) -> tuple:
        starts, degs = _runs(src)
        return dst, starts, degs, np.zeros(len(degs), np.int64), degs - 1

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
            yield rows(src[:boundary], dst[:boundary])
        carry_s, carry_d = src[boundary:], dst[boundary:]
    if carry_s is not None and len(carry_s):
        yield rows(carry_s, carry_d)


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
    spark: SparkSession, edges: DataFrame, key_base: int, _unused=None
) -> _Probe:
    """The one broadcast closure probe: the sorted canonical edge keys
    of the oriented (src, dst) frame `edges`, collected here through
    Arrow."""
    # `_unused` is accepted and ignored: bench.py's amplified exec phase
    # still passes the size of the retired hub bitmap (8192)
    if key_base * key_base > 2**62:
        raise ValueError("vertex domain too large for int64 edge keys")
    src, dst = collect_arrays(edges, "src", "dst")
    keys = wk.build_edge_keys(src, dst, key_base)
    return _Probe(spark.sparkContext.broadcast(keys), key_base)


def _oriented_csr(keys: np.ndarray, key_base: int) -> tuple:
    """The degree-ordered CSR (flat, starts, degs) of sorted canonical
    edge keys — the reference preprocess (degree count, degree-order
    orientation, tc.cu:660-751) as numpy on the driver. Each edge points
    away from its lower-degree end (ties: the lower id), rows run by
    src and every row's adjacency is sorted. A vertex of out-degree d
    points at d vertices of degree >= d, so d² <= 2m: no row is longer
    than sqrt(2m)."""
    a, b = np.divmod(keys, key_base)  # a < b: the keys are canonical
    ids, cnt = np.unique(np.concatenate([a, b]), return_counts=True)
    a_first = cnt[np.searchsorted(ids, a)] <= cnt[np.searchsorted(ids, b)]
    src = np.where(a_first, a, b)
    dst = np.where(a_first, b, a)
    row_src, flat = np.divmod(np.sort(src * key_base + dst), key_base)
    starts, degs = _runs(row_src)
    return flat, starts, degs


def _wedge_parts(
    flat: np.ndarray, starts: np.ndarray, degs: np.ndarray, parts: int, block_pairs: int
) -> list[tuple]:
    """Cut the CSR (flat, starts, degs) into at most `parts` wedge rows
    of near-equal pair count — the paper's equal-wedges-per-worker split
    by the cumulative wedge count (tc.cu:348-361). A row with more pairs
    than a share (at most `block_pairs`) is first split into i-range
    chunks of width max(1, share // deg), so every chunk but a
    degree-bound one fits a block.

    Each part is self-contained — `wk.wedge_blocks` arguments (flat,
    starts, degs, i_lo, i_hi) over its own slice of `flat`, with the
    starts rebased to it — so it can count in a driver thread (the slice
    is a view) or ship to a Spark task. A part boundary cuts at most one
    row, so the slices hold at most (parts - 1) · max deg values beyond
    the m of `flat`."""
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
    out = []
    for lo, hi in zip(bounds, bounds[1:]):
        f0, f1 = starts[lo], starts[hi - 1] + degs[hi - 1]
        rows = (starts[lo:hi] - f0, degs[lo:hi], i_lo[lo:hi], i_hi[lo:hi])
        out.append((flat[f0:f1], *rows))
    return out


def _count_parts(parts: list[tuple], keys: np.ndarray, key_base: int, sc=None):
    """Closed wedges of the self-contained `parts` (`_wedge_parts`)
    against the sorted edge `keys`, one per-part count on either side:

    - `sc` None: driver threads, one per CPU at most — numpy releases
      the GIL in the enumerate and probe kernels;
    - a SparkContext: one task per part (`parallelize` keeps part i in
      task i) against the broadcast keys — one job, no shuffle.

    Each part walks in blocks of at most `wk.DEFAULT_BLOCK_PAIRS` pairs,
    the per-task memory bound. Returns the count and the enumerate/probe
    seconds summed over the parts."""

    def count(part: tuple, keys: np.ndarray) -> tuple[int, dict]:
        timings: dict = {}
        n = wk.count_closed(wk.wedge_blocks(*part), keys, key_base, timings=timings)
        return n, timings

    if not parts:
        done = []
    elif sc is None:
        with ThreadPoolExecutor(min(len(parts), len(os.sched_getaffinity(0)))) as pool:
            done = list(pool.map(lambda part: count(part, keys), parts))
    else:
        keys_bc = sc.broadcast(keys)
        try:
            done = (
                sc.parallelize(parts, len(parts))
                .map(lambda part: count(part, keys_bc.value))
                .collect()
            )
        finally:
            keys_bc.destroy()
    timings = {
        k: sum(t.get(k, 0.0) for _, t in done) for k in ("enum_sec", "probe_sec")
    }
    return sum(n for n, _ in done), timings


def _wedge_fused(
    spark: SparkSession,
    edges: DataFrame,
    mark,
    phase_metrics: dict | None,
    lane: dict,
    max_collect_edges: int | None = None,
) -> DataFrame | None:
    """Collect-first wedge count (broadcast-closure regime). Its first
    job is one narrow Arrow collect of the clean input (self loops
    dropped; no shuffle, no persist). Dedup and canonical id order are
    numpy on the driver, then one oriented CSR (`_oriented_csr`) and
    one equal-wedge split (`_wedge_parts`, one part per CPU or Spark
    slot, whichever is more), and the oriented wedge count W = Σ
    d⁺(d⁺−1)/2 picks the side that counts those parts (`_count_parts`):

    - W ≤ checkpointing.LOCAL_LANE_MAX_WEDGES: driver threads — the
      only Spark job is the collect;
    - otherwise one Spark count job, one task per part, against the
      broadcast sorted edge keys: no shuffle, no second read of the
      input.

    `lane` is the verdict (`checkpointing.lane_event`): it gains the
    canonical rows, W and the lane taken. Returns None, with
    lane["lane"] naming the fallback, when the path cannot apply: a
    vertex id that does not fit int64 edge keys ("relabel") or, after
    an entry on the size estimate (`max_collect_edges`), more canonical
    edges than the broadcast budget ("distributed")."""
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
    lane["rows"] = len(keys)
    if max_collect_edges is not None and len(keys) > max_collect_edges:
        # the estimate let in more canonical edges than the broadcast
        # budget: abort to the distributed pipeline
        lane["lane"] = "distributed"
        return None
    mark("prep_sec")

    sc = spark.sparkContext
    flat, starts, degs = _oriented_csr(keys, key_base)
    nparts = max(len(os.sched_getaffinity(0)), sc.defaultParallelism)
    parts = _wedge_parts(flat, starts, degs, nparts, wk.DEFAULT_BLOCK_PAIRS)
    wedges = int((degs * (degs - 1) // 2).sum())
    cap = checkpointing.LOCAL_LANE_MAX_WEDGES
    local = wedges <= cap
    lane.update(lane="local" if local else "spark", wedges=wedges, cap=cap, unit="wedges")
    mark("build_sec")

    total, timings = _count_parts(parts, keys, key_base, None if local else sc)
    _record_split(phase_metrics, timings)
    mark("exec_sec")
    return _result(spark, total)


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
    split_budget: int,
    clustered_by_src: bool,
    caches: list,
    stats: dict | None,
) -> DataFrame:
    """Two-lane wedge-parallel count over degree-oriented edges."""
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
    return _close(spark, oriented, key_base, m, closure, lanes)


def _close(
    spark: SparkSession,
    oriented: DataFrame,
    key_base: int,
    m: int | None,
    closure: str,
    lanes: list,
) -> DataFrame:
    """The closure step shared by the wedge, arrow and vertex
    strategies. `lanes` are (frame, reader) pairs of wedge rows over
    `oriented` (m edges; None when no stats action counted them).
    closure="auto" takes the broadcast probe up to BROADCAST_MAX_EDGES
    oriented edges and the distributed semi-join beyond. "broadcast"
    counts every lane against one probe (`_build_probe`);
    "join" emits every lane's wedge pairs, canonical by id, LEFT SEMI
    against the canonicalized edge set."""
    if closure == "auto":
        if m is None:
            m = oriented.count()
        closure = "broadcast" if m <= BROADCAST_MAX_EDGES else "join"
    if closure == "broadcast":
        probe = _build_probe(spark, oriented, key_base)
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
        result = _close(spark, oriented, key_base, m, closure, [(paths, _list_rows)])
    elif strategy == "vertex":
        rows = adjacency(oriented).filter(F.col("deg") >= 2).select(
            "v",
            "adj",
            "deg",
            F.lit(0).alias("i_lo"),
            (F.col("deg") - 1).alias("i_hi"),
        )
        result = _close(spark, oriented, key_base, m, closure, [(rows, _list_rows)])
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
