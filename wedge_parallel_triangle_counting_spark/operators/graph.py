"""Canonical edge-table operators.

Re-expresses the reference's preprocessing dataflow
(`/root/reference/tc.cu:561-787`: parse → self-loop filter →
symmetrize → sort/dedup → degree count → degree-ascending reorder →
relabel → orient → CSR) as DataFrame algebra. Every step is a plain
relational operator that Catalyst optimizes; no Python in the loop.

Scale notes (the target is ~10^12 pages / 10^13 edges):
- symmetrize+dedup is one shuffle (hash distinct, partial agg first);
- degrees is a two-phase hash aggregation;
- the degree-rank permutation (reference `tc.cu:697-723`) is a global
  order — a naive `row_number()` window serializes through ONE task.
  `degree_rank(method="scalable")` instead range-partitions by
  (degree, v), sorts within partitions, and adds per-partition offsets
  (classic zipWithIndex two-pass) so rank assignment is fully parallel.
- relabel is two shuffled equi-joins against the rank dictionary
  (`tc.cu:718-723,740-751`); the dictionary has one row per vertex so
  it is NOT broadcastable at web scale.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalize_edges(
    df: DataFrame,
    src: str = "src",
    dst: str = "dst",
    one_indexed: bool = False,
) -> DataFrame:
    """Cast endpoints to long and optionally shift 1-indexed input to
    0-indexed (reference `-z` flag handling, tc.cu:599-605)."""
    s = F.col(src).cast("long")
    d = F.col(dst).cast("long")
    if one_indexed:
        s, d = s - F.lit(1), d - F.lit(1)
    return df.select(s.alias("src"), d.alias("dst"))


def drop_self_loops(df: DataFrame) -> DataFrame:
    """Self-loop filter (reference tc.cu:607-619, P1)."""
    return df.filter(F.col("src") != F.col("dst"))


def dedup_edges(df: DataFrame) -> DataFrame:
    """Duplicate-edge elimination (reference tc.cu:652-670, P3).
    Hash-based distinct — Catalyst plans partial+final aggregation, the
    distributed analogue of the reference's sort-then-scan dedup."""
    return df.dropDuplicates(["src", "dst"])


def symmetrize(df: DataFrame) -> DataFrame:
    """Undirected semantics: emit both directions then dedup
    (reference tc.cu:611-618, P2/U1). Input may be dirty (self loops,
    duplicates); output is a clean symmetric simple graph."""
    clean = drop_self_loops(df)
    flipped = clean.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return dedup_edges(clean.unionByName(flipped))


def degrees(sym: DataFrame) -> DataFrame:
    """Per-vertex degree of a symmetric edge table → (v, degree).
    (reference A1, tc.cu:660-670). Two-phase hash agg."""
    return sym.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("degree"))


def degree_rank(deg: DataFrame, method: str = "scalable") -> DataFrame:
    """Degree-ascending dense rank permutation → (v, rank), rank 0-based.

    The reference sorts vertices by degree with ties broken by original
    id (tc.cu:697-723, O2) and relabels so that edge orientation
    low-rank→high-rank bounds the search-side degree. Ranks are a
    permutation of 0..n-1.

    method="window" uses a global row_number() window — correct but
    single-task at the sort boundary, fine for tests.
    method="scalable" (default) is the two-pass zipWithIndex pattern
    (ids.py): range-partition by the sort key, sort within partitions,
    count rows per partition, then one JVM column expression adds the
    partition's prefix-sum offset to the row's index within its
    partition — no single-task bottleneck and no Python worker.
    """
    if method == "window":
        w = Window.orderBy("degree", "v")
        return deg.select("v", (F.row_number().over(w) - F.lit(1)).alias("rank"))

    from .ids import assign_contiguous_ids

    return assign_contiguous_ids(deg, ["degree", "v"], id_col="rank").select(
        "v", "rank"
    )


# Below this vertex count the rank dictionary is hint-broadcast for the
# relabel joins (16 B/vertex → ~80 MB at the cap); beyond it the joins
# shuffle, which is the only option at web scale anyway.
RELABEL_BROADCAST_MAX = 5_000_000


def relabel(sym: DataFrame, ranks: DataFrame, n: int | None = None) -> DataFrame:
    """Map both endpoints through the (v → rank) permutation
    (reference J4, tc.cu:718-723,740-751): two equi-joins — broadcast
    hash joins when the dictionary is known small (n given), shuffled
    sort-merge otherwise."""
    if n is not None and n <= RELABEL_BROADCAST_MAX:
        ranks = F.broadcast(ranks)
    r_src = ranks.withColumnRenamed("v", "src").withColumnRenamed("rank", "src_rank")
    r_dst = ranks.withColumnRenamed("v", "dst").withColumnRenamed("rank", "dst_rank")
    return (
        sym.join(r_src, "src")
        .join(r_dst, "dst")
        .select(F.col("src_rank").alias("src"), F.col("dst_rank").alias("dst"))
    )


def orient(sym_ranked: DataFrame) -> DataFrame:
    """Degree-ordered edge orientation (reference P4, tc.cu:740-751):
    keep only rank(src) < rank(dst). Halves the symmetric edge count
    (tc.cu:729) and makes every triangle counted exactly once — the
    wedge center is always the lowest-ranked vertex."""
    return sym_ranked.filter(F.col("src") < F.col("dst"))


def orient_by_degree(sym: DataFrame, deg: DataFrame) -> DataFrame:
    """Orientation WITHOUT global relabeling: keep edges pointing from
    low (degree, id) to high (degree, id). Same triangle semantics as
    `relabel`+`orient` but keeps original vertex ids — two degree joins
    instead of a global rank (cheaper when ranks aren't needed
    downstream). Mirrors `experiments/tc_base.cu:640-651` generalized
    to degree order."""
    d_src = deg.select(F.col("v").alias("src"), F.col("degree").alias("d_src"))
    d_dst = deg.select(F.col("v").alias("dst"), F.col("degree").alias("d_dst"))
    joined = sym.join(d_src, "src").join(d_dst, "dst")
    keep = (F.col("d_src") < F.col("d_dst")) | (
        (F.col("d_src") == F.col("d_dst")) & (F.col("src") < F.col("dst"))
    )
    return joined.filter(keep).select("src", "dst")


def prepare_oriented(
    edges: DataFrame,
    caches: list | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """Full preprocessing pipeline: dirty edges → (oriented edges in
    rank space, rank dictionary, n). The rank space is 0..n-1 so the
    closure probe can use integer edge keys src*n+dst.

    Equivalent of reference read_graph+preprocess (tc.cu:561-787).
    If `caches` is given, the internally persisted frames are appended
    to it so the caller can unpersist them after its terminal action
    (library callers otherwise leak cached blocks across queries)."""
    # sym feeds both the degree count and the relabel joins — persist
    # so the symmetrize shuffle runs once.
    sym = symmetrize(normalize_edges(edges)).persist()
    if caches is not None:
        caches.append(sym)
    deg = degrees(sym)
    from .ids import assign_contiguous_ids_with_count

    # ranks are a JVM projection over the persisted range-sorted degree
    # table (appended to caches): both relabel joins read that cache,
    # so the degree sort runs once
    ranked, n = assign_contiguous_ids_with_count(
        deg, ["degree", "v"], "rank", caches=caches
    )
    ranks = ranked.select("v", "rank")
    oriented = orient(relabel(sym, ranks, n=n))
    return oriented, ranks, n


def build_sym_clustered(edges: DataFrame, npart: int, key: str = "src") -> DataFrame:
    """Dirty edges → clean symmetric simple graph hash-clustered by
    `key` (src or dst) on ONE edge-sized exchange: both directions come
    from a single scan (explode stays in whole-stage codegen), and the
    dedup's final aggregate reuses the hash(key) partitioning
    (ClusteredDistribution(src, dst) is satisfied by either single-key
    clustering — no second exchange). Iterative loops pick `key` to be
    their per-round join key so the loop starts co-located (plain
    symmetrize + repartition costs TWO edge exchanges)."""
    clean = drop_self_loops(normalize_edges(edges))
    both = clean.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst").repartition(npart, key)
    return both.dropDuplicates(["src", "dst"])


def prepare_oriented_fast(
    edges: DataFrame,
    npartitions: int | None = None,
    caches: list | None = None,
) -> tuple[DataFrame, DataFrame, int, int, dict]:
    """Fused preprocessing in ORIGINAL id space: dirty edges →
    (oriented, degrees, n, max_id, stats), with ONE edge-sized shuffle
    and ONE driver action (stats = {n, max_id, min_id, m_oriented,
    max_degree}).

    The whole chain runs on a single hash(src) partitioning:
    - union(clean, flipped) is repartitioned by src — the only
      edge-sized exchange;
    - dedup groups by (src, dst): HashPartitioning(src) already
      satisfies ClusteredDistribution(src, dst), so Catalyst plans the
      final aggregate WITHOUT a second exchange;
    - degrees group by src: same partitioning, no exchange;
    - orientation keeps (deg, id)-ascending edges via two joins against
      the degree table, broadcast below RELABEL_BROADCAST_MAX vertices
      (zero exchange) — so `oriented` leaves this function still
      clustered by hash(src), ready for the CSR lane with only a
      sortWithinPartitions.

    Replaces the relabel pipeline (3 edge-sized shuffles: dedup by
    (src,dst), degrees by src, post-relabel repartition) whenever the
    original ids fit integer edge keys ((max_id+1)² < 2⁶³); triangle
    semantics are identical because the closure probe canonicalizes
    keys by id (functions/wedge.py). Reference comparable: read_graph+
    preprocess, tc.cu:561-787, which is 93% of its end-to-end time.

    Caveat at 10^13 edges: hash(src) clustering makes a degree-d hub
    contribute d rows to one partition during dedup — bounded vs total
    partition size for real web graphs; the relabel path (hash by
    (src,dst)) remains available for adversarially skewed inputs.
    """
    spark = edges.sparkSession
    npart = npartitions or spark.sparkContext.defaultParallelism
    sym = build_sym_clustered(edges, npart).persist()
    if caches is not None:
        caches.append(sym)
    deg = sym.groupBy("src").agg(F.count("*").alias("degree"))
    # ONE stats action materializes sym AND yields every scalar the
    # downstream strategies need (n, max id, m, max degree) — callers
    # should not run further stats jobs (per-job launch latency is the
    # dominant cost at small scale, tc.cu's 'preprocessing' ledger)
    row = deg.agg(
        F.count("*").alias("n"),
        F.max("src").alias("mx"),
        F.min("src").alias("mn"),
        F.coalesce(F.sum("degree"), F.lit(0)).alias("m_sym"),
        F.max("degree").alias("max_deg"),
    ).collect()[0]
    n = row["n"]
    max_id = row["mx"] if row["mx"] is not None else -1

    oriented = orient_from_sym(sym, npart, n, deg=deg)
    deg_out = deg.select(F.col("src").alias("v"), "degree")
    stats = {
        "n": n,
        "max_id": max_id,
        "min_id": row["mn"] if row["mn"] is not None else 0,
        "m_oriented": int(row["m_sym"]) // 2,
        "max_degree": row["max_deg"] if row["max_deg"] is not None else 0,
    }
    return oriented, deg_out, n, max_id, stats


def orient_from_sym(
    sym: DataFrame, npart: int, n: int, deg: DataFrame | None = None
) -> DataFrame:
    """Degree-order orientation of a symmetric edge table in original id
    space via two degree joins (broadcast when the vertex table is known
    small). When `sym` is hash-clustered by src and the joins broadcast,
    the output keeps that clustering (zero extra exchange) — the fast
    prep's tail (tc_base.cu:640-651 generalized to degree order)."""
    if deg is None:
        deg = sym.groupBy("src").agg(F.count("*").alias("degree"))
    bc = n <= RELABEL_BROADCAST_MAX
    d_src = deg.select("src", F.col("degree").alias("d_src"))
    d_dst = deg.select(F.col("src").alias("dst"), F.col("degree").alias("d_dst"))
    if bc:
        d_src, d_dst = F.broadcast(d_src), F.broadcast(d_dst)
    keep = (F.col("d_src") < F.col("d_dst")) | (
        (F.col("d_src") == F.col("d_dst")) & (F.col("src") < F.col("dst"))
    )
    oriented = sym.join(d_src, "src").join(d_dst, "dst").filter(keep).select("src", "dst")
    if not bc:
        # the dst-side join re-clustered the edges by dst; restore the
        # src clustering the downstream CSR lane relies on
        oriented = oriented.repartition(npart, "src")
    return oriented


def degree_histogram(sym_deg: DataFrame) -> DataFrame:
    """Log2-binned degree histogram → (bucket, n_vertices, min_degree,
    max_degree), bucket = floor(log2(degree)). The standard power-law
    diagnostic over a web graph; two-phase agg over the degree table
    (n rows), output ~64 rows regardless of scale."""
    b = F.floor(F.log2(F.col("degree"))).cast("long")
    return (
        sym_deg.groupBy(b.alias("bucket"))
        .agg(
            F.count("*").alias("n_vertices"),
            F.min("degree").alias("min_degree"),
            F.max("degree").alias("max_degree"),
        )
    )


def _degree_ends(edges: DataFrame) -> DataFrame:
    """(x, y) endpoint-degree pairs for every directed edge of the
    clean symmetric graph — the shared input of the assortativity
    coefficient and the knn(d) profile (and of their oracles' common
    `ends` CTE)."""
    sym = symmetrize(normalize_edges(edges))
    deg = degrees(sym)
    return (
        sym.join(deg.select(F.col("v").alias("src"), F.col("degree").alias("x")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("degree").alias("y")), "dst")
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation between the endpoint degrees of every directed edge
    of the clean symmetric graph. One row:
    (n_edge_ends, sxy, sxx, assortativity).

    Hash-stable AND overflow-safe by construction: the sufficient
    statistics are aggregated as DECIMAL(38,0) (n·Σx² for a 10¹²-edge
    graph with 10⁷-degree hubs exceeds int64 by orders of magnitude —
    a silent wrap would flip the coefficient's sign); DuckDB's BIGINT
    sums widen to HUGEINT, the same exact-integer semantics. The
    centered moments sxy = n·Σxy − Σx·Σy and sxx = n·Σx² − (Σx)²
    (symmetric graph ⇒ the y-moment equals sxx) are emitted as
    DOUBLE — both engines convert the same exact integer with IEEE
    nearest-even, so the values still compare bit-for-bit. Exactness
    bound: DECIMAL(38) holds n·Σx² up to ~10³⁸ (DuckDB's HUGEINT is
    ~1.7·10³⁸) — beyond that Spark yields NULL (loud), never a
    silent wrap. Plan: degree agg + two joins + one global agg —
    1 row at any scale."""
    dec = "decimal(38,0)"
    stats = _degree_ends(edges).agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("pxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("pxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("pyy"),
    )
    n = F.col("n")
    sxy = n * F.col("pxy") - F.col("sx") * F.col("sy")
    sxx = n * F.col("pxx") - F.col("sx") * F.col("sx")
    syy = n * F.col("pyy") - F.col("sy") * F.col("sy")
    return stats.select(
        n.cast("long").alias("n_edge_ends"),
        sxy.cast("double").alias("sxy"),
        sxx.cast("double").alias("sxx"),
        F.round(
            sxy.cast("double")
            / (F.sqrt(sxx.cast("double")) * F.sqrt(syy.cast("double"))),
            6,
        ).alias("assortativity"),
    )


def neighbor_degree_curve(edges: DataFrame) -> DataFrame:
    """The assortativity PROFILE knn(d): for each degree value d,
    (degree, n_vertices, avg_nbr_degree_micro) — the mean degree of
    the neighbors of degree-d vertices, in exact integer micro-units.
    The curve behind the single coefficient degree_assortativity
    emits (rising = assortative, falling = hub-periphery). Output is
    #distinct-degrees rows (≤ a few hundred on a power-law graph)."""
    ends = _degree_ends(edges)
    sym = symmetrize(normalize_edges(edges))
    deg = degrees(sym)
    per_degree = ends.groupBy(F.col("x").alias("degree")).agg(
        F.sum("y").alias("sum_nbr_deg"),
        F.count(F.lit(1)).alias("n_ends"),
    )
    n_vertices = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vertices"))
    return (
        per_degree.join(n_vertices, "degree")
        .select(
            "degree",
            "n_vertices",
            F.expr("(sum_nbr_deg * 1000000) DIV n_ends").alias(
                "avg_nbr_degree_micro"
            ),
        )
    )


def adjacency(oriented: DataFrame) -> DataFrame:
    """Grouped adjacency layout → (v, adj sorted array, deg)
    (reference CSR build, tc.cu:658-677 + segmented sort tc.cu:763-784).
    One shuffle (groupBy v); sort_array is the segmented adjacency sort."""
    return oriented.groupBy(F.col("src").alias("v")).agg(
        F.sort_array(F.collect_list("dst")).alias("adj"),
        F.count("*").alias("deg"),
    )


# Keys with at least WEDGE_SALT_MIN_DEG items have their pairs spread
# over WEDGE_SALT_SPLITS join tasks (wedge_pairs' hub lane).
WEDGE_SALT_MIN_DEG = 4096
WEDGE_SALT_SPLITS = 32


def wedge_pairs(
    inc: DataFrame,
    max_key_deg: int | None = None,
    key_weight: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """Lazy DataFrame (a, b, n[, wsum]): every item pair a < b of the
    DISTINCT (key, item) incidence `inc` that shares at least one key,
    n = the number of shared keys — the open-wedge endpoint relation,
    whether the wedge center is a vertex (butterflies, 4-cycles, common
    neighbors) or a shingle (near-duplicate documents). A key of degree
    d contributes C(d, 2) pairs, so the cost is Σ d², quadratic in the
    largest key.

    One per-key degree serves three purposes:
    - `max_key_deg` drops keys of higher degree (the stop-shingle /
      hub-center cap; None keeps every key);
    - keys with a single item, which pair with nothing, never reach
      the self-join;
    - keys of degree >= WEDGE_SALT_MIN_DEG take a salted lane: one side
      salted by hash(item), the other replicated over all
      WEDGE_SALT_SPLITS salts, so each pair meets exactly once, at
      salt(a), and a degree-d key costs d²/splits per task instead of
      d² in one. The other keys self-join on the key alone and pay
      nothing for it.

    `key_weight` maps the degree column to a per-key weight; the pairs
    then carry wsum = Σ weight over their shared keys.

    When `inc` is cached hash-clustered by key (the motif, link
    prediction and mirror-host callers build it with one exchange),
    the degree, its join and the self-join reuse that clustering: the
    only new exchanges are the pair aggregation's and, for hub keys
    only, the salted join's."""
    deg = inc.groupBy("key").agg(F.count(F.lit(1)).alias("deg"))
    keep = F.col("deg") >= 2
    if max_key_deg is not None:
        keep = keep & (F.col("deg") <= max_key_deg)
    t = inc.join(deg.filter(keep), "key")
    a_cols = ["key", F.col("item").alias("a")]
    aggs = [F.count(F.lit(1)).alias("n")]
    if key_weight is not None:
        a_cols.append(key_weight(F.col("deg")).alias("w"))
        aggs.append(F.sum("w").alias("wsum"))
    hub = F.col("deg") >= WEDGE_SALT_MIN_DEG
    flat, hubs = t.filter(~hub), t.filter(hub)
    salt = F.pmod(F.xxhash64("item"), F.lit(WEDGE_SALT_SPLITS)).cast("int")
    salts = F.sequence(F.lit(0), F.lit(WEDGE_SALT_SPLITS - 1))
    wedges = flat.select(*a_cols).join(
        flat.select("key", F.col("item").alias("b")), "key"
    ).unionByName(
        hubs.select(*a_cols, salt.alias("salt"))
        .join(
            hubs.select("key", F.col("item").alias("b"), F.explode(salts).alias("salt")),
            ["key", "salt"],
        )
        .drop("salt")
    )
    return wedges.filter(F.col("a") < F.col("b")).groupBy("a", "b").agg(*aggs)


def common_neighbors(oriented: DataFrame, adj: DataFrame) -> DataFrame:
    """(src, dst, common) for every edge of `oriented`, common = the
    array intersection adj(src) ∩ adj(dst) — the one adjacency-
    intersection listing behind the triangle query as a worst-case-
    optimal join (Ngo et al., PODS 2018): every common neighbor closes
    one triangle over the edge (the tc_edge layout,
    experiments/tc_edge.cu). `adj` is the caller's (v, adj) adjacency
    of the same edges — `adjacency(oriented)` or an equivalent layout —
    so the caller decides whether it is persisted and how it is
    planned."""
    a_src = adj.select(F.col("v").alias("src"), F.col("adj").alias("adj_src"))
    a_dst = adj.select(F.col("v").alias("dst"), F.col("adj").alias("adj_dst"))
    return (
        oriented.join(a_src, "src")
        .join(a_dst, "dst")
        .select("src", "dst", F.array_intersect("adj_src", "adj_dst").alias("common"))
    )
