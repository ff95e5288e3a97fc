"""Plan-quality assertions: the optimizations we rely on at 100 TB
must actually appear in the physical plan (column pruning, filter
pushdown, broadcast joins). Guard against regressions that silently
turn a pruned scan into a full-table read."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _read_schema(df) -> str:
    import re

    plan = _plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    return m.group(1)


def test_token_count_prunes_text_only(spark):
    from wedge_parallel_triangle_counting_spark.operators.textstats import token_count

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    schema = _read_schema(token_count(docs))
    # the scan must not materialize the unused wide columns
    assert "source" not in schema
    assert "n_chars" not in schema
    assert "text" in schema


def test_derived_edges_scan_prunes_lineitem(spark):
    from wedge_parallel_triangle_counting_spark.plans import testdata

    df = testdata.derived_edges(spark, SF)
    schema = _read_schema(df)
    assert "l_extendedprice" not in schema
    assert "l_shipdate" not in schema
    assert "l_orderkey" in schema


def test_query_filter_pushdown(spark):
    from wedge_parallel_triangle_counting_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(cosine_topk(emb, query_limit=10))
    assert "PushedFilters" in plan
    assert "LessThan(vec_id,10)" in plan.replace(" ", "").replace("`", "") or "LessThan" in plan


def test_fused_prep_single_edge_shuffle(spark):
    """prepare_oriented_fast: exactly ONE edge-sized exchange — dedup,
    degrees, orientation joins and the CSR sort all reuse the initial
    hash(src) partitioning (VERDICT r1 item 1)."""
    from wedge_parallel_triangle_counting_spark.operators.graph import (
        prepare_oriented_fast,
    )
    from wedge_parallel_triangle_counting_spark.plans import testdata

    edges = testdata.derived_edges(spark, SF)
    caches: list = []
    oriented, _deg, _n, _mx, _st = prepare_oriented_fast(edges, 8, caches=caches)
    plan = _plan(oriented.sortWithinPartitions("src", "dst"))
    import re

    # Shuffle exchanges (BroadcastExchange of the tiny degree table is
    # expected and fine). The cached AQE subtree prints both a Final
    # and an Initial rendering of the SAME exchange, and once per
    # reference — skip Initial sections and dedupe by plan_id.
    shuffles = set()
    in_initial = False
    for line in plan.splitlines():
        if "== Initial Plan ==" in line:
            in_initial = True
        elif "== Final Plan ==" in line:
            in_initial = False
        elif not in_initial:
            m = re.search(r"Exchange (hash|range)partitioning[^\[]*\[plan_id=(\d+)\]", line)
            if m:
                shuffles.add((m.group(1), m.group(2)))
    assert len(shuffles) <= 1, plan
    assert all(kind == "hash" for kind, _ in shuffles), plan
    # the in-partition sort must not be a global sort
    assert "Sort [src" in plan and ", false, 0" in plan
    for c in caches:
        c.unpersist()


def test_wedge_range_partitioner_is_range_partitioning(spark):
    """The wedge-balanced flat lane (`_wedge_range_flat`, taken when the
    graph has hubs) must produce a RangePartitioning exchange on the
    wedge-cumsum pid (VERDICT r1 item 7)."""
    from wedge_parallel_triangle_counting_spark.operators.graph import (
        prepare_oriented_fast,
    )
    from wedge_parallel_triangle_counting_spark.operators.triangles import (
        _wedge_range_flat,
    )
    from wedge_parallel_triangle_counting_spark.plans import testdata

    edges = testdata.derived_edges(spark, SF)
    caches: list = []
    oriented, _deg, _n, _mx, _st = prepare_oriented_fast(edges, 8, caches=caches)
    odeg = oriented.groupBy("src").agg(F.count("*").alias("deg"))
    flat = _wedge_range_flat(oriented, odeg, 8, caches)
    plan = _plan(flat)
    assert "rangepartitioning(pid" in plan, plan
    for c in caches:
        c.unpersist()


def test_labelprop_round_never_exchanges_edge_table(spark, monkeypatch):
    """Labelprop loop shape (r3), driven through `label_propagation`
    itself in its big-state regime (the broadcast gate forced off, and
    broadcast joins disabled, to get the at-scale SortMergeJoin plan):
    the symmetric edge table is clustered once on the round's join key
    (dst) at the shuffle partition count, so a steady-state round must
    not re-exchange the edge cache. What remains is vertex-sized: the
    vote aggregation above its map-side partial combine, the argmax
    window over the votes, and at most one exchange of the carried
    labels (a checkpointed AQE result reports UnknownPartitioning)."""
    import wedge_parallel_triangle_counting_spark.operators.checkpointing as CP
    from wedge_parallel_triangle_counting_spark.operators.labelprop import (
        label_propagation,
    )

    rounds = {}
    step = CP.CheckpointedLoop.step

    def recording_step(self, df, iteration, *args, **kwargs):
        if self.name == "labelprop" and iteration == 2:
            rounds[iteration] = _shuffle_exchanges(df)
        return step(self, df, iteration, *args, **kwargs)

    monkeypatch.setattr(CP.CheckpointedLoop, "step", recording_step)
    monkeypatch.setattr(CP, "LOOP_BROADCAST_INPUT_MAX", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            (F.col("l_orderkey") % 601).alias("src"),
            (F.col("l_partkey") % 601).alias("dst"),
        )
        assert label_propagation(edges, num_iters=3).count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old)
    exchanges = rounds[2]
    assert not _edge_sized(exchanges), exchanges
    assert {x[0] for x in exchanges if _combined(x)} == {("v", "label")}, exchanges
    state = _state_sized(exchanges)
    assert len(state) <= 1, exchanges
    # the argmax window's exchange moves the votes, cut per vertex by a
    # map-side partial row_number limit
    window = [x for x in exchanges if x[3].startswith("WindowGroupLimit")]
    assert len(window) + len(state) + 1 == len(exchanges), exchanges


def test_bucketed_edges_aggregate_without_exchange(spark, tmp_path):
    """Bucketed storage is the pay-the-shuffle-once path: a src-keyed
    aggregation over a bucketBy(src) table must plan NO shuffle
    exchange — the scan's partitioning already satisfies the
    distribution."""
    from wedge_parallel_triangle_counting_spark.sources.bucketed import (
        drop_bucketed,
        read_edges_bucketed,
        write_edges_bucketed,
    )

    edges = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        (F.col("l_orderkey") % 601).alias("src"),
        (F.col("l_partkey") % 601).alias("dst"),
    )
    table = "bucketed_edges_plan_test"
    write_edges_bucketed(edges, table, num_buckets=8, path=str(tmp_path / "be"))
    try:
        be = read_edges_bucketed(spark, table)
        deg = be.groupBy("src").agg(F.count("*").alias("deg"))
        deg.count()
        plan = _plan(deg)
        assert not _shuffle_exchanges(deg), plan
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan
        # same degrees as the unbucketed path
        expected = sorted(
            (r["src"], r["deg"])
            for r in edges.groupBy("src").agg(F.count("*").alias("deg")).collect()
        )
        got = sorted((r["src"], r["deg"]) for r in deg.collect())
        assert got == expected
    finally:
        drop_bucketed(spark, table)


def test_relabel_broadcasts_small_dictionary(spark):
    from wedge_parallel_triangle_counting_spark.operators import graph as G

    from .conftest import K4, edges_df

    sym = G.symmetrize(edges_df(spark, K4))
    deg = G.degrees(sym)
    ranks = G.degree_rank(deg, "window")
    plan = _plan(G.relabel(sym, ranks, n=4))
    assert "BroadcastHashJoin" in plan


def test_hits_round_never_exchanges_edge_table(spark):
    """HITS loop shape (r4): with dual aligned edge copies (hash(src)
    and hash(dst), both at loop_partitions) and hash(v) state, a
    steady-state iteration must read both edge caches with NO
    edge-sized re-exchange. The exchanges allowed are the two
    contribution aggregations, which sit above a map-side partial
    HashAggregate (the shuffled payload is combiner-reduced, not
    edge-sized), and the vertex-sized exchange of the carried hub
    state (a checkpointed AQE result reports UnknownPartitioning). An
    exchange that moves a scan of an edge cache fails the test.
    Broadcast disabled to force the at-scale SortMergeJoin plan."""
    from wedge_parallel_triangle_counting_spark.operators.checkpointing import (
        CheckpointedLoop,
        loop_partitions,
    )
    from wedge_parallel_triangle_counting_spark.operators.graph import (
        normalize_edges,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.read.parquet(f"{SF}/orders.parquet").select(
            (F.col("o_custkey") % 601).alias("src"),
            (F.col("o_orderkey") % 601).alias("dst"),
        )
        npart = loop_partitions(spark)
        e = (
            normalize_edges(edges)
            .filter(F.col("src") != F.col("dst"))
            .repartition(npart, "dst")
            .dropDuplicates(["src", "dst"])
            .persist()
        )
        e_src = e.repartition(npart, "src").persist()
        verts = (
            e.select(F.col("src").alias("v"))
            .unionByName(e.select(F.col("dst").alias("v")))
            .distinct()
            .repartition(npart, "v")
        )
        loop = CheckpointedLoop(spark, "hits_plan", None, 5)
        state = verts.select(
            "v", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
        )
        for it in range(3):
            a_un = (
                e_src.join(state.select(F.col("v").alias("src"), "hub"), "src")
                .filter(F.col("hub") != 0.0)
                .groupBy(F.col("dst").alias("v"))
                .agg(F.sum("hub").alias("a_raw"))
            )
            h_un = (
                e.join(a_un.select(F.col("v").alias("dst"), "a_raw"), "dst")
                .groupBy(F.col("src").alias("v"))
                .agg(F.sum("a_raw").alias("h_raw"))
            )
            new_state = h_un.join(a_un, "v", "full").select(
                "v",
                F.coalesce("h_raw", F.lit(0.0)).alias("hub"),
                F.coalesce("a_raw", F.lit(0.0)).alias("authority"),
            )
            if it == 2:
                exchanges = _shuffle_exchanges(new_state)
            state = loop.step(new_state, it, eager=False)
        state.count()
        e.unpersist()
        e_src.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old)
    # the plan repeats the authority half-step's subtree (it feeds the
    # hub half-step and the output join), so exchanges are compared by
    # key. Both contribution aggregations are there, and everything
    # else moves the carried hub state, never an edge cache
    assert not _edge_sized(exchanges), exchanges
    assert {x[0] for x in exchanges if _combined(x)} == {("src",), ("dst",)}
    state = _state_sized(exchanges)
    assert {x[0] for x in state} <= {("src",)}, exchanges
    assert all(_combined(x) or x in state for x in exchanges), exchanges


def _shuffle_exchanges(df) -> list[tuple[tuple[str, ...], str, str, str]]:
    """(hash keys, shuffle origin, child node, input node) of every
    shuffle exchange in `df`'s own physical plan tree, walked on the
    JVM side. Unlike a text scan of the plan string, the walk does not
    descend into the plans that built the cached relations the query
    scans. The input node is the first one under the exchange below
    any Project/Filter: what the exchange actually moves."""

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    found = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        if name == "ShuffleExchangeExec":
            part = node.outputPartitioning()
            keys = ()
            if part.getClass().getSimpleName() == "HashPartitioning":
                keys = tuple(e.toString().split("#")[0] for e in seq(part.expressions()))
            src = node.child()
            while src.getClass().getSimpleName() in ("ProjectExec", "FilterExec"):
                src = src.child()
            found.append(
                (
                    keys,
                    node.shuffleOrigin().toString(),
                    node.child().simpleString(25),
                    src.simpleString(25),
                )
            )
        for child in seq(node.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return found


def _edge_sized(exchanges):
    """Exchanges that move a scan of a persisted cache. In the loop
    rounds tested here the only caches are the edge tables, so each
    of these re-shuffles the edge table every round."""
    return [x for x in exchanges if x[3].startswith("InMemoryTableScan")]


def _state_sized(exchanges):
    """Exchanges of the checkpointed loop state (vertex-sized)."""
    return [x for x in exchanges if x[3].startswith("Scan ExistingRDD")]


def _combined(exchange):
    """An aggregation exchange above its map-side partial combine: the
    payload is combiner-reduced, not edge-sized."""
    return exchange[3].startswith("HashAggregate") and "partial_" in exchange[3]


def test_pagerank_round_never_exchanges_edge_table(spark, monkeypatch):
    """PageRank loop shape, driven through `pagerank` itself: the edge
    cache is hash(src)-clustered once in `_prepare`, so a steady-state
    round's contribution join must add NO single-key exchange on src
    (that would re-shuffle the edge table every round). The fused
    contribution+carry aggregation on v, above its map-side partial
    HashAggregate, must be there. The carried state is a lazily
    checkpointed AQE result, which reports UnknownPartitioning, so its
    vertex-sized side may be exchanged on v. Broadcast disabled to
    force the at-scale SortMergeJoin plan, and the Spark lane pinned:
    this parquet input fits the driver-local lane, which has no plan."""
    from wedge_parallel_triangle_counting_spark.operators import checkpointing
    from wedge_parallel_triangle_counting_spark.operators.checkpointing import (
        CheckpointedLoop,
    )
    from wedge_parallel_triangle_counting_spark.operators.pagerank import pagerank

    rounds = {}
    step = CheckpointedLoop.step

    def recording_step(self, df, iteration, *args, **kwargs):
        if self.name == "pagerank" and iteration == 2:
            rounds[iteration] = (
                _shuffle_exchanges(df),
                df._jdf.queryExecution().executedPlan().toString(),
            )
        return step(self, df, iteration, *args, **kwargs)

    monkeypatch.setattr(CheckpointedLoop, "step", recording_step)
    monkeypatch.setattr(checkpointing, "LOCAL_LANE_MAX_EDGES", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.read.parquet(f"{SF}/orders.parquet").select(
            (F.col("o_custkey") % 601).alias("src"),
            (F.col("o_orderkey") % 601).alias("dst"),
        )
        assert pagerank(edges, num_iters=3).count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old)
    exchanges, plan = rounds[2]
    assert "SortMergeJoin" in plan and "InMemoryTableScan" in plan, plan
    keyed = [x for x in exchanges if x[1] == "ENSURE_REQUIREMENTS"]
    assert not [x for x in keyed if x[0] == ("src",)], exchanges
    fused = [
        x for x in keyed
        if x[0] == ("v",) and x[2].startswith("HashAggregate") and "partial_" in x[2]
    ]
    assert len(fused) == 1, exchanges


def test_eigencentrality_round_single_edge_exchange(spark):
    """Eigencentrality loop shape: sym is hash(src)-clustered once
    (build_sym_clustered), so a steady-state iteration's only
    edge-side exchange is the contribution aggregation's — and that one
    sits above a map-side partial HashAggregate (combiner-reduced
    payload, not edge-sized). The carried score state may be exchanged
    on its join key (vertex-sized). An exchange that moves a scan of
    the edge cache would mean it is re-shuffled every round. Broadcast
    disabled to force the at-scale SortMergeJoin plan."""
    from wedge_parallel_triangle_counting_spark.operators.checkpointing import (
        CheckpointedLoop,
        loop_partitions,
    )
    from wedge_parallel_triangle_counting_spark.operators.graph import (
        build_sym_clustered,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.read.parquet(f"{SF}/orders.parquet").select(
            (F.col("o_custkey") % 601).alias("src"),
            (F.col("o_orderkey") % 601).alias("dst"),
        )
        npart = loop_partitions(spark)
        sym = build_sym_clustered(edges, npart, key="src").persist()
        sym.count()
        loop = CheckpointedLoop(spark, "eigen_plan", None, 5)
        state = (
            sym.select(F.col("src").alias("v"))
            .distinct()
            .select("v", F.lit(1.0).alias("score"))
        )
        for it in range(3):
            raw = (
                sym.join(state.withColumnRenamed("v", "src"), "src")
                .groupBy(F.col("dst").alias("v"))
                .agg(F.sum("score").alias("x"))
            )
            nrm = raw.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
            new_state = raw.crossJoin(F.broadcast(nrm)).select(
                "v", (F.col("x") / F.col("nrm")).alias("score")
            )
            if it == 2:
                exchanges = _shuffle_exchanges(new_state)
            state = loop.step(new_state, it, eager=False)
        state.count()
        sym.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old)
    # the plan repeats the contribution subtree (it feeds the norm and
    # the division), so exchanges are compared by key: the contribution
    # aggregation on dst and the 1-row norm, both above their partial
    # combine, and the carried score state on its join key
    assert not _edge_sized(exchanges), exchanges
    assert {x[0] for x in exchanges if _combined(x)} == {("dst",), ()}, exchanges
    state = _state_sized(exchanges)
    assert {x[0] for x in state} <= {("src",)}, exchanges
    assert all(_combined(x) or x in state for x in exchanges), exchanges


def test_lm_buckets_plan_has_no_single_partition_sort(spark):
    """lm_buckets' per-lang ranking must stay distributed: a
    `ntile().over(partitionBy(lang))` would sort every document of a
    language in ONE task (on a real crawl `en` is >50% of documents).
    The rewrite uses the two-pass range-partitioned rank, so the
    executed plan must contain no Window operator and no
    SinglePartition exchange anywhere."""
    from wedge_parallel_triangle_counting_spark.operators.textstats import lm_buckets

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(lm_buckets(docs))
    assert "Window" not in plan, plan
    # SinglePartition exchanges only for 1-row scalar aggregates
    # (lm_score's global vocab countDistinct — map-side combined);
    # never feeding a Sort, which would be the single-task ranking.
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            parent = lines[i - 1] if i else ""
            assert "Sort" not in parent, plan
    # and the data-path sort is the range-partitioned kind
    assert "rangepartitioning" in plan.lower(), plan


def _own_nodes(df) -> list[tuple[str, str]]:
    """(class name, one-line description) of every node in `df`'s own
    executed plan, walked like `_shuffle_exchanges`: through AQE and
    its query stages, never into the plans that built cached
    relations."""

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    found = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        found.append((name, node.simpleString(1000)))
        for child in seq(node.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return found


def _intersections_and_generates(df) -> tuple[int, int]:
    nodes = _own_nodes(df)
    return (
        sum(desc.count("array_intersect(") for _, desc in nodes),
        sum(1 for name, _ in nodes if name == "GenerateExec"),
    )


def test_edge_support_intersects_once(spark):
    """truss._support lists each edge's common neighbors once and
    emits every triangle's 3 member edges from that one Generate: one
    array_intersect and one Generate in the plan. A union of three
    projections of the triangle listing repeats both joins and the
    intersection per branch, and k_truss pays that every peel round."""
    from wedge_parallel_triangle_counting_spark.operators.checkpointing import (
        loop_partitions,
    )
    from wedge_parallel_triangle_counting_spark.operators.truss import (
        _support,
        canonical_edges,
    )
    from wedge_parallel_triangle_counting_spark.plans import testdata

    edges = testdata.derived_pagerank_edges(spark, SF)
    und = canonical_edges(edges, loop_partitions(spark)).persist()
    try:
        assert _intersections_and_generates(_support(und)) == (1, 1)
    finally:
        und.unpersist()


def test_per_vertex_triangles_intersects_once(spark):
    """clustering._per_vertex_triangles emits each triangle's 3
    corners from one pass over the common-neighbor listing: one
    array_intersect (no `size(common) > 0` copy pushed into a join
    condition) and one Generate beyond those of the cached prep."""
    from wedge_parallel_triangle_counting_spark.operators.clustering import (
        _per_vertex_triangles,
    )
    from wedge_parallel_triangle_counting_spark.plans import testdata

    edges = testdata.derived_pagerank_edges(spark, SF)
    caches: list = []
    try:
        pv = _per_vertex_triangles(edges, caches=caches)
        assert _intersections_and_generates(pv) == (1, 1)
    finally:
        for c in caches:
            c.unpersist()
