"""Round-4 pipeline operators: HLL / count-min sketches, mirror-host
detection, BM25 retrieval, seeded label propagation, snapshot diff,
crawl frontier, component-size histogram."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from tests.conftest import TWO_COMP, edges_df


def _strs(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "val string")


# -- HLL -------------------------------------------------------------------


def test_hll_deterministic_and_partition_independent(spark):
    from wedge_parallel_triangle_counting_spark.operators.sketches import hll_distinct

    vals = [f"item-{i}" for i in range(5000)]
    a = hll_distinct(_strs(spark, vals), "val").collect()[0]
    b = hll_distinct(_strs(spark, vals).repartition(7), "val").collect()[0]
    assert a == b  # integer register math is partition-independent
    assert a["n_exact"] == 5000
    assert a["m"] == 256
    # m=256 HLL has ~6.5% relative standard error; accept 4 sigma
    assert abs(a["est_distinct"] - 5000) < 5000 * 0.26


def test_hll_duplicates_do_not_move_registers(spark):
    from wedge_parallel_triangle_counting_spark.operators.sketches import hll_distinct

    base = [f"x{i}" for i in range(800)]
    once = hll_distinct(_strs(spark, base), "val").collect()[0]
    thrice = hll_distinct(_strs(spark, base * 3), "val").collect()[0]
    assert once["harmonic_sum"] == thrice["harmonic_sum"]
    assert once["est_distinct"] == thrice["est_distinct"]
    assert thrice["n_exact"] == 800


def test_hll_empty_registers_counted(spark):
    from wedge_parallel_triangle_counting_spark.operators.sketches import hll_distinct

    row = hll_distinct(_strs(spark, ["a", "b", "c"]), "val").collect()[0]
    # 3 values -> at most 3 occupied registers; the other 253 must
    # contribute 2^52 each to the harmonic sum
    assert row["v_zero"] >= 253
    assert row["harmonic_sum"] >= row["v_zero"] * (1 << 52)


# -- count-min ---------------------------------------------------------------


def test_countmin_never_undercounts_and_hits_exact(spark):
    from wedge_parallel_triangle_counting_spark.operators.sketches import (
        countmin_estimates,
    )

    vals = ["a"] * 50 + ["b"] * 30 + [f"noise{i}" for i in range(100)]
    out = countmin_estimates(_strs(spark, vals), "val", probe_k=5).collect()
    assert out[0]["val"] == "a" and out[0]["n_exact"] == 50
    assert out[1]["val"] == "b" and out[1]["n_exact"] == 30
    for r in out:
        assert r["est_n"] >= r["n_exact"]  # count-min property
        assert r["over_ppm"] >= 0
    # 130 items over 4x1024 buckets: collisions are possible but the
    # heavy keys' estimates stay within the sum of all counts
    assert out[0]["est_n"] <= 180


def test_countmin_partition_independent(spark):
    from wedge_parallel_triangle_counting_spark.operators.sketches import (
        countmin_estimates,
    )

    vals = [f"t{i % 37}" for i in range(500)]
    a = countmin_estimates(_strs(spark, vals), "val", probe_k=10).collect()
    b = countmin_estimates(
        _strs(spark, vals).repartition(5), "val", probe_k=10
    ).collect()
    assert a == b


# -- mirror hosts -------------------------------------------------------------


def _host_fp(spark, rows):
    return spark.createDataFrame(rows, "host string, fp string")


def test_mirror_host_pairs_basic(spark):
    from wedge_parallel_triangle_counting_spark.operators.mirrors import (
        mirror_host_pairs,
    )

    rows = (
        [("h1", f"f{i}") for i in range(8)]
        + [("m1", f"f{i}") for i in range(4)]  # mirrors half of h1
        + [("h2", "g0"), ("h2", "g1")]  # disjoint host
    )
    out = mirror_host_pairs(_host_fp(spark, rows), min_shared=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["host_a"], r["host_b"]) == ("h1", "m1")
    assert r["shared"] == 4 and r["n_a"] == 8 and r["n_b"] == 4
    assert r["jaccard_ppm"] == 4 * 1_000_000 // 8  # 4/(8+4-4)


def test_mirror_host_pairs_stop_fingerprint_cap(spark):
    from wedge_parallel_triangle_counting_spark.operators.mirrors import (
        mirror_host_pairs,
    )

    # "parked domain" template fp on every host + one genuine pair
    rows = [(f"h{i}", "template") for i in range(6)] + [
        ("h0", "u1"),
        ("h0", "u2"),
        ("h1", "u1"),
        ("h1", "u2"),
    ]
    capped = mirror_host_pairs(
        _host_fp(spark, rows), min_shared=2, max_hosts_per_fp=3
    ).collect()
    assert len(capped) == 1  # template fp dropped from the index
    assert capped[0]["shared"] == 2
    # sizes still count the capped fp (it belongs to the host's set)
    assert capped[0]["n_a"] == 3 and capped[0]["n_b"] == 3


# -- BM25 ---------------------------------------------------------------------


def test_bm25_ranks_tf_and_length(spark):
    from wedge_parallel_triangle_counting_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple"),  # high tf, short
            (2, "apple " + "pad " * 40),  # tf 1, long
            (3, "apple apple " + "pad " * 3),  # tf 2, medium
            (4, "banana only"),  # no hit
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ["apple"], k=10).collect()
    assert [r["doc_id"] for r in out] == [1, 3, 2]  # 4 never scored
    assert all(r["n_terms_hit"] == 1 for r in out)
    assert out[0]["score_micro"] > out[1]["score_micro"] > out[2]["score_micro"]


def test_bm25_multi_term_and_tiebreak(spark):
    from wedge_parallel_triangle_counting_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x y"), (3, "x z")],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ["x", "y"], k=2).collect()
    # docs 1 and 2 are identical: tie broken by doc_id ascending
    assert [r["doc_id"] for r in out] == [1, 2]
    assert out[0]["score_micro"] == out[1]["score_micro"]
    assert out[0]["n_terms_hit"] == 2


# -- seeded label propagation -------------------------------------------------


def _nodes(spark, rows):
    return spark.createDataFrame(rows, "v long, label string")


def test_propagate_fills_frontier_by_round(spark):
    from wedge_parallel_triangle_counting_spark.operators.langprop import (
        propagate_labels,
    )

    # chain 0-1-2-3, only 0 labeled: round 1 reaches 1, round 2 reaches 2
    nodes = _nodes(spark, [(0, "en"), (1, None), (2, None), (3, None)])
    edges = edges_df(spark, [(0, 1), (1, 2), (2, 3)])
    out = {r["v"]: r for r in propagate_labels(nodes, edges, rounds=2).collect()}
    assert out[0]["origin"] == "kept"
    assert out[1]["label"] == "en" and out[1]["origin"] == "propagated"
    assert out[2]["label"] == "en" and out[2]["origin"] == "propagated"
    assert out[3]["label"] is None and out[3]["origin"] == "unlabeled"


def test_propagate_majority_and_tiebreak(spark):
    from wedge_parallel_triangle_counting_spark.operators.langprop import (
        propagate_labels,
    )

    # v=0 has two 'de' neighbors and one 'en': majority de.
    # v=10 has one 'en' and one 'de' neighbor: tie -> 'de' (lex asc).
    nodes = _nodes(
        spark,
        [(0, None), (1, "de"), (2, "de"), (3, "en"), (10, None), (11, "en"), (12, "de")],
    )
    edges = edges_df(spark, [(0, 1), (0, 2), (0, 3), (10, 11), (10, 12)])
    out = {r["v"]: r for r in propagate_labels(nodes, edges, rounds=1).collect()}
    assert out[0]["label"] == "de"
    assert out[10]["label"] == "de"
    # seeds never move
    assert out[3]["label"] == "en" and out[3]["origin"] == "kept"


# -- snapshot diff -------------------------------------------------------------


def test_edge_snapshot_diff_statuses(spark):
    from wedge_parallel_triangle_counting_spark.operators.temporal import (
        edge_churn_by_group,
        edge_snapshot_diff,
    )

    old = edges_df(spark, [(0, 1), (0, 2), (5, 6)])
    new = edges_df(spark, [(0, 1), (0, 3), (5, 6), (5, 6)])  # dup collapses
    diff = edge_snapshot_diff(old, new)
    got = {(r["src"], r["dst"]): r["status"] for r in diff.collect()}
    assert got == {
        (0, 1): "kept",
        (0, 2): "removed",
        (0, 3): "added",
        (5, 6): "kept",
    }
    churn = edge_churn_by_group(diff, F.col("src"), "g").collect()
    by_g = {r["g"]: r for r in churn}
    assert by_g[0]["n_added"] == 1 and by_g[0]["n_removed"] == 1 and by_g[0]["n_kept"] == 1
    assert by_g[0]["churn_ppm"] == 2 * 1_000_000 // 3
    assert by_g[5]["churn_ppm"] == 0


# -- crawl frontier -------------------------------------------------------------


def test_crawl_frontier_ranks_uncrawled_targets(spark):
    from wedge_parallel_triangle_counting_spark.plans.ingest import crawl_frontier

    def page(url, hrefs):
        html = "".join(f'<a href="{h}">x</a>' for h in hrefs)
        return (url, f"<html><body>{html}<main>t</main></body></html>".encode())

    pages = spark.createDataFrame(
        [
            page("https://a.com/1", ["https://new.com/p", "https://a.com/2"]),
            page("https://a.com/2", ["https://new.com/p", "https://other.com/q"]),
            page("https://b.com/1", ["https://new.com/p"]),
        ],
        "url string, html binary",
    )
    out = crawl_frontier(pages, k=10).collect()
    # crawled targets (a.com/2) never appear
    urls = [r["url"] for r in out]
    assert "https://a.com/2" not in urls
    assert out[0]["url"] == "https://new.com/p"
    assert out[0]["n_inlinks"] == 3 and out[0]["n_src_hosts"] == 2
    assert out[1]["url"] == "https://other.com/q" and out[1]["n_inlinks"] == 1


# -- component sizes -------------------------------------------------------------


def test_component_size_histogram(spark):
    from wedge_parallel_triangle_counting_spark.operators.components import (
        component_size_histogram,
        connected_components,
    )

    labels = connected_components(edges_df(spark, TWO_COMP + [(20, 21)]))
    out = component_size_histogram(labels).collect()
    assert [(r["size"], r["n_components"]) for r in out] == [(2, 1), (3, 2)]


# -- pagerank warm start --------------------------------------------------------


def test_pagerank_warm_start_equals_cold_when_uniform(spark):
    from wedge_parallel_triangle_counting_spark.operators.pagerank import pagerank

    edges = edges_df(spark, [(0, 1), (1, 2), (2, 0), (2, 3)])
    cold = {r["v"]: r["pr"] for r in pagerank(edges, num_iters=4).collect()}
    uniform = spark.createDataFrame([(v, 0.25) for v in range(4)], "v long, pr double")
    warm = {
        r["v"]: r["pr"]
        for r in pagerank(edges, num_iters=4, init_ranks=uniform).collect()
    }
    assert warm == cold  # uniform init_ranks IS the cold init


def test_pagerank_warm_start_converges_faster(spark):
    from wedge_parallel_triangle_counting_spark.operators.pagerank import pagerank

    # an IRREGULAR expander — on a regular graph (all in/out degrees
    # equal) PageRank is exactly uniform and warm init == cold init,
    # which proves nothing
    g = (
        [(i, (3 * i) % 101) for i in range(101)]
        + [(i, (7 * i + 1) % 101) for i in range(101)]
        + [(i, 0) for i in range(0, 101, 10)]
        + [(i, (i * i + 2) % 101) for i in range(0, 101, 3)]
    )
    converged = pagerank(edges_df(spark, g), num_iters=60)
    # perturb one edge, re-rank for only 2 iterations
    perturbed = edges_df(spark, g[:-1] + [(5, 11)])
    target = {r["v"]: r["pr"] for r in pagerank(perturbed, num_iters=60).collect()}

    def l1(ranks):
        return sum(abs(r["pr"] - target[r["v"]]) for r in ranks.collect())

    warm2 = pagerank(perturbed, num_iters=2, init_ranks=converged)
    cold2 = pagerank(perturbed, num_iters=2)
    # measured ~4.5x closer after 2 iterations; assert a safe margin
    assert l1(warm2) < l1(cold2) / 3


def test_pagerank_warm_start_new_vertices_cold_init(spark):
    from wedge_parallel_triangle_counting_spark.operators.pagerank import pagerank

    old_ranks = spark.createDataFrame([(0, 0.9), (1, 0.1)], "v long, pr double")
    # vertex 5 is new: first iteration must treat it as 1/n, not NULL
    edges = edges_df(spark, [(0, 1), (1, 5), (5, 0)])
    out = pagerank(edges, num_iters=1, init_ranks=old_ranks).collect()
    assert all(r["pr"] is not None for r in out)
    assert len(out) == 3


@pytest.mark.usefixtures("local_lane")
class TestPagerankWarmStartLocalLane:
    """The warm-start tests above, on pagerank's driver-local lane."""

    test_pagerank_warm_start_equals_cold_when_uniform = staticmethod(
        test_pagerank_warm_start_equals_cold_when_uniform
    )
    test_pagerank_warm_start_converges_faster = staticmethod(
        test_pagerank_warm_start_converges_faster
    )
    test_pagerank_warm_start_new_vertices_cold_init = staticmethod(
        test_pagerank_warm_start_new_vertices_cold_init
    )


# -- incremental connected components -------------------------------------------


def test_incremental_components_equals_full_recompute(spark):
    from wedge_parallel_triangle_counting_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    old = [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22)]
    added = [(2, 10), (22, 30)]  # merges {0..2}+{10,11}; extends {20..22}
    old_labels = connected_components(edges_df(spark, old))
    inc = {
        (r["v"], r["component"])
        for r in incremental_components(old_labels, edges_df(spark, added)).collect()
    }
    full = {
        (r["v"], r["component"])
        for r in connected_components(edges_df(spark, old + added)).collect()
    }
    assert inc == full


def test_incremental_components_converges_in_constant_rounds(spark):
    from wedge_parallel_triangle_counting_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    # a 60-vertex path: cold HashMin needs ~path-length rounds (past
    # its default cap of 50), so the old labels come from star, whose
    # round count does not grow with the diameter; the star forest
    # compresses them so the incremental run converges within a
    # handful of rounds even with the tight max_iters
    path = [(i, i + 1) for i in range(60)]
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        old_labels = connected_components(edges_df(spark, path), strategy="star")
        old = old_labels.collect()
    assert len(old) == 61 and all(r["component"] == 0 for r in old)
    inc = incremental_components(
        old_labels, edges_df(spark, [(60, 61)]), max_iters=4
    ).collect()
    assert all(r["component"] == 0 for r in inc)
    assert len(inc) == 62


def test_incremental_components_merge_takes_global_min(spark):
    from wedge_parallel_triangle_counting_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    old = [(5, 6), (1, 2)]
    old_labels = connected_components(edges_df(spark, old))
    inc = incremental_components(old_labels, edges_df(spark, [(6, 2)])).collect()
    assert {r["component"] for r in inc} == {1}


# -- url templates ---------------------------------------------------------------


def test_url_templates_collapse_and_rank(spark):
    from wedge_parallel_triangle_counting_spark.plans.ingest import url_templates

    urls = spark.createDataFrame(
        [
            ("https://a.com/item/1",),
            ("https://a.com/item/2",),
            ("https://a.com/item/39",),
            ("https://a.com/about",),
            ("https://b.com/p/7/x/8",),
        ],
        "url string",
    )
    out = [(r["host"], r["template"], r["n_urls"]) for r in url_templates(urls).collect()]
    assert out == [
        ("a.com", "/item/{d}", 3),
        ("a.com", "/about", 1),
        ("b.com", "/p/{d}/x/{d}", 1),
    ]


# -- streaming sketch maintenance ------------------------------------------------


def _docs_replay_dir(spark, tmp_path, rows):
    src = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(src)
    )
    return str(src)


def test_streaming_countmin_equals_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from wedge_parallel_triangle_counting_spark.operators.sketches import (
        countmin_sketch_table,
    )
    from wedge_parallel_triangle_counting_spark.operators.textstats import _tokens
    from wedge_parallel_triangle_counting_spark.streaming.sketches import (
        run_streaming_countmin,
    )

    rows = [(i, f"tok{i % 7} tok{i % 3} common") for i in range(40)]
    src = _docs_replay_dir(spark, tmp_path, rows)
    streamed = run_streaming_countmin(spark, src, str(tmp_path / "ckpt"))
    toks = (
        spark.read.parquet(src)
        .select(F.explode(_tokens(F.col("text"))).alias("tok"))
    )
    batch = countmin_sketch_table(toks, "tok")
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    # total counter mass = depth * token occurrences
    total = streamed.agg(F.sum("cnt")).collect()[0][0]
    assert total == 4 * 3 * 40


def test_streaming_hll_registers_equal_batch_and_fold(spark, tmp_path):
    from pyspark.sql import functions as F

    from wedge_parallel_triangle_counting_spark.operators.sketches import (
        hll_distinct,
        hll_from_registers,
        hll_register_table,
    )
    from wedge_parallel_triangle_counting_spark.operators.textstats import _tokens
    from wedge_parallel_triangle_counting_spark.streaming.sketches import (
        run_streaming_hll_registers,
    )

    rows = [(i, f"w{i} w{i + 100} shared") for i in range(60)]
    src = _docs_replay_dir(spark, tmp_path, rows)
    streamed = run_streaming_hll_registers(spark, src, str(tmp_path / "ckpt"))
    toks = (
        spark.read.parquet(src)
        .select(F.explode(_tokens(F.col("text"))).alias("tok"))
    )
    batch_regs = hll_register_table(toks, "tok")
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch_regs.collect())
    )
    # folding the STREAMED registers gives the batch operator's report
    exact = toks.distinct().agg(F.count(F.lit(1)).alias("n_exact"))
    from_stream = hll_from_registers(streamed, exact).collect()
    from_batch = hll_distinct(toks, "tok").collect()
    assert from_stream == from_batch


# -- backlink report / orphan pages -------------------------------------------------


def _page(url, hrefs):
    html = "".join(f'<a href="{h}">x</a>' for h in hrefs)
    return (url, f"<html><body>{html}<main>t</main></body></html>".encode())


def test_backlink_report_top_referrers(spark):
    from wedge_parallel_triangle_counting_spark.plans.ingest import (
        backlink_report,
        extract_links,
    )

    pages = spark.createDataFrame(
        [
            _page("https://a.com/1", ["https://t.com/x", "https://t.com/y"]),
            _page("https://a.com/2", ["https://t.com/x"]),
            _page("https://b.com/1", ["https://t.com/x", "https://t.com/z"]),
            _page("https://t.com/x", ["https://t.com/y"]),  # intra-host: excluded
        ],
        "url string, html binary",
    )
    out = [tuple(r) for r in backlink_report(extract_links(pages), 2).collect()]
    assert out == [
        ("t.com", "a.com", 3, 1),
        ("t.com", "b.com", 2, 2),
    ]


def test_orphan_pages_unlinked_only(spark):
    from wedge_parallel_triangle_counting_spark.plans.ingest import orphan_pages

    pages = spark.createDataFrame(
        [
            _page("https://a.com/1", ["https://a.com/2"]),
            _page("https://a.com/2", []),
            _page("https://a.com/lonely", []),
        ],
        "url string, html binary",
    )
    out = [r["url"] for r in orphan_pages(pages).collect()]
    assert out == ["https://a.com/1", "https://a.com/lonely"]


# -- training-prep text ops ------------------------------------------------------


def test_bpe_pair_counts(spark):
    from wedge_parallel_triangle_counting_spark.operators.textstats import (
        bpe_pair_counts,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b"), (3, "x")],  # 1-token doc: no pairs
        "doc_id long, text string",
    )
    out = [tuple(r) for r in bpe_pair_counts(docs, k=10).collect()]
    assert out[0] == ("a", "b", 3)
    assert ("b", "a", 1) in out and ("b", "c", 1) in out
    assert len(out) == 3


def test_pack_sequences_bins(spark):
    from wedge_parallel_triangle_counting_spark.operators.textstats import (
        pack_sequences,
    )

    # token counts 3, 4, 5 in doc_id order; context 6:
    # starts 0, 3, 7 -> bins 0, 0, 1
    docs = spark.createDataFrame(
        [(1, "t t t"), (2, "t t t t"), (3, "t t t t t")],
        "doc_id long, text string",
    )
    out = [tuple(r) for r in pack_sequences(docs, context_len=6).collect()]
    assert out == [(0, 2, 7), (1, 1, 5)]


def test_mixture_weights_temperature(spark):
    from wedge_parallel_triangle_counting_spark.operators.textstats import (
        mixture_weights,
    )

    docs = spark.createDataFrame(
        [(1, "t " * 100, "en"), (2, "t " * 100, "en"), (3, "t " * 2, "de")],
        "doc_id long, text string, lang string",
    )
    out = {r["lang"]: r for r in mixture_weights(docs).collect()}
    # "t "*100 -> trailing space trimmed -> 100 tokens
    assert out["en"]["total_tokens"] == 200 and out["de"]["total_tokens"] == 2
    assert out["en"]["sqrt_tokens"] == 14 and out["de"]["sqrt_tokens"] == 1
    assert out["en"]["weight_ppm"] == 14 * 1_000_000 // 15
    # temperature flattening: en has 100x the tokens but only 14x the weight
    assert out["en"]["weight_ppm"] < 100 * out["de"]["weight_ppm"]


def test_pack_sequences_partition_independent(spark):
    from wedge_parallel_triangle_counting_spark.operators.textstats import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, "t " * (3 + i % 5)) for i in range(200)],
        "doc_id long, text string",
    )
    a = [tuple(r) for r in pack_sequences(docs, context_len=32).collect()]
    b = [tuple(r) for r in pack_sequences(docs.repartition(13), 32).collect()]
    assert a == b  # the two-pass distributed cumsum is order-stable


# -- bloom filter ------------------------------------------------------------------


def test_bloom_no_false_negatives_and_probe(spark):
    from wedge_parallel_triangle_counting_spark.operators.sketches import (
        bloom_positions,
        bloom_probe,
    )

    members = _strs(spark, [f"url{i}" for i in range(300)])
    filt = bloom_positions(members, "val")
    probes = _strs(spark, [f"url{i}" for i in range(280, 320)] + ["other"])
    out = {r["val"]: r["maybe_seen"] for r in bloom_probe(filt, probes, "val").collect()}
    # every member MUST be found (no false negatives)
    for i in range(280, 300):
        assert out[f"url{i}"] is True
    # with n=300, m=65536, k=5 the fp rate is ~1e-7 — the 21
    # non-members are virtually certainly all clean
    misses = [f"url{i}" for i in range(300, 320)] + ["other"]
    assert sum(1 for u in misses if out[u]) == 0


def test_bloom_partition_independent(spark):
    from wedge_parallel_triangle_counting_spark.operators.sketches import (
        bloom_positions,
    )

    vals = [f"u{i}" for i in range(200)]
    a = sorted(r["pos"] for r in bloom_positions(_strs(spark, vals), "val").collect())
    b = sorted(
        r["pos"]
        for r in bloom_positions(_strs(spark, vals).repartition(9), "val").collect()
    )
    assert a == b


def test_sketch_merges_equal_whole_input_sketches(spark):
    from wedge_parallel_triangle_counting_spark.operators.sketches import (
        bloom_merge,
        bloom_positions,
        countmin_merge,
        countmin_sketch_table,
        hll_merge,
        hll_register_table,
    )

    a = [f"v{i}" for i in range(200)]
    b = [f"v{i}" for i in range(150, 400)]  # overlaps a
    whole = _strs(spark, a + b)
    # HLL: merge of sketches == sketch of the union (max-stable)
    m = hll_merge(
        hll_register_table(_strs(spark, a), "val"),
        hll_register_table(_strs(spark, b), "val"),
    )
    w = hll_register_table(_strs(spark, sorted(set(a + b))), "val")
    assert sorted(map(tuple, m.collect())) == sorted(map(tuple, w.collect()))
    # count-min: merge of shard sketches == sketch of the concatenation
    cm = countmin_merge(
        countmin_sketch_table(_strs(spark, a), "val"),
        countmin_sketch_table(_strs(spark, b), "val"),
    )
    cw = countmin_sketch_table(whole, "val")
    assert sorted(map(tuple, cm.collect())) == sorted(map(tuple, cw.collect()))
    # bloom: OR == union of positions
    bm = bloom_merge(
        bloom_positions(_strs(spark, a), "val"),
        bloom_positions(_strs(spark, b), "val"),
    )
    bw = bloom_positions(whole, "val")
    assert sorted(r["pos"] for r in bm.collect()) == sorted(
        r["pos"] for r in bw.collect()
    )
