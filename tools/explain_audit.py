"""Dump formatted physical plans for the headline queries to PLANS.md.

The design-for-100x evidence trail: each plan shows where the
exchanges are, what got broadcast, whether scans prune columns, and
how wide the WholeStageCodegen spans run. Regenerate after any
hot-path change:  python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# Queries whose returned frame is still LAZY (one declarative plan
# end-to-end). Iterative operators (pagerank, components, labelprop,
# louvain, ppr_push, the triangle counters) checkpoint per round by
# design, so their returned frame shows only the materialized scan —
# their loop shape is asserted by tests instead
# (tests/test_plans.py: no edge re-exchange per round, bucketed scans
# with zero exchanges, fused single-shuffle prep).
HEADLINE = [
    "graph_degrees",
    "graph_orient",
    "triangles_join",
    "ingest_edges",
    "ingest_host_graph",
    "dedup_minhash_lsh",
    "dedup_containment",
    "text_corpus_stats",
    "events_funnel",
    "graph_rich_club",
    "ann_ivf_pq_topk",
    # round-7 declarative additions
    "sketch_hll_shingles",
    "sketch_countmin_tokens",
    "web_mirror_hosts",
    "text_bm25_topk",
    "ingest_crawl_frontier",
    "ingest_url_templates",
    "ingest_edge_churn",
    # round-4 evaluation layer (pagerank_convergence is loop-shaped —
    # checkpointed per iteration — so it is excluded like pagerank)
    "graph_clustering_curve",
    "dedup_lsh_eval",
    "ann_ivf_recall",
    # round-5: distributed-ntile rewrite — the returned frame's plan
    # must show NO Window and NO SinglePartition exchange (the id pass
    # collects tiny offset tables at construction; the data path is
    # range-partitioned sort + JVM id projection + broadcast join)
    "text_lm_buckets",
]


def main() -> None:
    import __spark_entry__ as entry
    from wedge_parallel_triangle_counting_spark.session import get_spark

    spark = get_spark(app_name="explain-audit", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    out = [
        "# Physical plans (generated by tools/explain_audit.py at "
        f"{os.path.basename(SF_DIR)})",
        "",
        "Formatted plans for representative DECLARATIVE queries — the",
        "ones whose returned frame is one lazy plan. Things to read",
        "for: `Exchange` count (shuffles), `Broadcast` joins on small",
        "sides, `PushedFilters`/`ReadSchema` at scans, and wide",
        "`WholeStageCodegen` spans. Iterative operators checkpoint per",
        "round by design and are audited by plan TESTS instead",
        "(tests/test_plans.py: a labelprop round never re-exchanges the",
        "edge table; bucketed scans run with zero exchanges; the fused",
        "triangle prep is a single edge shuffle).",
        "",
    ]
    # operators that eagerly localCheckpoint (finish_with_caches) hide
    # their plan from the query surface; audit their LAZY composition
    # form (caches handed over) instead
    def _lazy_mirror(spark, sf_dir):
        from wedge_parallel_triangle_counting_spark.operators.mirrors import (
            mirror_host_pairs,
        )
        from wedge_parallel_triangle_counting_spark.plans.docpages import (
            doc_host_fingerprints,
        )

        return mirror_host_pairs(doc_host_fingerprints(spark, sf_dir), caches=[])

    def _lazy_hll(spark, sf_dir):
        from wedge_parallel_triangle_counting_spark.operators.dedup import shingles
        from wedge_parallel_triangle_counting_spark.operators.sketches import (
            hll_distinct,
        )

        return hll_distinct(
            shingles(entry._docs(spark, sf_dir)), "shingle", caches=[]
        )

    lazy_forms = {"web_mirror_hosts": _lazy_mirror, "sketch_hll_shingles": _lazy_hll}
    for name in HEADLINE:
        df = lazy_forms.get(name, qs[name])(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
