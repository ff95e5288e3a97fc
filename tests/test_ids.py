"""Dense id assignment (operators/ids.py): ids equal a global
`row_number() - 1` for any partition count, are identical across
partition counts, and the id pass runs no Python worker."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from wedge_parallel_triangle_counting_spark.operators import ids

from .conftest import edges_df

SF = "/root/testdata/sf0.001"
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython")


def _urls(spark):
    # 40 distinct urls whose sort order is not their generation order
    return spark.range(40).select(
        F.concat(F.lit("http://h"), ((F.col("id") * 17) % 40).cast("string"), F.lit("/p")).alias("url")
    )


def _degrees(spark):
    # (degree, v) is unique although degree repeats
    return spark.range(50).select(F.col("id").alias("v"), (F.col("id") % 4).alias("degree"))


KEYS = {"url": (_urls, ["url"]), "degree_v": (_degrees, ["degree", "v"])}


def _by_key(df, key):
    return {tuple(r[k] for k in key): r["id"] for r in df.collect()}


@pytest.mark.parametrize("npart", [1, 3, 7, 64])
@pytest.mark.parametrize("name", sorted(KEYS))
def test_ids_equal_row_number(spark, name, npart):
    build, key = KEYS[name]
    df = build(spark)
    out, total = ids.assign_contiguous_ids_with_count(df, key, npartitions=npart)
    want = df.select(*key, (F.row_number().over(Window.orderBy(*key)) - 1).alias("id"))
    assert _by_key(out, key) == _by_key(want, key)
    assert total == df.count()


def test_empty_input(spark):
    out, total = ids.assign_contiguous_ids_with_count(_urls(spark).limit(0), ["url"])
    assert out.collect() == [] and total == 0
    assert out.columns == ["url", "id"]


@pytest.mark.parametrize("name", sorted(KEYS))
def test_ids_identical_across_partition_counts(spark, name):
    build, key = KEYS[name]
    a = ids.assign_contiguous_ids(build(spark), key, npartitions=2)
    b = ids.assign_contiguous_ids(build(spark), key, npartitions=32)
    assert _by_key(a, key) == _by_key(b, key)


def test_partition_row_limit_raises(spark, monkeypatch):
    # the row index lives in the low _ROW_BITS bits of
    # monotonically_increasing_id(); a fuller partition cannot be
    # numbered, so it must fail rather than collide
    monkeypatch.setattr(ids, "_ROW_BITS", 3)
    with pytest.raises(ValueError, match="2\\^3 rows"):
        ids.assign_contiguous_ids_with_count(_urls(spark), ["url"], npartitions=1)


def test_caches_hold_the_partitioned_frame(spark):
    from wedge_parallel_triangle_counting_spark.operators.graph import prepare_oriented

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    caches = []
    oriented, _ranks, _n = prepare_oriented(
        edges_df(spark, [(900, 901), (901, 902), (900, 902), (902, 903)]), caches=caches
    )
    assert oriented.count() == 4
    assert len(caches) == 2 and all(c.is_cached for c in caches)
    for c in caches:
        c.unpersist(blocking=True)
    assert persistent().size() == before


def _assert_no_python(df):
    df.collect()  # run the frame's own plan so AQE finalizes it
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not [n for n in PYTHON_NODES if n in plan], plan


def test_id_consumers_run_no_python_worker(spark):
    from wedge_parallel_triangle_counting_spark.operators import graph as G
    from wedge_parallel_triangle_counting_spark.operators.textstats import lm_buckets
    from wedge_parallel_triangle_counting_spark.plans.ingest import pages_to_edges
    from wedge_parallel_triangle_counting_spark.sources.pages import synth_pages

    edges, dictionary = pages_to_edges(synth_pages(spark, 64))
    _assert_no_python(edges)
    _assert_no_python(dictionary)
    deg = G.degrees(G.symmetrize(edges_df(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])))
    _assert_no_python(G.degree_rank(deg, method="scalable"))
    _assert_no_python(lm_buckets(spark.read.parquet(f"{SF}/documents.parquet")))
