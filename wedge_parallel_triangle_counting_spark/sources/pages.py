"""Synthetic Common-Crawl-style pages table.

Schema per BASELINE.json.input_hint:
    url: string, warc_ts: timestamp, html: binary, text: string,
    lang: string

Generation is FULLY distributed and deterministic: every column is a
pure function of the page index (hash-based pseudo-randomness, no RNG
state), built with Spark column expressions from `spark.range` — the
same recipe produces byte-identical tables at any parallelism, which
is exactly the determinism invariant the extraction pipeline is tested
against (FIXTURES.md §5).

The html embeds the text in a `<main>` block and the outlinks as
`<a href="...">` anchors in a `<nav>` block, so extraction has an
exact inverse. Outlink targets are skewed quadratically toward low
page ids — a power-law-ish head that exercises the engine's skew
machinery (hub splitting, equal-wedge balance).

In production this table is an Iceberg scan
(`spark.read.format("iceberg").load(...)`); `read_pages` falls back to
parquet here because the Iceberg runtime jar isn't in the sandbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["en", "de", "nl", "fr"]
_WORDS = [
    "alpha", "bravo", "crawl", "delta", "engine", "forest", "graph",
    "harbor", "index", "jungle", "kernel", "lattice", "matrix", "north",
    "orbit", "parser", "quartz", "river", "spark", "triangle", "union",
    "vertex", "wedge", "xenon", "yield", "zephyr",
]


def _word(expr):
    # pmod: xxhash64 is signed and Spark's % keeps the sign
    return F.element_at(
        F.array(*[F.lit(w) for w in _WORDS]),
        (F.pmod(expr, F.lit(len(_WORDS))) + 1).cast("int"),
    )


def synth_pages(
    spark: SparkSession,
    n_pages: int,
    n_sites: int = 16,
    avg_links: int = 8,
    words_per_page: int = 24,
    seed: int = 42,
) -> DataFrame:
    """Deterministic pages table with `n_pages` rows."""
    df = spark.range(n_pages).withColumnRenamed("id", "pid")
    url = F.concat(
        F.lit("https://site"),
        (F.col("pid") % n_sites).cast("string"),
        F.lit(".example/page/"),
        F.col("pid").cast("string"),
    )
    # deterministic per-page text: words_per_page pseudo-words
    word_exprs = [
        _word(F.xxhash64(F.col("pid"), F.lit(seed), F.lit(j)))
        for j in range(words_per_page)
    ]
    text = F.concat_ws(" ", *word_exprs)
    # outlinks: 1..2*avg_links targets, quadratically skewed toward
    # page 0 (the hub head)
    n_links = (F.abs(F.xxhash64(F.col("pid"), F.lit(seed + 1))) % (2 * avg_links)) + 1
    link_seq = F.sequence(F.lit(0), n_links - 1)
    h = F.abs(F.xxhash64(F.col("pid"), F.lit(seed + 2), F.col("j"))) % n_pages
    target = ((h * h) / F.lit(float(n_pages))).cast("long") % n_pages
    links_df = (
        df.select("pid", F.explode(link_seq).alias("j"))
        .select("pid", "j", target.alias("target"))
        .filter(F.col("target") != F.col("pid"))
    )
    anchors = links_df.groupBy("pid").agg(
        F.array_sort(F.collect_list(F.struct("j", "target"))).alias("ts")
    )
    df = df.join(anchors, "pid", "left").withColumn(
        "ts", F.coalesce(F.col("ts"), F.array())
    )
    anchor_html = F.array_join(
        F.transform(
            F.col("ts"),
            lambda t: F.concat(
                F.lit('<a href="https://site'),
                (t["target"] % n_sites).cast("string"),
                F.lit(".example/page/"),
                t["target"].cast("string"),
                F.lit('">link</a>'),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit("<html><head><title>page</title></head><body><nav>"),
        anchor_html,
        F.lit("</nav><main>"),
        text,
        F.lit("</main></body></html>"),
    )
    return df.select(
        url.alias("url"),
        (F.lit("2025-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("pid"))).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        text.alias("text"),
        F.element_at(
            F.array(*[F.lit(lang) for lang in LANGS]),
            (F.col("pid") % len(LANGS) + 1).cast("int"),
        ).alias("lang"),
    )


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Load a pages table. fmt="iceberg" on a real cluster; parquet in
    the sandbox. Column pruning matters enormously here: never read
    `html` (the wide binary column) unless extraction is requested —
    downstream code selects only what it needs so Catalyst prunes the
    scan (`ReadSchema` in .explain)."""
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)
