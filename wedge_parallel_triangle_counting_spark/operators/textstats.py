"""Text-analysis operators for the documents table: token counting,
language id (stopword heuristic), quality scoring, fingerprinting.

All pure JVM column expressions; each is mirrored exactly by a DuckDB
oracle (plans/oracles.py). The regex classes used are deliberately
restricted to constructs with identical semantics in Java regex
(Spark) and RE2 (DuckDB): `\\s+`, `[^a-z0-9 ]`, ` +`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists (deterministic heuristic, not a
# linguistic claim); scoring counts DISTINCT stopwords present
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "mit", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "du", "que"],
    "nl": ["de", "het", "een", "en", "is", "van", "te", "dat", "op", "met"],
}
LANG_ORDER = ["en", "de", "fr", "nl"]  # tie-break order


def _tokens(col):
    return F.split(F.trim(F.lower(col)), r"\s+")


def token_count(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens) — whitespace tokenization."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(_tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, lang_pred, lang_score) — language with the most
    distinct stopword hits; ties broken by LANG_ORDER."""
    toks = F.array_distinct(_tokens(F.col(text_col)))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]])))
        for lang in LANG_ORDER
    }
    # argmax with deterministic tie-break: fold over LANG_ORDER
    best_lang = F.lit(LANG_ORDER[0])
    best_score = scores[LANG_ORDER[0]]
    for lang in LANG_ORDER[1:]:
        better = scores[lang] > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, scores[lang]).otherwise(best_score)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        best_lang.alias("lang_pred"),
        best_score.cast("long").alias("lang_score"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, n_tokens, mean_token_len, punct_ratio, score)
    — simple length/punctuation quality heuristic with an explicit,
    oracle-reproducible formula."""
    t = F.col(text_col)
    lower = F.lower(t)
    n_chars = F.length(t).cast("long")
    toks = _tokens(t)
    n_tokens = F.size(toks).cast("long")
    alnum_len = F.length(F.regexp_replace(lower, "[^a-z0-9 ]", ""))
    punct_ratio = F.round((n_chars - alnum_len) / F.greatest(n_chars, F.lit(1)), 6)
    mean_tok = F.round(
        (F.length(F.regexp_replace(t, " +", ""))) / F.greatest(n_tokens, F.lit(1)), 6
    )
    score = F.round(
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * (1.0 - punct_ratio), 6
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        mean_tok.alias("mean_token_len"),
        punct_ratio.alias("punct_ratio"),
        score.alias("score"),
    )


def stratified_sample(
    docs: DataFrame,
    per_stratum_pct: int = 20,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic hash-threshold sampling per stratum: keep a doc
    when md5(stratum || ':' || doc_id) mod 100 < per_stratum_pct.

    The standard training-data downsampling shape at 100 TB: a pure
    column predicate — no shuffle, no RNG state, fully pushed into the
    scan stage, identical sample at any parallelism and on re-runs
    (unlike DataFrame.sample, whose result is partitioning-dependent).
    """
    # coalesce a NULL stratum to a sentinel rather than letting concat
    # semantics decide its fate: concat_ws would silently hash on the
    # id alone (Spark) while `||` would drop every NULL-stratum row
    # (SQL) — with the sentinel both engines sample NULL-stratum docs
    # as one ordinary stratum
    stratum = F.coalesce(F.col(stratum_col).cast("string"), F.lit("<null>"))
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", stratum, F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return docs.filter(h % 100 < per_stratum_pct)


def corpus_stats(
    docs: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-language corpus rollup: (lang, n_docs, total_tokens,
    avg_utokens, total_chars) — the dataset-card numbers. One map-side-
    combined aggregation whose output cardinality is #languages.

    `avg_utokens` is the mean token count in integer MICRO-tokens
    (floor(avg * 1e6) as bigint), derived from the integer aggregates
    with split div/mod arithmetic so it is exact, representation-stable
    across engines (no double rounding), and overflow-safe: the largest
    intermediate is (total_tokens % n_docs) * 1e6 < n_docs * 1e6, fine
    for any corpus under ~9e12 documents per language."""
    toks = F.size(_tokens(F.col(text_col))).cast("long")
    chars = F.length(F.col(text_col)).cast("long")
    return (
        docs.select(F.col(stratum_col).alias("lang"), toks.alias("t"), chars.alias("c"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("t").alias("total_tokens"),
            F.sum("c").alias("total_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            F.expr(
                "(total_tokens DIV n_docs) * 1000000"
                " + ((total_tokens % n_docs) * 1000000) DIV n_docs"
            ).alias("avg_utokens"),
            "total_chars",
        )
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, fp) — md5 of the normalized text (lowercase, strip
    non-alphanumeric, collapse runs of spaces). Stable under
    formatting noise; the document-identity key for dedup pipelines."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return docs.select(F.col(id_col).alias("doc_id"), F.md5(norm).alias("fp"))


def lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, avg_p_ppm) — corpus-trained bigram
    language-model quality score, the CCNet-style model-based filter:
    documents whose token transitions are typical of the corpus score
    high, gibberish / boilerplate-shredded text scores low.

    The model is add-one-smoothed bigram probability trained on the
    SAME corpus being scored (self-scoring — deterministic, no
    external model):

        p(w2 | w1) = (c(w1,w2) + 1) / (c(w1·) + V)

    with c(w1·) = count of w1 as a bigram left and V = corpus distinct
    tokens. Each bigram's probability is quantized to integer ppm with
    floor BEFORE averaging, and the per-document average is an integer
    floor-division — so every value is exact integer arithmetic over
    exact counts, representation-stable across engines (the module's
    standard ppm discipline; a float log-prob mean would hang the
    driver's value hash on libm ln rounding). Documents with < 2
    tokens have no bigrams: n_bigrams 0, avg_p_ppm NULL.

    Scale shape: bigrams come from ONE transform over the token array
    (no positional self-join); both count tables are map-side-combined
    aggregations of that stream; scoring is an equi-join of the bigram
    stream against the (w1,w2) count table — the inverted-index
    shuffle every dedup/retrieval operator here already pays — plus a
    broadcast 1-row V. All JVM, no UDFs."""
    a = _tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("doc_id"), a.alias("a"))
    b = (
        base.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(a, 1, size(a)-1),"
                    " (x, i) -> struct(x AS w1, a[i+1] AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c12 = b.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = b.groupBy("w1").agg(F.count("*").alias("n1"))
    vdf = (
        base.select(F.explode("a").alias("tok"))
        .agg(F.countDistinct("tok").alias("vocab"))
    )
    scored = (
        b.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vdf))
        .select(
            "doc_id",
            F.expr("((n12 + 1) * 1000000) DIV (n1 + vocab)").alias("p_ppm"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.sum("p_ppm").alias("s")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.expr("CAST(s DIV n_bigrams AS BIGINT)").alias("avg_p_ppm"),
        )
    )


def lm_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "lang",
) -> DataFrame:
    """CCNet-style perplexity bucketing: within each language, rank
    documents by the self-trained bigram LM score (lm_score) and cut
    them into `n_buckets` equal-size quality tiers — head/middle/tail
    for the default 3. Returns the curation report (lang, bucket,
    n_docs, min_ppm, max_ppm); bucket 1 = most corpus-typical text.
    This is the split CCNet uses to keep the head and downsample the
    tail of a web crawl.

    Determinism: docs without bigrams score a -1 ppm sentinel (never
    NULL, so no cross-engine null-ordering divergence) and the rank
    order is the total order (score_ppm DESC, doc_id ASC), making the
    ntile boundary engine-stable; every output column is exact
    integer/bigint.

    Scale shape: lm_score's bigram join, then an EXACT-ntile bucket
    assignment with NO per-language single-task sort. A naive
    `ntile().over(Window.partitionBy(lang))` funnels every document of
    a language through one task — on a real web corpus `en` is >50% of
    the crawl, i.e. one task ranking billions of rows. Instead the
    global rank follows the repo's two-pass zipWithIndex pattern
    (ids.assign_contiguous_ids_with_count) over the total order
    (lang ASC, score DESC, doc_id ASC): range-partitioned distributed
    sort + per-partition offsets in one JVM expression. Per-lang rank
    = global id − lang start offset, where the start offsets come from
    a prefix sum over the per-lang count table (#langs rows — bounded,
    tiny). The ntile bucket is then the closed-form function of (rank,
    lang count, n_buckets), bit-identical to SQL NTILE. Every step is
    a JVM expression, with no Python worker; output cardinality =
    #langs x n_buckets."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    from .ids import assign_contiguous_ids_with_count

    scores = lm_score(docs, id_col=id_col, text_col=text_col)
    # LEFT join from docs: per-lang doc counts are guaranteed by
    # construction even if lm_score ever dropped scoreless docs (the
    # -1 sentinel below absorbs the NULL either way).
    joined = docs.select(
        F.col(id_col).alias("doc_id"), F.col(stratum_col).alias("lang")
    ).join(scores.select("doc_id", "avg_p_ppm"), "doc_id", "left")
    base = joined.select(
        "lang",
        "doc_id",
        F.coalesce(F.col("avg_p_ppm"), F.lit(-1)).alias("score_ppm"),
    ).withColumn("neg_score", -F.col("score_ppm"))
    # Pass 1+2: global contiguous id following (lang, score desc, doc).
    with_gid, _total = assign_contiguous_ids_with_count(
        base, ["lang", "neg_score", "doc_id"], id_col="gid"
    )
    # Per-lang start offsets: prefix sum over the per-lang count table
    # (cardinality = #langs — bounded, ~hundreds on a real crawl), done
    # driver-side exactly like ids.py's per-partition offsets so the
    # physical plan carries NO single-partition sort at all. NULL lang
    # sorts first here (python None-first key) to match
    # repartitionByRange's asc null ordering in the gid pass.
    spark = docs.sparkSession
    rows = base.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    rows.sort(key=lambda r: (r["lang"] is not None, r["lang"]))
    off_rows, acc = [], 0
    for r in rows:
        off_rows.append((r["lang"], int(r["cnt"]), acc))
        acc += int(r["cnt"])
    offsets = spark.createDataFrame(
        off_rows, schema="lang2 string, cnt bigint, lang_off bigint"
    )
    nb = F.lit(int(n_buckets))
    ranked = (
        with_gid.join(
            F.broadcast(offsets),
            with_gid["lang"].eqNullSafe(offsets["lang2"]),
        )
        .drop("lang2")
        .withColumn("rnk", F.col("gid") - F.col("lang_off") + F.lit(1))
        .withColumn("bsz", F.expr("cnt DIV %d" % int(n_buckets)))
        .withColumn("rem", F.col("cnt") % nb)
        .withColumn("cut", F.col("rem") * (F.col("bsz") + F.lit(1)))
        .withColumn(
            "bucket",
            F.when(
                F.col("rnk") <= F.col("cut"),
                F.expr("(rnk + bsz) DIV (bsz + 1)"),
            ).otherwise(
                F.expr("rem + (rnk - cut + bsz - 1) DIV bsz")
            ),
        )
    )
    return ranked.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("score_ppm").alias("min_ppm"),
        F.max("score_ppm").alias("max_ppm"),
    ).select(
        "lang",
        F.col("bucket").cast("long").alias("bucket"),
        "n_docs",
        "min_ppm",
        "max_ppm",
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    (doc_id, n_tokens, distinct_tokens, dup_token_ppm, top_token_ppm).

    dup_token_ppm = fraction of tokens that are repeats of an earlier
    token; top_token_ppm = share of the single most frequent token —
    the two classic "degenerate document" filters (boilerplate, SEO
    spam, template pages). Both emitted as exact integer parts-per-
    million (bigint DIV arithmetic), hash-stable across engines.

    Plan: one explode + two hash aggregations, both with map-side
    partial combine; (doc_id, token) then doc_id keys — the second
    agg reuses the first's clustering prefix. No Python anywhere."""
    tok_counts = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_tokens(F.col(text_col))).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tok_counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("distinct_tokens"),
            F.max("c").alias("top_c"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "distinct_tokens",
            F.expr(
                "((n_tokens - distinct_tokens) * 1000000) DIV n_tokens"
            ).alias("dup_token_ppm"),
            F.expr("(top_c * 1000000) DIV n_tokens").alias("top_token_ppm"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, caches: list | None = None
) -> DataFrame:
    """Top-k most characteristic terms per document:
    (doc_id, term, tf, df, score).

    score = tf * idf_ppm with idf_ppm = floor(1e6 * N / df) — an
    integer-arithmetic inverse-document-frequency surrogate (linear,
    not log) chosen so BOTH engines compute bit-identical bigints (a
    transcendental ln(N/df) would round differently in the last ulp).
    Rank within a doc by (score desc, term asc) — a deterministic
    total order, so the k-boundary is engine-stable.

    Plan: explode → (doc_id, term) tf agg → term-keyed df agg (a
    vocabulary-sized relation — deliberately NOT broadcast-hinted:
    a web-scale vocabulary is unbounded, so AQE picks broadcast vs
    sort-merge from its measured size) joined back → one per-doc
    window rank. The N scalar rides as a 1-row broadcast crossJoin,
    the same shape as PageRank's dangling-mass term."""
    from pyspark.sql import Window

    tf = (
        docs.select(
            F.col("doc_id"), F.explode(_tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()  # read twice: df derivation + the scored join
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.expr("tf * ((n_corpus * 1000000) DIV df)").alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    from .checkpointing import finish_with_caches

    return finish_with_caches(
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "term", "tf", "df", "score"),
        [tf],
        caches,
    )


def corpus_mix_report(docs: DataFrame, min_score: float = 0.5) -> DataFrame:
    """The dataset-card mix table: per (lang, source) stratum —
    (lang, source, n_docs, total_tokens, n_kept, kept_tokens,
    kept_ppm) where "kept" = exact-dedup keeper AND quality score >=
    min_score (the same contract as filtered_corpus, so this report
    IS the budget view of that corpus).

    Plan: the fingerprint keeper aggregation + one left-semi-style
    indicator join + a single (lang, source) rollup with conditional
    sums — no second pass over the text. kept_ppm is integer DIV
    arithmetic (hash-stable)."""
    q = quality_score(docs)
    fp = fingerprint(docs)
    keepers = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    flagged = (
        docs.select("doc_id", "lang", "source")
        .join(q.select("doc_id", "n_tokens", "score"), "doc_id")
        .join(
            keepers.select("doc_id", F.lit(1).alias("is_keeper")),
            "doc_id",
            "left",
        )
        .select(
            "lang",
            "source",
            "n_tokens",
            (
                (F.col("is_keeper") == 1) & (F.col("score") >= min_score)
            ).alias("kept"),
        )
    )
    return (
        flagged.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("kept"), F.col("n_tokens"))), F.lit(0)
            ).alias("kept_tokens"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "total_tokens",
            "n_kept",
            "kept_tokens",
            F.expr("(n_kept * 1000000) DIV n_docs").alias("kept_ppm"),
        )
    )


def top_ngrams(docs: DataFrame, n: int = 3, k: int = 100) -> DataFrame:
    """Corpus-wide top-k token n-grams by document frequency:
    (shingle, n_docs) — the tokenizer-planning / boilerplate-discovery
    statistic (which n-grams dominate the corpus).

    Reuses the dedup pipeline's shingle extraction (distinct n-grams
    per doc), one combined count aggregation, total-order top-k
    (n_docs desc, shingle asc) so the k-boundary is engine-stable."""
    from .dedup import shingles

    sh = shingles(docs, n=n)
    counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    return counts.orderBy(F.desc("n_docs"), F.asc("shingle")).limit(k)


def token_percentiles(
    docs: DataFrame, stratum_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Exact discrete token-count percentiles per language:
    (lang, n_docs, p50_tokens, p90_tokens, p99_tokens) — the dataset-
    card length distribution, computed WITHOUT interpolation so both
    engines agree bit-for-bit (quantile_cont/percentile interpolate
    doubles differently; the discrete rank statistic is an integer).

    Percentile definition (inverse empirical CDF): the value at rank
    ceil(p·n) of the ascending sort, i.e. the smallest x with
    CDF(x) >= p. Plan: one (lang, n_tokens) projection, a per-lang
    window rank, and a filter-join — output is #languages rows."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(stratum_col).alias("lang"),
        F.size(_tokens(F.col(text_col))).cast("long").alias("t"),
    )
    w = Window.partitionBy("lang").orderBy("t")
    ranked = toks.select(
        "lang",
        "t",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    out = ranked.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.5), F.col("t"))).alias(
            "p50_tokens"
        ),
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.9), F.col("t"))).alias(
            "p90_tokens"
        ),
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.99), F.col("t"))).alias(
            "p99_tokens"
        ),
    )
    return out


def filtered_corpus(
    docs: DataFrame,
    min_score: float = 0.5,
    langs: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The standard training-data filter chain as ONE composition:
    exact-dedup keepers (min doc_id per normalized-text fingerprint)
    ∩ quality threshold (score >= min_score) ∩ optional language
    allowlist. Returns (doc_id, lang, n_tokens, score) for the docs
    that survive — the corpus a tokenizer run would consume.

    Scale shape: one fingerprint aggregation (hash agg on md5 — the
    exact-dedup shuffle), one join back to the quality-scored scan;
    the quality predicate and language filter are column predicates
    pushed into the scan side. Thresholding happens on the ROUNDED
    score (the engines' round-6 values are hash-identical, so the
    boundary is engine-stable)."""
    fp = fingerprint(docs, id_col=id_col, text_col=text_col)
    keepers = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    q = quality_score(docs, id_col=id_col, text_col=text_col)
    out = (
        docs.select(F.col(id_col).alias("doc_id"), "lang")
        .join(keepers.select("doc_id"), "doc_id")
        .join(q.select("doc_id", "n_tokens", "score"), "doc_id")
        .filter(F.col("score") >= min_score)
    )
    if langs is not None:
        out = out.filter(F.col("lang").isin(list(langs)))
    return out.select("doc_id", "lang", "n_tokens", "score")


# PII patterns chosen from the RE2 ∩ Java-regex common subset so the
# DuckDB oracle (RE2) and Spark (Java) match byte-for-byte: character
# classes, bounded repetition, no lookaround, no \b.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\d{3}-\d{3}-\d{4}"


def pii_redact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Redact emails then phone numbers from the text column; returns
    (doc_id, n_emails, n_phones, clean_hash) where clean_hash is the
    md5 of the redacted text (byte-identical redaction is what the
    oracle asserts; shipping the full redacted text would work too —
    the hash keeps the compare frame small).

    The standard pre-training scrub. Scale shape: two regexp_replace
    + two regexp_count column expressions — pure JVM codegen over the
    scan, no shuffle at all; the aggregate-free plan is a single
    WholeStageCodegen map stage."""
    text = F.col(text_col)
    clean = F.regexp_replace(
        F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>"),
        PHONE_PATTERN,
        "<PHONE>",
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(text, F.lit(EMAIL_PATTERN)).cast("long").alias("n_emails"),
        F.regexp_count(text, F.lit(PHONE_PATTERN)).cast("long").alias("n_phones"),
        F.md5(clean).alias("clean_hash"),
    )


def host_cap(
    docs: DataFrame,
    cap: int = 20,
    host_col: str = "source",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain balancing: keep at most `cap` documents per host,
    preferring larger `order_col` (ties to the smaller doc id —
    fully deterministic). Returns (doc_id, host, rk) for the
    survivors.

    The per-host cap is THE standard web-corpus rebalancing op (stops
    boilerplate-heavy megasites from dominating the training mix).
    Scale shape: one hash exchange on host + an in-partition top-cap;
    Spark pushes a per-partition rank limit below the exchange for
    row_number+filter (WindowGroupLimit), so the shuffle carries at
    most cap rows per host per map partition, not the whole corpus."""
    from pyspark.sql import Window

    w = Window.partitionBy(host_col).orderBy(
        F.desc(order_col), F.asc(id_col)
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(host_col).alias("host"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 3,
    host_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Line-level boilerplate removal, the CCNet/RefinedWeb chrome
    filter: a line is boilerplate iff it occurs in >= `min_docs`
    DISTINCT documents of the SAME host; such lines (headers, nav
    bars, cookie banners, footers) are dropped and each document is
    reassembled from its surviving lines in original order.

    Returns (doc_id, text_clean, n_lines_kept, n_lines_removed);
    documents whose every line was boilerplate are dropped (their
    payload is pure chrome).

    Scale shape: posexplode on '\\n', ONE (host, line) aggregation
    whose partial (map-side) combine absorbs the per-host repetition
    that makes a line boilerplate in the first place, a left_anti
    equi-join back, and one per-doc rollup with an in-group
    struct-sort reassembly — no window over the corpus, no Python.
    The (host, line) key is naturally skew-bounded: a hot boilerplate
    line collapses to one row per map partition before the shuffle.
    """
    # n_total rides the line rows (constant per doc) so the per-doc
    # count needs no separate corpus scan or join-back
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(host_col).alias("host"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_total"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    boiler = (
        lines.groupBy("host", "line")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("host", "line")
    )
    kept = lines.join(boiler, ["host", "line"], "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_lines_kept"),
            F.first("n_total").alias("n_total"),
        )
        .select(
            "doc_id",
            "text_clean",
            "n_lines_kept",
            (F.col("n_total") - F.col("n_lines_kept")).alias("n_lines_removed"),
        )
    )


def vocab_growth(
    docs: DataFrame,
    bucket_size: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heaps-law vocabulary growth curve: scanning documents in doc_id
    order, how many distinct terms have appeared after each bucket of
    `bucket_size` docs. Returns (bucket, docs_cum, new_terms,
    vocab_cum) — dataset-card material (V = K·n^beta sub-linearity is
    the sanity check that a corpus isn't TEMPLATE-dominated).

    Scale shape: one (term -> min doc_id) aggregation over the
    exploded token relation (map-side combined), then bucket rollups —
    output cardinality = n_docs / bucket_size. The cumulative window
    runs over buckets, not terms."""
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col).alias("d"), F.explode(_tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    first = tok.groupBy("term").agg(F.min("d").alias("first_doc"))
    per_bucket = (
        first.groupBy(F.expr(f"first_doc div {bucket_size}").alias("bucket"))
        .agg(F.count("*").cast("long").alias("new_terms"))
    )
    docs_per_bucket = (
        docs.groupBy(F.expr(f"{id_col} div {bucket_size}").alias("bucket"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        docs_per_bucket.join(per_bucket, "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_docs",
            F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
        )
        .withColumn("docs_cum", F.sum("n_docs").over(w).cast("long"))
        .withColumn("vocab_cum", F.sum("new_terms").over(w).cast("long"))
        .select("bucket", "docs_cum", "new_terms", "vocab_cum")
    )


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Confusion matrix of the n-gram language identifier against the
    labeled `lang` column: (lang_true, lang_pred, n_docs) — the
    quality-monitoring rollup that tells you when the heuristic
    drifts per stratum. NULL labels coalesce to '<null>' (same
    sentinel convention as stratified_sample). One map + one
    #langs²-cardinality aggregation."""
    pred = lang_id(docs)
    truth = docs.select(
        "doc_id",
        F.coalesce(F.col("lang").cast("string"), F.lit("<null>")).alias(
            "lang_true"
        ),
    )
    return (
        truth.join(pred.select("doc_id", "lang_pred"), "doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def bpe_pair_counts(
    docs: DataFrame, k: int = 100, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The first BPE merge step's statistics: frequencies of ADJACENT
    token pairs across the corpus — (left, right, n_pairs), top k by
    (n_pairs DESC, left ASC, right ASC).

    Tokenizer training at corpus scale is exactly this aggregation run
    repeatedly; the expensive part is the first full-corpus pass, which
    is what a 100-TB engine must do well: one arrays_zip of the token
    array with its own tail (no self-join — the pairing happens inside
    the row), one explode, ONE hash aggregation with map-side combine
    (natural-language pair skew IS the combiner's best case), TakeOrdered
    top-k."""
    toks = _tokens(F.col(text_col))
    pairs = F.when(
        F.size(toks) >= 2,
        F.arrays_zip(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
        ),
    ).otherwise(F.array().cast("array<struct<`0`:string,`1`:string>>"))
    return (
        docs.select(F.explode(pairs).alias("p"))
        .select(F.col("p")["0"].alias("left"), F.col("p")["1"].alias("right"))
        .groupBy("left", "right")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("left"), F.asc("right"))
        .limit(k)
    )


def pack_sequences(
    docs: DataFrame,
    context_len: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic ORDERED sequence packing: documents are laid out
    in doc_id order and cut into training sequences of `context_len`
    tokens; each document is assigned the bin its FIRST token falls
    into. Returns per-bin stats: (bin, n_docs, n_tokens) ordered by
    bin — the packing-efficiency report (how many sequences, how full)
    a pretraining data loader needs before writing shards.

    Greedy best-fit packing is order-dependent and unreproducible
    across partitionings; the fixed-order layout is the deterministic
    contract (and what streaming shard writers actually do). Plan: the
    DISTRIBUTED two-pass exclusive prefix sum (ids.py::
    attach_cumulative_weight — range partition on doc_id, per-
    partition totals to the driver, numpy cumsum per partition), NOT
    a global Window.orderBy, which Spark executes on a single
    partition; then one hash aggregation on the bin id."""
    from .checkpointing import finish_with_caches
    from .ids import attach_cumulative_weight

    n_toks = F.size(_tokens(F.col(text_col))).cast("long")
    per_doc = docs.select(F.col(id_col).alias("doc_id"), n_toks.alias("n"))
    caches: list = []
    laid, _total = attach_cumulative_weight(
        per_doc, ["doc_id"], "n", out_col="start", caches=caches
    )
    out = (
        # integer DIV, not `/`: the cumulative offset exceeds the
        # double mantissa long before 10^12 documents
        laid.select(F.expr(f"start DIV {int(context_len)}").alias("bin"), "n")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens"))
        .orderBy("bin")
    )
    return finish_with_caches(out, caches)


def mixture_weights(
    docs: DataFrame,
    stratum_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-sampled (alpha = 0.5) dataset-mixture weights per
    stratum: weight proportional to sqrt(total tokens) — the standard
    down-weighting of dominant languages/sources when mixing a
    multilingual corpus. Returns (lang, total_tokens, sqrt_tokens,
    weight_ppm) ordered by stratum.

    Determinism note: IEEE-754 REQUIRES sqrt to be correctly rounded
    (unlike ln/exp, which differ in the last ulp across engines — the
    repo-wide reason transcendentals are banned from certified
    outputs), so floor(sqrt(bigint)) is bit-identical cross-engine;
    the normalization then stays in pure integer arithmetic
    (weight_ppm = sqrt_i * 1e6 DIV sum(sqrt))."""
    toks = F.size(_tokens(F.col(text_col))).cast("long")
    per = (
        docs.select(F.col(stratum_col).alias("lang"), toks.alias("t"))
        .groupBy("lang")
        .agg(F.sum("t").alias("total_tokens"))
        .select(
            "lang",
            "total_tokens",
            F.floor(F.sqrt(F.col("total_tokens").cast("double"))).cast("long").alias(
                "sqrt_tokens"
            ),
        )
    )
    total = per.agg(F.sum("sqrt_tokens").alias("denom"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "total_tokens",
            "sqrt_tokens",
            F.expr("sqrt_tokens * 1000000 DIV denom").alias("weight_ppm"),
        )
        .orderBy("lang")
    )
