"""Deduplication operators for a training-data pipeline over the
`documents` table: exact (hash), n-gram Jaccard, MinHash+LSH, SimHash.

Everything is pure DataFrame algebra (JVM expressions; no Python in
the hot path) and every computation is mirrored exactly by a DuckDB
oracle in plans/oracles.py — hash functions are md5-derived so both
engines produce identical values.

Scale notes:
- exact dedup = one hash aggregation, the cheapest possible shuffle;
- n-gram Jaccard, containment and substring windows are the open-wedge
  pair relation with the SHINGLE as the wedge center: the doc↔shingle
  inverted index goes through graph.wedge_pairs (the same aggregation
  behind butterflies and link prediction), which drops single-doc
  shingles before the self-join, salts Zipf-head shingles across
  tasks, and applies the stop-shingle cutoff (`max_shingle_freq`,
  `max_window_freq`) from the one per-shingle degree;
- MinHash+LSH bounds candidate generation: 16 hashes → 4 bands of 4;
  only docs agreeing on a full band meet in the band-bucket join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import wedge_pairs

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS


def _tokens(col):
    return F.split(F.trim(F.lower(col)), r"\s+")


def _hash64(col):
    """Deterministic 60-bit int from md5 — reproducible in DuckDB as
    ('0x' || substr(md5(x), 1, 15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) — DISTINCT token n-grams per document."""
    toks = _tokens(F.col(text_col))
    # guard: Spark sequence(1, 0) counts DOWN ([1, 0]); emit an empty
    # array when the doc has fewer than n tokens
    positions = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(positions, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(sh).alias("shingle"))
        .distinct()
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (text_hash, n_docs, keeper) for groups
    with >1 member; keeper = min doc_id."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("doc_id"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


def _shingle_overlap(
    docs: DataFrame,
    n: int,
    max_shingle_freq: int | None,
    caches: list | None = None,
) -> DataFrame:
    """(doc_a, doc_b, inter, sza, szb) for every doc pair a < b sharing
    a shingle: inter = |A∩B| and sza, szb = the per-doc shingle set
    sizes, all counted over the shingles in at most `max_shingle_freq`
    documents (None keeps every shingle). Shared base of
    ngram_jaccard_pairs and containment_pairs."""
    # the explicit not-null filter gives every consumer the same
    # shingle subtree (otherwise each infers its own filters below the
    # distinct), so the shingle scan and its exchange run once
    inc = (
        shingles(docs, n=n)
        .select(F.col("shingle").alias("key"), F.col("doc_id").alias("item"))
        .filter(F.col("key").isNotNull() & F.col("item").isNotNull())
    )
    if caches is not None:
        inc = inc.persist()
        caches.append(inc)
    sizes = inc.groupBy("item").agg(F.count(F.lit(1)).alias("sz"))
    if max_shingle_freq is not None:
        # minus each doc's stop shingles: only the keys over the cap
        # meet the incidence, and the degree is wedge_pairs' own
        # aggregation, so the planner reuses its shuffle
        deg = inc.groupBy("key").agg(F.count(F.lit(1)).alias("deg"))
        stop = (
            inc.join(deg.filter(F.col("deg") > max_shingle_freq), "key")
            .groupBy("item")
            .agg(F.count(F.lit(1)).alias("n_stop"))
        )
        sizes = sizes.join(stop, "item", "left").select(
            "item", (F.col("sz") - F.coalesce("n_stop", F.lit(0))).alias("sz")
        )
    return (
        wedge_pairs(inc, max_key_deg=max_shingle_freq)
        .join(sizes.select(F.col("item").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("item").alias("b"), F.col("sz").alias("szb")), "b")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.col("n").alias("inter"),
            "sza",
            "szb",
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
    caches: list | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact token-n-gram Jaccard similarity:
    (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard >= threshold.

    Inverted-index self-join for candidates (graph.wedge_pairs), then
    |A∩B| from the join count and |A∪B| = |A|+|B|−|A∩B| from per-doc
    set sizes.

    `max_shingle_freq` (default ON) drops shingles shared by more than
    that many documents before the self-join — the stop-shingle cutoff
    that keeps the Zipf head from exploding the candidate join at web
    scale (a shingle in k docs contributes k² candidate rows). Note
    the cutoff changes the similarity semantics slightly: pairs whose
    overlap is ONLY ultra-common shingles are not near-duplicates in
    any useful sense. Pass None to disable.

    The shingle frame feeds three consumers (degrees, sizes, the
    self-join). Pass a `caches` list to persist it across them — the
    frame is appended so the CALLER unpersists after its terminal
    action (same contract as triangle_count's internal caches). The
    default recomputes the shingle scan per consumer but never leaks a
    cached block into a long-lived session."""
    jaccard = F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        _shingle_overlap(docs, n, max_shingle_freq, caches)
        .filter(jaccard >= threshold)
        .select("doc_a", "doc_b", F.round(jaccard, 6).alias("jaccard"))
    )


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h0..h15) MinHash signature: h_i = min over shingles of
    md5-hash(i || ':' || shingle)."""
    sh = shingles(docs, n=n)
    aggs = [
        F.min(_hash64(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, n: int = 3) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH:
    (doc_a, doc_b) distinct pairs agreeing on at least one of 4 bands
    (band signature = md5 of its 4 concatenated minhashes).

    The bands are posexploded into rows and matched with ONE
    (band_idx, band_sig) self-join — one shuffle instead of 4 unioned
    joins, and no persisted signature frame left behind."""
    sig = minhash_signatures(docs, n=n)
    band_exprs = []
    for b in range(BANDS):
        cols = [f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        band_exprs.append(
            F.md5(F.concat_ws(",", *[F.col(c).cast("string") for c in cols]))
        )
    banded = sig.select(
        "doc_id", F.posexplode(F.array(*band_exprs)).alias("band_idx", "band_sig")
    )
    x = banded.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_sig")
    y = banded.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_sig")
    return (
        x.join(y, ["band_idx", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


SIMHASH_BANDS = 4


def simhash_near_pairs(
    docs: DataFrame,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance:
    (doc_a, doc_b, hamming) with doc_a < doc_b, hamming <= max_hamming.

    Banded candidate generation (pigeonhole: hamming <= bands-1
    guarantees at least one band of bits/bands matches exactly, so
    recall is EXACT for max_hamming <= bands-1), then the precise
    Hamming filter via xor+bit_count — never an all-pairs join."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {bands - 1} bands for exact recall"
        )
    rows = bits // bands
    mask = (1 << rows) - 1
    sig = simhash(docs, bits=bits)
    band_exprs = [
        F.shiftright(F.col("simhash"), b * rows).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ]
    banded = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*band_exprs)).alias("band_idx", "band"),
    )
    x = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"), "band_idx", "band"
    )
    y = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"), "band_idx", "band"
    )
    cand = (
        x.join(y, ["band_idx", "band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb")
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def simhash(docs: DataFrame, bits: int = 32, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — token-level SimHash: bit j is the sign of
    Σ_tokens (±1 depending on bit j of the token's md5 hash), weighted
    by token multiplicity."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(F.col(text_col))).alias("token"),
    ).withColumn("th", _hash64(F.col("token")))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agged = tok.groupBy("doc_id").agg(*bit_aggs)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
        sim = term if sim is None else (sim + term)
    return agged.select("doc_id", sim.alias("simhash"))


def plant_near_dup_embeddings(
    emb: DataFrame,
    every: int = 7,
    phase: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic near-duplicate planting fixture: every vector
    whose id ≡ `phase` (mod `every`) is REPLACED in place by a
    perturbed copy of its predecessor's vector (first coordinate
    scaled ×1.25, rest verbatim), creating (id−1, id) pairs at cosine
    ≈0.97 — the ≥0.9 regime a real near-dup corpus exercises, which
    the raw synthetic embeddings (pairwise cosine ceiling ~0.51) never
    reach. Replacing in place keeps the id space intact, so documents
    joins and cluster assignments stay valid; partner ids are
    ≡ phase−1 (mod every), never themselves replaced, so pairs never
    chain. Sign pattern is preserved (×1.25 on one coordinate), so
    axis-sign LSH recalls every planted pair by construction. All
    arithmetic is double (float widened exactly, ×1.25 IEEE-rounded
    identically on both engines) — mirrored bit for bit by
    plans/oracles.planted_embeddings_cte."""
    base = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("embedding"),
        "label",
    )
    partner = base.select(
        (F.col("vec_id") + F.lit(1)).alias("vec_id"),
        F.col("embedding").alias("p_emb"),
    )
    perturbed = F.expr(
        "concat(array(p_emb[0] * 1.25D), slice(p_emb, 2, size(p_emb) - 1))"
    )
    return (
        base.join(partner, "vec_id", "left")
        .select(
            "vec_id",
            F.when(
                (F.col("vec_id") % F.lit(every) == F.lit(phase))
                & F.col("p_emb").isNotNull(),
                perturbed,
            )
            .otherwise(F.col("embedding"))
            .alias("embedding"),
            "label",
        )
    )


def embedding_near_dup(
    docs: DataFrame,
    emb: DataFrame,
    threshold: float = 0.9,
    nbits: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate verdicts over the documents
    table: one row (doc_id, dup_of, cos, lang) per document that has a
    SMALLER-id near neighbor (cosine >= threshold among axis-sign LSH
    bucket mates); `dup_of` is the smallest such neighbor — the
    canonical keeper under the same min-id convention as
    dedup_clusters, so dropping every row's doc_id dedups the corpus.

    Scale path: candidates are bucket-bounded by
    similarity.lsh_bucket_pairs (~N²/2^nbits per-bucket work, nbits
    auto-derived ~log2 N) — never all-pairs; the verdict is one
    groupBy over the pair list plus one join back to `docs`. Exact
    duplicates are always caught (identical vectors share every
    bucket); near-miss recall is the LSH trade documented in
    similarity.py. The whole construct is SQL-reproducible, mirrored
    bit for bit by the DuckDB oracle (plans/oracles.py:
    embedding_near_dup_sql)."""
    from .similarity import lsh_bucket_pairs

    pairs = lsh_bucket_pairs(emb, threshold=threshold, nbits=nbits)
    verdicts = (
        pairs.groupBy(F.col("id_b").alias(id_col))
        .agg(F.min(F.struct(F.col("id_a"), F.col("cos"))).alias("s"))
        .select(
            id_col,
            F.col("s.id_a").alias("dup_of"),
            F.col("s.cos").alias("cos"),
        )
    )
    return verdicts.join(docs.select(id_col, "lang"), id_col).select(
        id_col, "dup_of", "cos", "lang"
    )


def decontaminate(
    docs: DataFrame,
    bench_mod: int = 29,
    n: int = 3,
    min_overlap: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at
    least `min_overlap` distinct token n-grams with a benchmark set.
    Returns (doc_id, n_overlap) for contaminated docs.

    The benchmark set here is derived deterministically (docs with
    doc_id % bench_mod == 0) so the oracle can mirror it; in
    production it is the eval-suite text. Scale shape: the benchmark
    shingle set is small by nature (eval suites are KBs-MBs, the
    corpus is TBs) — broadcast it and the contamination check is a
    map-side semi-join + one count aggregation over the corpus
    shingles; the 100-TB side is never shuffled on the shingle key."""
    sh = shingles(docs, n=n, id_col=id_col, text_col=text_col)
    is_bench = F.col("doc_id") % bench_mod == 0
    bench_sh = sh.filter(is_bench).select("shingle").distinct()
    return (
        sh.filter(~is_bench)
        .join(F.broadcast(bench_sh), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def substring_dup_pairs(
    docs: DataFrame,
    window: int = 16,
    max_window_freq: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-window duplicate pairs (the Lee et al. 2022
    "Deduplicating Training Data" exact-substring family, windowed):
    (doc_a, doc_b, n_shared_windows) for doc_a < doc_b sharing at least
    one exact `window`-token span. A span this long shared verbatim is
    copied text, not coincidence — the signal n-gram Jaccard dilutes.

    Windows are DISTINCT per doc (shingles reuse), hashed to 60-bit
    ints so the inverted-index self-join shuffles fixed-width keys, and
    capped by document frequency (`max_window_freq`): a window in more
    docs than the cap is boilerplate, and dropping it both denoises the
    signal and bounds the join fan-out at freq^2 — the same skew guard
    ngram_jaccard_pairs uses, mandatory at 10^12 documents."""
    win = shingles(docs, n=window, id_col=id_col, text_col=text_col).select(
        _hash64(F.concat(F.lit("sw:"), F.col("shingle"))).alias("key"),
        F.col("doc_id").alias("item"),
    )
    return wedge_pairs(win, max_key_deg=max_window_freq).select(
        F.col("a").alias("doc_a"),
        F.col("b").alias("doc_b"),
        F.col("n").alias("n_shared_windows"),
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    k: int = 8,
    num_iters: int = 3,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs by
    clustering first, comparing only within a cluster. Returns
    (id_a, id_b, cluster, cos) with id_a < id_b and cosine >=
    threshold, cos rounded to 1e-6.

    The deterministic integer k-means (operators/kmeans.py) is the
    candidate bound: per-cluster all-pairs is the SemDeDup contract,
    and k scales with corpus size (sqrt(N)-ish) so per-cluster work
    stays ~(N/k)^2 — bounded, never global all-pairs. One equi-join
    on cluster id; the oracle replays clustering + pairing exactly."""
    from .kmeans import kmeans_assign
    from .similarity import _as_double, _dot, _norm

    assign = kmeans_assign(emb, k=k, num_iters=num_iters, id_col=id_col, vec_col=vec_col)
    base = (
        emb.select(
            F.col(id_col).cast("long").alias("vid"),
            _as_double(F.col(vec_col)).alias("v"),
        )
        .withColumn("nrm", _norm(F.col("v")))
        .join(assign.withColumnRenamed("vec_id", "vid"), "vid")
    )
    a = base.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "cluster",
    )
    b = base.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "cluster",
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select(
            "id_a", "id_b", F.col("cluster").cast("int").alias("cluster"),
            F.round("cos", 6).alias("cos"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    min_pct: int = 60,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT
    (Broder 1997's other resemblance measure): |A∩B| / |A| — catches
    quotes, boilerplate inclusion, and subset documents that Jaccard
    misses when the container is much larger. Returns directed rows
    (doc_inner, doc_outer, inter, sz_inner, cont_pct) with
    cont_pct = inter*100 div sz_inner >= min_pct, doc_inner !=
    doc_outer; exact integer percent, both directions of a candidate
    pair evaluated from ONE unordered inverted-index join.

    Same stop-shingle cutoff (df <= max_shingle_freq) as
    ngram_jaccard_pairs bounds the candidate join at web scale."""
    inter = _shingle_overlap(docs, n, max_shingle_freq)
    fwd = inter.select(
        F.col("doc_a").alias("doc_inner"),
        F.col("doc_b").alias("doc_outer"),
        "inter",
        F.col("sza").alias("sz_inner"),
    )
    rev = inter.select(
        F.col("doc_b").alias("doc_inner"),
        F.col("doc_a").alias("doc_outer"),
        "inter",
        F.col("szb").alias("sz_inner"),
    )
    return (
        fwd.unionByName(rev)
        .withColumn("cont_pct", F.expr("inter * 100 div sz_inner"))
        .filter(F.col("cont_pct") >= min_pct)
    )


def novelty_scores(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document shingle novelty in doc_id scan order: what
    fraction of a document's token n-grams has never appeared in any
    earlier document. Returns (doc_id, n_shingles, n_novel,
    novelty_ppm) — floor ppm, exact integers. Low-novelty tails are
    the template/boilerplate mass a curriculum or dedup pass drops;
    docs with fewer than n tokens have no shingles and no row.

    Plan: one (shingle -> min doc_id) aggregation + one join back —
    the same two-pass shape as textstats.vocab_growth, corpus-sized,
    no pairwise work."""
    sh = shingles(docs, n=n)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn("novelty_ppm", F.expr("n_novel * 1000000 div n_shingles"))
    )
