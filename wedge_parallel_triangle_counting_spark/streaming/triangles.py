"""Incremental EXACT triangle counting over an edge stream.

Streaming maintenance of the reference's one query (tc.cu): per
micro-batch, only the DELTA is computed — a triangle is counted in
the batch where its LAST edge arrives, attributed to that edge:

    rank every edge: accumulated edges rank -1, batch edges get a
    unique id; for each new edge (u, v, i), count vertices w where
    both {u, w} and {v, w} exist with rank < i.

Each triangle is counted exactly once (at its maximum-ranked new
edge), so the accumulated count after any prefix of batches equals
the batch `triangle_count` over the union of those batches — asserted
in tests, and the driver's DuckDB oracle checks the full replay.

Cost per batch: two equi-joins keyed on the new edges' endpoints —
O(Δm · avg_deg) work, NOT a recount of the accumulated graph. State
is the accumulated canonical edge set (localCheckpoint per batch to
truncate lineage) plus one driver-side counter; exact maintenance is
inherently O(m) state — bound it with windowed expiry upstream if the
stream is unbounded.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkpointing import checkpoint

EDGE_MODULUS = 301


def event_edges(events: DataFrame, modulus: int = EDGE_MODULUS) -> DataFrame:
    """Deterministic edge derivation from the events table (the same
    fold-by-modulus family as plans/testdata)."""
    return events.select(
        (F.col("user_id") % modulus).alias("src"),
        (F.col("event_id") % modulus).alias("dst"),
    )


def event_edges_sql(modulus: int = EDGE_MODULUS) -> str:
    return f"SELECT user_id % {modulus} AS src, event_id % {modulus} AS dst FROM events"


class _TriangleState:
    """Accumulated canonical edge set + exact running count."""

    def __init__(self) -> None:
        self.edges: DataFrame | None = None
        self.count = 0
        self.batches = 0

    def update(self, batch: DataFrame) -> None:
        new = (
            batch.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .dropDuplicates(["a", "b"])
        )
        if self.edges is not None:
            new = new.join(self.edges, ["a", "b"], "left_anti")
        # freeze a unique rank per new edge (stable across the two
        # incidence references below)
        new = checkpoint(
            new.withColumn("eid", F.monotonically_increasing_id()), eager=True
        )
        self.batches += 1
        if new.isEmpty():
            return
        old = (
            self.edges.withColumn("eid", F.lit(-1).cast("long"))
            if self.edges is not None
            else new.limit(0)
        )
        alledges = old.unionByName(new)
        # incidence view: every edge from both endpoints, with its rank
        inc = alledges.select(
            F.col("a").alias("x"), F.col("b").alias("w"), F.col("eid").alias("rid")
        ).unionByName(
            alledges.select(
                F.col("b").alias("x"), F.col("a").alias("w"), F.col("eid").alias("rid")
            )
        )
        # wedge legs from u, closed against legs from v, both ranked
        # strictly below the counting edge
        j1 = (
            new.select(F.col("a").alias("u"), F.col("b").alias("v"), F.col("eid").alias("i"))
            .join(inc, F.col("u") == F.col("x"))
            .filter((F.col("rid") < F.col("i")) & (F.col("w") != F.col("v")))
            .select("u", "v", "i", "w")
        )
        inc2 = inc.select(
            F.col("x").alias("x2"), F.col("w").alias("w2"), F.col("rid").alias("rid2")
        )
        closed = j1.join(
            inc2, (F.col("v") == F.col("x2")) & (F.col("w") == F.col("w2"))
        ).filter(F.col("rid2") < F.col("i"))
        self.count += closed.count()
        self.edges = checkpoint(alledges.select("a", "b"), eager=True)


def run_streaming_triangle_count(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    modulus: int = EDGE_MODULUS,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay the events directory as a stream (availableNow) and
    maintain the exact cumulative triangle count incrementally.
    Returns a 1-row DataFrame [triangles: long].

    The running state lives on the DRIVER (a _TriangleState), not in
    the streaming checkpoint — so resuming an existing checkpoint would
    make foreachBatch silently skip already-committed batches and
    undercount (ADVICE r2). Refuse a non-empty checkpoint dir instead:
    this operator computes the cumulative count of ONE full replay."""
    ckpt = Path(checkpoint_dir)
    if ckpt.exists() and any(ckpt.iterdir()):
        raise ValueError(
            f"checkpoint dir {checkpoint_dir!r} is non-empty: resuming "
            "would skip committed batches while the driver-held count "
            "restarts at 0 (silent undercount). Use a fresh directory."
        )
    schema = spark.read.parquet(events_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = event_edges(reader.parquet(events_dir), modulus)

    state = _TriangleState()
    query = (
        stream.writeStream.foreachBatch(lambda df, _id: state.update(df))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.createDataFrame([(int(state.count),)], "triangles long")
