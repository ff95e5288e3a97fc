"""Streaming sketch maintenance — the count-min counter table and the
HLL register table kept up to date incrementally over a document
stream.

These two sketches are THE streaming-native states:

- count-min counters ADD across micro-batches (a streaming groupBy
  count is exactly the sketch's merge), so the online counter table
  after any prefix of the stream equals the batch sketch of that
  prefix bit-for-bit;
- HLL registers MAX-merge, and the register build is duplicate-
  insensitive (the same value always lands the same (reg, rho) pair),
  so the streaming aggregation needs NO distinct state — the register
  table is maintained with 256 rows of state, period, no matter how
  many documents stream past. That is the whole point of sketching a
  10^12-document crawl: bounded state for an unbounded stream.

Both runners share the LOGICAL sketch queries with the batch
operators (operators/sketches.py::countmin_sketch_table /
hll_register_table) — the batch/stream twin discipline of
streaming/events.py: the availableNow replay must equal the batch
answer, asserted in tests, and the probe/fold post-steps are the same
batch functions applied to the memory-sink state.

State story at scale: the aggregation state is depth*width counters
(4096 rows) / m registers (256 rows) — constant. Output mode is
complete (the state IS the result and it is tiny). Probing happens
offline against the maintained state (the production shape: sketches
updated online, dashboards/filters query them), so the one-streaming-
aggregation limit never binds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkpointing import checkpoint
from ..operators.sketches import (
    countmin_sketch_table,
    hll_register_table,
)
from ..operators.textstats import _tokens


def _token_stream(docs: DataFrame) -> DataFrame:
    return docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))


def run_streaming_countmin(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay the parquet documents as a stream (availableNow),
    maintain the count-min counter table incrementally, and return the
    final memory-sink counter table (r, b, cnt)."""
    schema = spark.read.parquet(docs_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)
    counters = countmin_sketch_table(_token_stream(stream), "tok")
    q = (
        counters.writeStream.format("memory")
        .queryName("stream_countmin")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return checkpoint(spark.table("stream_countmin"), eager=True)


def run_streaming_hll_registers(
    spark: SparkSession, docs_dir: str, checkpoint_dir: str, salt: str = "hll"
) -> DataFrame:
    """Replay the parquet documents as a stream and maintain the HLL
    register table over the TOKEN stream (no distinct anywhere — the
    register max absorbs duplicates). Returns (reg, m_j)."""
    schema = spark.read.parquet(docs_dir).schema
    stream = spark.readStream.schema(schema).parquet(docs_dir)
    regs = hll_register_table(_token_stream(stream), "tok", salt=salt)
    q = (
        regs.writeStream.format("memory")
        .queryName("stream_hll_regs")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return checkpoint(spark.table("stream_hll_regs"), eager=True)
