"""Incremental link-graph ingestion: a pages stream -> an edge table.

The batch path (``operators.graph.edges_from_pages``) assigns DENSE vertex
ids with a global dictionary — correct for a frozen crawl, impossible to
maintain incrementally without a coordination point. The streaming path
therefore keys vertices by the 64-bit xxhash of the url (stateless,
deterministic, identical across batches and engines): a crawl delta lands
as parquet files in a directory, each micro-batch extracts its outlinks
with the SAME vectorized pandas UDF the batch path uses (byte-identical
per-url extraction, per the input_hint invariant), dedups WITHIN the
batch, and appends to the edge sink. Cross-batch duplicates (recrawled
pages) are resolved at read time by ``compact_edges`` keeping the LATEST
crawl of each src url — the standard append-log + compaction pattern
(what an Iceberg MERGE would do; plain parquet has no merge, so the log
is append-only and compaction is a read-side distinct).

Scale: each micro-batch touches only its own files (no global state, no
stream-stream join, no watermark needed — edges are facts, not windows);
the sink is partitioned append-only parquet. Compaction is one
window-free ``max(warc_ts) per src`` semi-join — the J1 shuffle shape —
run as often as the downstream graph build needs, on the engine that
already handles the full-crawl scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_spark.functions.extract import extract_outlinks
from pagerank_spark.sources.synth import PAGES_SCHEMA


def stream_pages(spark: SparkSession, path: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source pages stream (a crawl landing directory)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def edges_of_batch(pages: DataFrame) -> DataFrame:
    """(src_url, dst_url, src, dst, warc_ts) for one batch of pages —
    hash-keyed vertex ids, in-batch dedup keeping the latest recrawl."""
    # explode the UDF call itself: exploding a UDF output column would let
    # Catalyst infer a filter on that column below the explode and plant a
    # second ArrowEvalPython under it (see operators/graph.py)
    raw = pages.select(F.col("url").alias("src_url"), "warc_ts",
                       F.explode(extract_outlinks(F.col("html"))).alias("dst_url"))
    # a page recrawled within the batch: keep its newest snapshot's links
    latest = (raw.groupBy("src_url")
              .agg(F.max("warc_ts").alias("warc_ts")))
    return (
        raw.join(latest, ["src_url", "warc_ts"])
        .distinct()
        .select("src_url", "dst_url",
                F.xxhash64("src_url").alias("src"),
                F.xxhash64("dst_url").alias("dst"),
                "warc_ts")
    )


def ingest_edges(pages_stream: DataFrame, out_dir: str,
                 checkpoint_dir: str):
    """Bind the extraction to an append-only parquet sink; returns the
    started StreamingQuery (caller drains with processAllAvailable or a
    trigger). foreachBatch runs the batch dedup per micro-batch."""
    def _write(batch: DataFrame, batch_id: int) -> None:
        edges_of_batch(batch).write.mode("append").parquet(out_dir)

    return (pages_stream.writeStream
            .foreachBatch(_write)
            .option("checkpointLocation", checkpoint_dir)
            .start())


def compact_edges(spark: SparkSession, out_dir: str) -> DataFrame:
    """The current edge set from the append log: per src url, the edges of
    its LATEST crawl only (recrawls replace, never accumulate)."""
    log = spark.read.parquet(out_dir)
    latest = log.groupBy("src_url").agg(F.max("warc_ts").alias("warc_ts"))
    return (log.join(latest, ["src_url", "warc_ts"])
            .select("src_url", "dst_url", "src", "dst").distinct())
