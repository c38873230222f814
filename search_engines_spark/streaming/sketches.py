"""Streaming corpus-statistics sketches: count-min + HyperLogLog
maintained over a document stream.

The mergeable-sketch property IS the streaming story: a CMS is
mergeable by cell addition and an HLL by per-register max, so the
stream never needs read-modify-write state — each micro-batch writes
ITS OWN batch-local sketch (KBs: ≤ depth·width cells + ≤ 2^p
registers), partitioned by batch_id with dynamic partition overwrite
(retries overwrite themselves) and journal-published like
`ingest.start_postings_stream`. The live sketch is a READ-side merge
over published partitions — sum for CMS cells, max for HLL registers —
which makes the final state EXACTLY equal to a batch build over the
same files for ANY batch split (tested), because both merges are
associative, commutative, and idempotent-per-partition.

Contrast with a `foreachBatch` that updates one global sketch in
place: that write is not idempotent under retry (a replayed batch
would double-add its counts) and serializes on the sink. Append-only
batch sketches + merge-at-read keeps exactly-once for free and the
sink grows by KBs per batch; a compaction (fold published partitions
into one and re-journal) is the same generation pattern as
`indexer.merge` if batch count ever matters.

At 100 TB: this is the per-shard corpus-statistics sidecar pipeline —
every ingest shard contributes a fixed-size sketch, and any consumer
merges exactly the shards it trusts (the journal is the trust list).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..indexer.segments import journal_append, journal_read
from ..pipeline.dedup import tokens_expr
from ..pipeline.sketches import CMS_DEPTH, CMS_WIDTH, HLL_P, cms_build, \
    hll_build
from .ingest import DOC_SCHEMA

_SKETCH_JOURNAL = "_sketch_journal.jsonl"


def _journal_path(out_dir: str) -> str:
    return os.path.join(out_dir, _SKETCH_JOURNAL)


def published_sketch_batches(out_dir: str) -> set[int]:
    return {int(e["batch_id"]) for e in journal_read(_journal_path(out_dir))
            if "batch_id" in e}


def stream_cms(spark: SparkSession, out_dir: str,
               ) -> DataFrame:
    """The live count-min sketch → (row, bucket, cnt): published batch
    sketches merged by cell addition."""
    batches = sorted(published_sketch_batches(out_dir))
    if not batches:
        return spark.createDataFrame(
            [], "row long, bucket long, cnt long")
    return (spark.read.parquet(os.path.join(out_dir, "cms"))
            .where(F.col("batch_id").isin(batches))
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt")))


def stream_hll(spark: SparkSession, out_dir: str) -> DataFrame:
    """The live HyperLogLog registers → (bucket, r): published batch
    sketches merged by per-register max."""
    batches = sorted(published_sketch_batches(out_dir))
    if not batches:
        return spark.createDataFrame([], "bucket long, r long")
    return (spark.read.parquet(os.path.join(out_dir, "hll"))
            .where(F.col("batch_id").isin(batches))
            .groupBy("bucket")
            .agg(F.max("r").alias("r")))


def start_sketch_stream(spark: SparkSession, src_dir: str, out_dir: str,
                        checkpoint_dir: str, schema: str = DOC_SCHEMA,
                        text_col: str = "text",
                        depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
                        p: int = HLL_P,
                        available_now: bool = True,
                        max_files_per_trigger: int | None = None):
    """File-source stream → per-batch CMS + HLL sketch partitions.
    Returns the StreamingQuery. Same commit protocol as
    `dedup.start_dedup_stream`: both sketch writes land, THEN the
    journal append publishes the batch; the checkpoint identity is
    journaled so a restart under a different checkpoint (rewound batch
    ids) fails fast instead of clobbering published partitions."""
    ident = os.path.abspath(checkpoint_dir)
    for e in journal_read(_journal_path(out_dir)):
        if "checkpoint" in e and e["checkpoint"] != ident:
            raise ValueError(
                f"sketch sink {out_dir} belongs to checkpoint "
                f"{e['checkpoint']}; restarting under {ident} would "
                f"rewind batch ids — use a fresh out_dir")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    src = reader.parquet(src_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        for name, frame in (
                ("cms", cms_build(batch_df, text_col, depth, width)),
                ("hll", hll_build(
                    batch_df.select(
                        F.explode(tokens_expr(text_col)).alias("t")),
                    "t", p))):
            (frame.withColumn("batch_id", F.lit(batch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id")
             .parquet(os.path.join(out_dir, name)))
        entries = journal_read(_journal_path(out_dir))
        if not any("checkpoint" in e for e in entries):
            journal_append(_journal_path(out_dir), {"checkpoint": ident})
        if not any(int(e.get("batch_id", -1)) == batch_id
                   for e in entries):
            journal_append(_journal_path(out_dir), {"batch_id": batch_id})

    w = (src.writeStream.foreachBatch(process)
         .option("checkpointLocation", checkpoint_dir))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
