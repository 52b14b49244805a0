"""Idempotent, resumable extraction job: bucketing, skew split, checkpoint,
per-partition lineage metrics.

North-rule requirements (BASELINE.json north_rule / SURVEY.md §4):
  1. "skewed oversized-HTML keys are salted and repartitioned explicitly" —
     the input is split by `octet_length(html)` into a small-doc population,
     which keeps the scan's own splits (sized by maxPartitionBytes; no url
     hash-partition), and an oversized population, round-robined into
     `defaultParallelism` tasks so no task collects several giants; each
     runs through the same extraction UDF.
  2. "every partition emits lineage + doc-count/byte-count metrics to a
     checkpoint table so failed runs resume idempotently" — output is
     written parquet partitioned by a url-hash bucket with DYNAMIC partition
     overwrite (a re-run of an incomplete bucket atomically replaces it, so
     repeats never duplicate); a REBALANCE on bucket before the write gives
     each bucket one file (AQE splits a bucket into advisory-size files only
     when it is large); completed buckets are recorded in a checkpoint table
     and filtered out of the input on resume; a lineage table records
     (run_id, partition_id, doc_count, byte_count, elapsed_ms) per
     extraction task.

Scale notes: one Spark job processes ALL remaining buckets (no per-bucket
driver loop); the skew split scans the source twice but each row passes
exactly one filter — at 100 TB both scans push `octet_length(html)`
filtering to the scan and the giant population is a tiny fraction.
Checkpoint/lineage aggregates are computed by reading BACK the written
output (honest lineage of what is durably on disk), never by recomputing
the extraction, and in ONE scan: a (bucket, run_id, partition_id)
aggregate is checkpointed, lineage rolls up from it in Spark, and only the
per-bucket totals (at most n_buckets rows) reach the driver, which builds
the checkpoint rows from them.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .extract import extract_pages

DEFAULT_N_BUCKETS = 64
DEFAULT_SKEW_BYTES = 64 * 1024  # pages >= this are "oversized"

# checkpoint row type (the cast also names the literal structs' fields);
# containsNull=False keeps the field nullability through inline(): bucket
# nullable, the counts NOT NULL
_CHECKPOINT_ROWS = T.ArrayType(
    T.StructType(
        [
            T.StructField("bucket", T.IntegerType()),
            T.StructField("doc_count", T.LongType(), nullable=False),
            T.StructField("byte_count", T.LongType(), nullable=False),
        ]
    ),
    containsNull=False,
)


def _bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Buckets a previous run marked done; empty when no run has written a
    checkpoint yet. Any other read failure (an unreadable or corrupt
    ``_checkpoint``) raises rather than silently reprocessing everything."""
    try:
        ck = spark.read.parquet(f"{out_dir}/_checkpoint")
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return set()
        raise
    rows = ck.filter(F.col("status") == "done").select("bucket").distinct().collect()
    return {r["bucket"] for r in rows}


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    skew_bytes: int = DEFAULT_SKEW_BYTES,
    max_buckets: int | None = None,
) -> dict:
    """Process all not-yet-checkpointed buckets of ``pages`` into
    ``{out_dir}/extracted`` (parquet, partitioned by bucket). Returns a
    summary dict with the same keys on every path. ``max_buckets`` limits
    this run to the first K remaining buckets (test hook for simulating a
    partial/failed run — the buckets it does process are still complete,
    which is the checkpoint unit).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    t_start = time.monotonic()
    done = completed_buckets(spark, out_dir)
    remaining = sorted(set(range(n_buckets)) - done)
    if max_buckets is not None:
        remaining = remaining[:max_buckets]
    if not remaining:
        return {
            "run_id": run_id,
            "buckets": [],
            "docs": 0,
            "elapsed_s": time.monotonic() - t_start,
            "skipped": True,
        }

    pages = pages.withColumn("bucket", _bucket(F.col("url"), n_buckets))
    if len(remaining) < n_buckets:
        pages = pages.filter(F.col("bucket").isin(remaining))

    # null html must still flow through (it becomes an error row, S3
    # semantics) — octet_length(NULL) is NULL and would fail BOTH filters
    size = F.coalesce(F.octet_length("html"), F.lit(0))
    # small pages keep the scan's splits (sized by maxPartitionBytes);
    # oversized docs are round-robined so no task accumulates several giants
    small = pages.filter(size < skew_bytes)
    big = pages.filter(size >= skew_bytes).repartition(spark.sparkContext.defaultParallelism)

    extracted = extract_pages(small).unionByName(extract_pages(big))
    # partition_id is taken before the rebalance so lineage names the
    # extraction task; REBALANCE then gives each bucket one writer (AQE
    # splits a bucket into advisory-size files only when it is large)
    out = (
        extracted.withColumn("bucket", _bucket(F.col("url"), n_buckets))
        .withColumn("partition_id", F.spark_partition_id())
        .withColumn("run_id", F.lit(run_id))
        .hint("rebalance", "bucket")
    )
    (
        out.write.partitionBy("bucket")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(f"{out_dir}/extracted")
    )

    # lineage + checkpoint from what is durably on disk, in one scan
    written = spark.read.parquet(f"{out_dir}/extracted").filter(
        F.col("bucket").isin(remaining)
    )
    per_task = (
        written.groupBy("bucket", "run_id", "partition_id")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("extracted_bytes").alias("byte_count"),
            F.sum("elapsed_us").alias("elapsed_us"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_count"),
        )
        .localCheckpoint()
    )
    lineage = per_task.groupBy("run_id", "partition_id").agg(
        # coalesce keeps doc_count NOT NULL, as count(*) wrote it
        F.coalesce(F.sum("doc_count"), F.lit(0)).alias("doc_count"),
        F.sum("byte_count").alias("byte_count"),
        (F.sum("elapsed_us") / F.lit(1000)).cast("bigint").alias("elapsed_ms"),
        F.sum("error_count").alias("error_count"),
    ).withColumn("started_at", F.current_timestamp())
    lineage.write.mode("append").parquet(f"{out_dir}/_lineage")

    # every remaining bucket is marked done — including empty ones, which
    # produce no output rows but must not be reprocessed forever
    totals = {
        r["bucket"]: (r["doc_count"], r["byte_count"])
        for r in per_task.groupBy("bucket")
        .agg(F.sum("doc_count").alias("doc_count"), F.sum("byte_count").alias("byte_count"))
        .collect()
    }
    # literal rows on a one-partition JVM source: createDataFrame on a list
    # would run them through a Python RDD (a Python task and a file per
    # default-parallelism slice, on every job call)
    rows = F.array(
        *(F.struct(F.lit(b), *map(F.lit, totals.get(b, (0, 0)))) for b in remaining)
    ).cast(_CHECKPOINT_ROWS)
    ckpt = spark.range(1, numPartitions=1).select(F.inline(rows)).select(
        F.lit(run_id).alias("run_id"),
        "bucket",
        F.lit("done").alias("status"),
        "doc_count",
        "byte_count",
        F.current_timestamp().alias("updated_at"),
    )
    ckpt.write.mode("append").parquet(f"{out_dir}/_checkpoint")

    return {
        "run_id": run_id,
        "buckets": remaining,
        "docs": sum(docs for docs, _ in totals.values()),
        "elapsed_s": time.monotonic() - t_start,
        "skipped": False,
    }
