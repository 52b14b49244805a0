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

Bookkeeping runs only Spark jobs that carry data. `_checkpoint` is read
with its known schema (no schema-inference job) and its done buckets are
collected as rows (no `distinct`). Lineage and checkpoint come from
reading BACK what this call committed (honest lineage of what is durably
on disk, never a recomputation of the extraction): one Hadoop glob
`bucket={…}` over this call's buckets, read with the known `extracted`
schema and `basePath`, so no schema is inferred and other runs' buckets
are not listed. A bucket that got no rows has no directory; the glob
skips it. Spark lists up to 32 matched directories on the driver and
starts one listing job only above that
(`spark.sql.sources.parallelPartitionDiscovery.threshold`, left at its
default). Lineage aggregates that read-back by (run_id, partition_id);
the checkpoint aggregates it by bucket, together with one zero row per
committed bucket (an empty bucket is marked done too, or it would be
reprocessed forever), and is written from that aggregate as one file.
Nothing reaches the driver but the done buckets and the call's doc total;
nothing is local-checkpointed.

Each phase's Spark jobs carry the description
`extraction job <run_id>: <phase>` (phases: plan, extract, lineage,
checkpoint); the summary's `phase_s` holds each phase's wall seconds.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .extract import EXTRACT_SCHEMA, extract_pages

DEFAULT_N_BUCKETS = 64
DEFAULT_SKEW_BYTES = 64 * 1024  # pages >= this are "oversized"

# the tables the job reads back, as it writes them; a read with a given
# schema starts no schema-inference job
_CHECKPOINT_SCHEMA = (
    "run_id string, bucket int, status string, doc_count bigint,"
    " byte_count bigint, updated_at timestamp"
)
_EXTRACTED_SCHEMA = f"{EXTRACT_SCHEMA}, partition_id int, run_id string, bucket int"

_JOB_DESCRIPTION = "spark.job.description"


def _bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Buckets a previous run marked done; empty when no run has written a
    checkpoint yet. Any other read failure (an unreadable or corrupt
    ``_checkpoint``) raises rather than silently reprocessing everything."""
    try:
        ck = spark.read.schema(_CHECKPOINT_SCHEMA).parquet(f"{out_dir}/_checkpoint")
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return set()
        raise
    # at most n_buckets rows per call that wrote them: no distinct needed
    return {r["bucket"] for r in ck.filter("status = 'done'").select("bucket").collect()}


def _read_committed(spark: SparkSession, out_dir: str, ids: str) -> DataFrame:
    """The rows of the ``extracted`` buckets listed in ``ids``
    (comma-separated), read with the known schema. A bucket that got no
    rows has no directory: the glob skips it."""
    reader = spark.read.schema(_EXTRACTED_SCHEMA).option("basePath", f"{out_dir}/extracted")
    try:
        return reader.parquet(f"{out_dir}/extracted/bucket={{{ids}}}")
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return reader.parquet()  # none of them got a row


@contextmanager
def _phase(spark: SparkSession, run_id: str, name: str, phase_s: dict):
    """Describe the block's Spark jobs as ``extraction job <run_id>:
    <name>`` and record its wall seconds; the caller's description is
    restored afterwards."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setJobDescription(f"extraction job {run_id}: {name}")
    t0 = time.monotonic()
    try:
        yield
    finally:
        phase_s[name] = time.monotonic() - t0
        sc.setLocalProperty(_JOB_DESCRIPTION, caller)


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
    summary dict with the same keys on every path; ``phase_s`` maps each
    phase that ran to its wall seconds. ``max_buckets`` limits this run to
    the first K remaining buckets (test hook for simulating a
    partial/failed run — the buckets it does process are still complete,
    which is the checkpoint unit).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    t_start = time.monotonic()
    phase_s: dict[str, float] = {}
    with _phase(spark, run_id, "plan", phase_s):
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
            "phase_s": phase_s,
            "skipped": True,
        }
    # the bucket ids as one SQL list: one expression, not a py4j literal
    # call per bucket
    ids = ",".join(map(str, remaining))

    with _phase(spark, run_id, "extract", phase_s):
        pages = pages.withColumn("bucket", _bucket(F.col("url"), n_buckets))
        if len(remaining) < n_buckets:
            pages = pages.filter(f"bucket IN ({ids})")

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

    with _phase(spark, run_id, "lineage", phase_s):
        # lineage and checkpoint from what is durably on disk
        written = _read_committed(spark, out_dir, ids)
        lineage = written.groupBy("run_id", "partition_id").agg(
            F.count("*").alias("doc_count"),
            F.sum("extracted_bytes").alias("byte_count"),
            (F.sum("elapsed_us") / F.lit(1000)).cast("bigint").alias("elapsed_ms"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_count"),
        ).withColumn("started_at", F.current_timestamp())
        lineage.write.mode("append").parquet(f"{out_dir}/_lineage")

    with _phase(spark, run_id, "checkpoint", phase_s):
        # one row per committed bucket that counts nothing: a bucket with
        # no rows is marked done too, or it would be reprocessed forever
        marks = spark.range(1, numPartitions=1).select(
            F.expr(f"explode(array({ids}))").alias("bucket"),
            F.lit(None).cast("int").alias("doc"),
            F.lit(None).cast("bigint").alias("extracted_bytes"),
        )
        per_bucket = (
            written.select("bucket", F.lit(1).alias("doc"), "extracted_bytes")
            .unionByName(marks)
            .groupBy("bucket")
            # count and coalesce keep both counts NOT NULL in the table
            .agg(
                F.count("doc").alias("doc_count"),
                F.coalesce(F.sum("extracted_bytes"), F.lit(0)).alias("byte_count"),
            )
        )
        totals = Observation()
        # at most n_buckets rows: one writer, one file per call
        ckpt = per_bucket.coalesce(1).select(
            F.lit(run_id).alias("run_id"),
            "bucket",
            F.lit("done").alias("status"),
            "doc_count",
            "byte_count",
            F.current_timestamp().alias("updated_at"),
        ).observe(totals, F.sum("doc_count").alias("docs"))
        ckpt.write.mode("append").parquet(f"{out_dir}/_checkpoint")

    return {
        "run_id": run_id,
        "buckets": remaining,
        "docs": totals.get["docs"],
        "elapsed_s": time.monotonic() - t_start,
        "phase_s": phase_s,
        "skipped": False,
    }
