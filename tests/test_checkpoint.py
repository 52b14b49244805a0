"""Idempotent resume + lineage tests (FIXTURES.md §5, SURVEY.md §5.2.4)."""

import contextlib
import pathlib
import re

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def pages(spark):
    from usls_doc_spark.io.synth import pages_from_documents

    return pages_from_documents(spark, SF_DIR)


def _bucket_files(out):
    """{bucket dir name: {parquet file name: mtime_ns}} of the extracted output."""
    return {
        d.name: {f.name: f.stat().st_mtime_ns for f in d.glob("*.parquet")}
        for d in pathlib.Path(out, "extracted").glob("bucket=*")
    }


def _tiny_pages(spark):
    import datetime as dt

    rows = [
        ("u-null", dt.datetime(2024, 1, 1), None, "t", "en"),
        ("u-ok", dt.datetime(2024, 1, 1), b"<p>hello world text</p>", "t", "en"),
    ]
    return spark.createDataFrame(
        rows, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )


def test_null_html_rows_become_error_rows(spark, tmp_path_factory):
    from usls_doc_spark.pipeline.checkpoint import run_extraction_job

    out = str(tmp_path_factory.mktemp("nullhtml"))
    run_extraction_job(spark, _tiny_pages(spark), out, run_id="n1", n_buckets=4)
    got = {r["url"]: r for r in spark.read.parquet(f"{out}/extracted").collect()}
    assert set(got) == {"u-null", "u-ok"}  # null html NOT silently dropped
    assert got["u-null"]["error"] is not None
    assert got["u-ok"]["error"] is None


def test_session_overwrite_mode_is_not_changed(spark, tmp_path_factory):
    """Dynamic overwrite is a writer option of the job, not a session
    setting that would turn the caller's later overwrites dynamic."""
    from usls_doc_spark.pipeline.checkpoint import run_extraction_job

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        out = str(tmp_path_factory.mktemp("confleak"))
        run_extraction_job(spark, _tiny_pages(spark), out, run_id="c1", n_buckets=4)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)


def test_checkpoint_rows_one_file_per_call(spark, tmp_path_factory):
    """Each job call appends its checkpoint rows as ONE parquet file, with
    the same rows and schema as before: bucket nullable, counts NOT NULL."""
    import pyarrow.parquet as pq

    from usls_doc_spark.pipeline.checkpoint import run_extraction_job

    out = str(tmp_path_factory.mktemp("ckrows"))
    run_extraction_job(spark, _tiny_pages(spark), out, run_id="k1", n_buckets=4, max_buckets=3)
    run_extraction_job(spark, _tiny_pages(spark), out, run_id="k2", n_buckets=4)
    files = sorted(pathlib.Path(out, "_checkpoint").glob("*.parquet"))
    assert len(files) == 2, files
    schema = pq.read_schema(files[0])
    assert [(f.name, str(f.type), f.nullable) for f in schema] == [
        ("run_id", "string", False),
        ("bucket", "int32", True),
        ("status", "string", False),
        ("doc_count", "int64", False),
        ("byte_count", "int64", False),
        ("updated_at", "timestamp[ns]", False),
    ]
    rows = spark.read.parquet(f"{out}/_checkpoint").select(
        "run_id", "bucket", "status", "doc_count"
    )
    got = sorted(tuple(r) for r in rows.collect())
    assert [g[:3] for g in got] == [
        ("k1", 0, "done"), ("k1", 1, "done"), ("k1", 2, "done"), ("k2", 3, "done")
    ]
    assert sum(g[3] for g in got) == 2  # both pages, each counted once


def test_completed_buckets_missing_vs_corrupt_checkpoint(spark, tmp_path):
    from py4j.protocol import Py4JJavaError

    from usls_doc_spark.pipeline.checkpoint import completed_buckets

    # no run has written a checkpoint yet: nothing is done
    assert completed_buckets(spark, str(tmp_path / "never-run")) == set()

    # a checkpoint that exists but cannot be read must not silently
    # reprocess every bucket
    ck = tmp_path / "corrupt" / "_checkpoint"
    ck.mkdir(parents=True)
    (ck / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError):
        completed_buckets(spark, str(tmp_path / "corrupt"))


def test_resume_from_partial_run(spark, pages, tmp_path_factory):
    from pyspark.sql import functions as F

    from usls_doc_spark.pipeline.checkpoint import run_extraction_job

    out = str(tmp_path_factory.mktemp("ckpt"))
    n_input = pages.count()

    # run 1: simulated failure after 16 of 64 buckets
    r1 = run_extraction_job(spark, pages, out, run_id="run1", max_buckets=16)
    assert len(r1["buckets"]) == 16
    part1 = spark.read.parquet(f"{out}/extracted")
    assert 0 < part1.count() < n_input
    files1 = _bucket_files(out)

    # run 2: resume processes ONLY the remaining buckets
    r2 = run_extraction_job(spark, pages, out, run_id="run2")
    assert len(r2["buckets"]) == 48
    full = spark.read.parquet(f"{out}/extracted")
    assert full.count() == n_input
    # keyed by url, exactly once (idempotency invariant)
    assert full.select("url").distinct().count() == n_input
    # one file per bucket; the resume left run 1's bucket files untouched
    files2 = _bucket_files(out)
    assert all(len(f) == 1 for f in files2.values()), files2
    assert {b: files2[b] for b in files1} == files1

    # run 3: nothing left -> no-op, output unchanged
    r3 = run_extraction_job(spark, pages, out, run_id="run3")
    assert r3["skipped"]
    assert r3.keys() == r2.keys()  # same summary shape on every path
    assert spark.read.parquet(f"{out}/extracted").count() == n_input

    # lineage doc_count sums equal input row count; byte counts match output
    lineage = spark.read.parquet(f"{out}/_lineage")
    assert lineage.agg(F.sum("doc_count")).collect()[0][0] == n_input
    total_bytes = full.agg(F.sum("extracted_bytes")).collect()[0][0]
    assert lineage.agg(F.sum("byte_count")).collect()[0][0] == total_bytes
    assert lineage.filter("elapsed_ms >= 0").count() == lineage.count()

    # checkpoint covers all 64 buckets exactly once
    ckpt = spark.read.parquet(f"{out}/_checkpoint")
    assert ckpt.filter("status = 'done'").select("bucket").distinct().count() == 64
    assert ckpt.count() == 64  # no bucket re-marked

    # rerun-overwrite safety: re-running an already-done bucket set after
    # wiping the checkpoint does not duplicate rows (dynamic overwrite)
    import shutil

    shutil.rmtree(f"{out}/_checkpoint")
    lineage_before = sorted(tuple(r) for r in spark.read.parquet(f"{out}/_lineage").collect())
    r4 = run_extraction_job(spark, pages, out, run_id="run4", max_buckets=4)
    again = spark.read.parquet(f"{out}/extracted")
    assert again.count() == n_input
    assert again.select("url").distinct().count() == n_input
    assert all(len(f) == 1 for f in _bucket_files(out).values())
    # run 4's lineage counts exactly the rows of the buckets it re-did, and
    # no other run's lineage changed
    lineage4 = spark.read.parquet(f"{out}/_lineage")
    redone = again.filter(F.col("bucket").isin(r4["buckets"])).count()
    assert lineage4.filter("run_id = 'run4'").agg(F.sum("doc_count")).collect()[0][0] == redone
    assert sorted(tuple(r) for r in lineage4.filter("run_id != 'run4'").collect()) == lineage_before


def test_lineage_parquet_schema(spark, tmp_path_factory):
    """``_lineage`` keeps its parquet schema down to the NOT NULL flags:
    doc_count NOT NULL, the other counts nullable."""
    import pyarrow.parquet as pq

    from usls_doc_spark.pipeline.checkpoint import run_extraction_job

    out = str(tmp_path_factory.mktemp("lineage"))
    run_extraction_job(spark, _tiny_pages(spark), out, run_id="l1", n_buckets=4)
    files = sorted(pathlib.Path(out, "_lineage").glob("*.parquet"))
    assert files
    for f in files:
        assert [(c.name, str(c.type), c.nullable) for c in pq.read_schema(f)] == [
            ("run_id", "string", True),
            ("partition_id", "int32", True),
            ("doc_count", "int64", False),
            ("byte_count", "int64", True),
            ("elapsed_ms", "int64", True),
            ("error_count", "int64", True),
            ("started_at", "timestamp[ns]", False),
        ]
    got = spark.read.parquet(f"{out}/_lineage").selectExpr("sum(doc_count)", "sum(error_count)")
    assert tuple(got.collect()[0]) == (2, 1)  # both pages; the null-html one is an error


@contextlib.contextmanager
def _job_group(spark, group, description):
    """Run the block's Spark jobs in job group ``group``; yields a function
    listing (name, description) of every job the group has run."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = []
        for j in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            d = store.job(j)
            out.append((d.name(), d.description().get() if d.description().isDefined() else None))
        return out

    sc.setJobGroup(group, description)
    try:
        yield jobs
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_resume_runs_only_data_jobs(spark, pages, tmp_path_factory):
    """A resume that commits 32 buckets reads back only those bucket
    directories with known schemas: Spark lists them on the driver (no
    listing job at or below 32 paths), infers no schema, and nothing is
    local-checkpointed."""
    from usls_doc_spark.pipeline.checkpoint import completed_buckets, run_extraction_job

    out = str(tmp_path_factory.mktemp("jobs"))
    run_extraction_job(spark, pages, out, run_id="j1", max_buckets=32)
    with _job_group(spark, "test-resume-jobs", "resume") as jobs:
        r2 = run_extraction_job(spark, pages, out, run_id="j2")
        ran = jobs()
    assert len(r2["buckets"]) == 32
    assert completed_buckets(spark, out) == set(range(64))
    assert not [j for j in ran if (j[1] or "").startswith("Listing leaf files and directories")], ran
    assert not [j for j in ran if "localCheckpoint" in j[0]], ran
    assert len(ran) <= 9, ran


def test_phases_name_jobs_and_restore_description(spark, tmp_path_factory):
    """Each phase's Spark jobs carry the phase's name; the caller's job
    description is back in place after every call."""
    from usls_doc_spark.pipeline.checkpoint import run_extraction_job

    out = str(tmp_path_factory.mktemp("phases"))
    sc = spark.sparkContext
    with _job_group(spark, "test-phases", "caller description") as jobs:
        run_extraction_job(spark, _tiny_pages(spark), out, run_id="p1", n_buckets=4, max_buckets=3)
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        r2 = run_extraction_job(spark, _tiny_pages(spark), out, run_id="p2", n_buckets=4)
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        r3 = run_extraction_job(spark, _tiny_pages(spark), out, run_id="p3", n_buckets=4)
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        ran = jobs()
    phases = {"plan", "extract", "lineage", "checkpoint"}
    named = [re.fullmatch(r"extraction job (p\d): (\w+)", d or "") for _, d in ran]
    assert all(m and m[2] in phases for m in named), ran
    assert {m[2] for m in named if m[1] == "p2"} == phases
    assert set(r2["phase_s"]) == phases and all(t >= 0 for t in r2["phase_s"].values())
    assert r3["skipped"] and set(r3["phase_s"]) == {"plan"}
