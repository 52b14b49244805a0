"""The benchmark's workloads, and the layer probes its traced runs carry.

Each has a seeded ``setup`` that generates and materialises its inputs, a
``run`` (one closed-loop iteration, from input to complete result), a
``check`` of the runs' outputs made outside the timed region, and
``layers``, the traced run's per-layer metrics. Why each exists and which
metrics it should move: perfbench/README.md.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path
from types import SimpleNamespace

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from .inputs import expected_text, seeded_documents, write_pages, write_tables
from .sparkstats import Counters, SparkCounters, planning_s
from .trace import Tracer

# Sizes keep every run, set-up, warm-up and check of one process within
# about a minute on 4 cores (see README.md for the time budget).
HTML_PAGES = 2000  # ~8 MB of HTML, 43 oversized pages
RASTER_DOCS = 500
CURATION_DOCS = 1000

CURATION_QUERIES = [
    "url_canonicalize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "paragraph_dedup",
    "line_freq_filter",
    "lang_detect_stopwords",
    "lm_bigram_fluency",
    "pii_redact",
    "dup_char_kgram_fraction",
    "corpus_curation",
]


@dataclass
class TraceContext:
    """What the traced run's per-layer metrics draw on besides spans."""

    cores: int
    run_s: float  # wall seconds of the untraced run just made
    counters: Counters  # Spark's counters over that run
    output: object  # that run's output
    stats: SparkCounters
    tracer: Tracer


def _us_per(seconds: float, n: float) -> float:
    return seconds / n * 1e6 if n else 0.0


def _score_rows(urls, texts, errors, expected: dict[str, str]) -> int:
    """Failed rows: error rows, wrong text, duplicate urls, missing urls."""
    failed, seen = 0, set()
    for u, t, e in zip(urls, texts, errors):
        if u in seen or e is not None or t != expected.get(u):
            failed += 1
        seen.add(u)
    return failed + len(expected.keys() - seen)


class Workload:
    name: str

    def setup(self, spark, work: Path, seed: int) -> dict:
        """Generate and materialise the inputs; returns their sizes, with
        at least ``docs`` and ``input_mb``."""
        raise NotImplementedError

    def warmup(self, spark) -> None:
        self.run(spark, -1)

    def run(self, spark, k: int):
        raise NotImplementedError

    def check(self, spark, outputs: list) -> tuple[int, int]:
        """(operations attempted, operations failed) over ``outputs``."""
        raise NotImplementedError

    def layers(self, spark, ctx: TraceContext) -> dict:
        raise NotImplementedError


class _PagesWorkload(Workload):
    """Shared set-up and kernel trace of the two HTML workloads: seeded
    pages, pre-materialised to parquet."""

    def setup(self, spark, work, seed):
        from usls_doc_spark.io.synth import url_for

        self.work = work
        docs = seeded_documents(seed, HTML_PAGES)
        sizes = write_pages(docs, work / "pages", seed)
        self.pages = spark.read.parquet(str(work / "pages"))
        self.expected = {url_for(d): t for d, t in expected_text(docs).items()}
        self.sizes = sizes
        return {
            "docs": sizes["pages"],
            "input_mb": sizes["html_mb"],
            "skew_pages": sizes["skew_pages"],
            "synth_s": sizes["synth_s"],
        }

    def _kernel_layers(self, ctx: TraceContext) -> dict:
        """extract_rows in this process over every page, once untraced and
        once with spans around the kernels it calls. Pages go in batches
        the size of one Spark task's share, oversized pages (the size the
        extraction job splits on) in their own batches so their per-page
        cost can be told apart."""
        import usls_doc_spark.pipeline.extract as ex
        from usls_doc_spark.kernels.stub_layout import StubLayoutModel
        from usls_doc_spark.pipeline.checkpoint import DEFAULT_SKEW_BYTES

        table = pq.read_table(self.work / "pages", columns=["url", "html"])
        html, urls = table["html"].to_pylist(), table["url"].to_pylist()
        n = len(html)
        big = [i for i, h in enumerate(html) if len(h) >= DEFAULT_SKEW_BYTES]
        small = [i for i, h in enumerate(html) if len(h) < DEFAULT_SKEW_BYTES]
        batch = math.ceil(n / ctx.cores)
        model = StubLayoutModel()

        def extract_all(idx: list[int]) -> float:
            t0 = time.perf_counter()
            for s in range(0, len(idx), batch):
                part = idx[s : s + batch]
                ex.extract_rows([html[i] for i in part], [urls[i] for i in part], model)
            return time.perf_counter() - t0

        small_s, big_s = extract_all(small), extract_all(big)
        untraced = small_s + big_s

        tracer = ctx.tracer
        tracer.wrap(ex, "extract_rows", "extract.rows")
        tracer.wrap(ex, "parse_blocks", "boilerplate.parse", count=len)
        tracer.wrap(
            ex, "infer_pages_batched", "stub_layout.infer",
            count=lambda out: sum(len(p[0]) for p in out),
        )
        tracer.wrap(
            ex, "decode_preds_batched", "yolo_decode.decode",
            count=lambda out: sum(len(d.boxes) for d in out),
        )
        tracer.wrap(ex, "xycut_order", "xycut.order")
        try:
            with tracer.span("extract.pass"):
                traced = extract_all(small) + extract_all(big)
        finally:
            tracer.restore()
        tot, own, cnt = tracer.totals(), tracer.self_times(), tracer.counts
        return {
            "boilerplate.parse_us_per_page": _us_per(tot["boilerplate.parse"], n),
            "boilerplate.blocks_per_page": cnt["boilerplate.parse"] / n,
            "stub_layout.infer_us_per_page": _us_per(tot["stub_layout.infer"], n),
            "yolo_decode.decode_us_per_page": _us_per(tot["yolo_decode.decode"], n),
            "yolo_decode.kept_per_anchor": cnt["yolo_decode.decode"] / cnt["stub_layout.infer"],
            "xycut.order_us_per_page": _us_per(tot["xycut.order"], n),
            "extract.rows_us_per_page": _us_per(tot["extract.rows"], n),
            "extract.glue_us_per_page": _us_per(own["extract.rows"], n),
            "extract.skew_page_cost_ratio": (big_s / len(big)) / (small_s / len(small)),
            "extract.kernel_share": untraced / ctx.cores / ctx.run_s,
            "trace.overhead_s": traced - untraced,
            "synth.pages_per_s": self.sizes["pages"] / self.sizes["synth_s"],
        }


class HtmlExtract(_PagesWorkload):
    name = "html_extract"

    def run(self, spark, k):
        from usls_doc_spark.pipeline.extract import extract_pages

        extract_pages(self.pages).write.format("noop").mode("overwrite").save()

    def check(self, spark, outputs):
        from usls_doc_spark.pipeline.extract import extract_pages

        out = extract_pages(self.pages, columns=["url", "extracted_text", "error"]).toPandas()
        return len(self.expected), _score_rows(
            out["url"], out["extracted_text"], out["error"], self.expected
        )

    def layers(self, spark, ctx):
        c = ctx.counters
        return {
            **self._kernel_layers(ctx),
            "extract.busy_frac": c.executor_run_s / (ctx.cores * ctx.run_s),
            "extract.tasks": c.tasks,
            "extract.task_skew": c.task_skew,
        }


class ExtractJob(_PagesWorkload):
    """One run = a job stopped after half the buckets, the resume that
    completes it, and a re-run that must find nothing to do, all into a
    fresh output directory."""

    name = "extract_job"

    def run(self, spark, k):
        from usls_doc_spark.pipeline.checkpoint import DEFAULT_N_BUCKETS, run_extraction_job

        out = str(self.work / f"job-{k + 1:03d}")
        first = run_extraction_job(spark, self.pages, out, max_buckets=DEFAULT_N_BUCKETS // 2)
        t0 = time.perf_counter()
        resume = run_extraction_job(spark, self.pages, out)
        t1 = time.perf_counter()
        rerun = run_extraction_job(spark, self.pages, out)
        t2 = time.perf_counter()
        return {"out": out, "calls": (first, resume, rerun), "resume_s": t1 - t0, "noop_s": t2 - t1}

    def check(self, spark, outputs):
        from usls_doc_spark.pipeline.checkpoint import DEFAULT_N_BUCKETS

        attempted = failed = 0
        for o in outputs:
            first, resume, rerun = o["calls"]
            attempted += 3 + len(self.expected)
            failed += len(first["buckets"]) != DEFAULT_N_BUCKETS // 2
            failed += set(first["buckets"]) | set(resume["buckets"]) != set(range(DEFAULT_N_BUCKETS))
            failed += not rerun["skipped"]
            t = ds.dataset(f"{o['out']}/extracted", format="parquet", partitioning="hive").to_table(
                columns=["url", "extracted_text", "error"]
            )
            failed += _score_rows(
                t["url"].to_pylist(), t["extracted_text"].to_pylist(), t["error"].to_pylist(),
                self.expected,
            )
        return attempted, failed

    def layers(self, spark, ctx):
        o, c = ctx.output, ctx.counters
        files = sum(1 for _ in Path(o["out"]).rglob("*.parquet"))
        lineage = pq.read_table(f"{o['out']}/_lineage", columns=["elapsed_ms"])["elapsed_ms"]
        ms = [v for v in lineage.to_pylist() if v is not None]
        return {
            **self._kernel_layers(ctx),
            "checkpoint.shuffle_write_mb": c.shuffle_write_mb,
            "checkpoint.output_mb_per_input_mb": c.output_mb / self.sizes["html_mb"],
            "checkpoint.files_written": files,
            "checkpoint.jobs": c.jobs,
            "checkpoint.busy_frac": c.executor_run_s / (ctx.cores * ctx.run_s),
            "checkpoint.partition_skew": max(ms) / max(statistics.median(ms), 1),
            "checkpoint.resume_s": o["resume_s"],
            "checkpoint.noop_rerun_s": o["noop_s"],
        }


class RasterOcr(Workload):
    name = "raster_ocr"

    def setup(self, spark, work, seed):
        self.docs = seeded_documents(seed, RASTER_DOCS)
        self.sf = work / "sf"
        write_tables(self.docs, self.sf)
        self.expected = dict(zip(self.docs["doc_id"].to_pylist(), self.docs["text"].to_pylist()))
        return {
            "docs": self.docs.num_rows,
            "input_mb": sum(len(t.encode()) for t in self.expected.values()) / 1e6,
        }

    def run(self, spark, k):
        from usls_doc_spark.pipeline.raster_ocr import raster_extract_text

        return raster_extract_text(spark, str(self.sf)).toPandas()

    def check(self, spark, outputs):
        from usls_doc_spark.io.synth import chunk_text

        attempted = failed = 0
        for out in outputs:
            attempted += len(self.expected)
            failed += len(self.expected.keys() - set(out["doc_id"]))
            for d, n, t in zip(out["doc_id"], out["n_regions"], out["extracted_text"]):
                want = self.expected.get(d)
                failed += want is None or t != want or n != len(chunk_text(want))
        return attempted, failed

    def layers(self, spark, ctx):
        """extract_from_raster in this process over every document, once
        untraced and once with spans around the kernels it calls."""
        import usls_doc_spark.kernels.xycut as xycut
        import usls_doc_spark.pipeline.raster_ocr as ro

        docs = list(self.expected.items())
        n = len(docs)

        def extract_all() -> float:
            t0 = time.perf_counter()
            for d, t in docs:
                ro.extract_from_raster(d, t)
            return time.perf_counter() - t0

        untraced = extract_all()
        tracer = ctx.tracer
        tracer.wrap(ro, "extract_from_raster", "raster_ocr.page")
        tracer.wrap(ro, "db_postprocess", "ocr.detect", count=len)
        # extract_from_raster imports xycut_order from its module per call;
        # wrapped so its time is not counted as glue
        tracer.wrap(xycut, "xycut_order", "xycut.order")
        tracer.wrap(ro, "read_glyph_logits", "ocr.read")
        tracer.wrap(ro, "ctc_greedy_decode", "ocr.ctc")
        try:
            with tracer.span("raster_ocr.pass"):
                extract_all()
        finally:
            tracer.restore()
        tot, own, cnt = tracer.totals(), tracer.self_times(), tracer.counts
        regions = cnt["ocr.detect"]
        return {
            "raster_ocr.page_us": _us_per(tot["raster_ocr.page"], n),
            "raster_ocr.glue_us_per_page": _us_per(own["raster_ocr.page"], n),
            "ocr.detect_us_per_page": _us_per(tot["ocr.detect"], n),
            "ocr.regions_per_page": regions / n,
            "ocr.recognize_us_per_region": _us_per(tot["ocr.read"] + tot["ocr.ctc"], regions),
            "raster_ocr.kernel_share": untraced / ctx.cores / ctx.run_s,
            "raster_ocr.task_skew": ctx.counters.task_skew,
        }


class Curation(Workload):
    """One run = every curation query, each collected to the driver."""

    name = "curation"

    def setup(self, spark, work, seed):
        from usls_doc_spark.queries import build_registry

        docs = seeded_documents(seed, CURATION_DOCS)
        self.sf = work / "sf"
        write_tables(docs, self.sf)
        queries, oracles = build_registry()
        self.queries = {q: queries[q] for q in CURATION_QUERIES}
        self.oracles = {q: oracles[q] for q in CURATION_QUERIES}
        return {
            "docs": docs.num_rows,
            "input_mb": sum(len(t.encode()) for t in docs["text"].to_pylist()) / 1e6,
            "queries": len(CURATION_QUERIES),
        }

    def _one(self, spark, q: str):
        try:
            return self.queries[q](spark, str(self.sf)).toPandas()
        except Exception as e:  # a raising query is a failed operation
            traceback.print_exc()
            return e

    def run(self, spark, k):
        return {q: self._one(spark, q) for q in CURATION_QUERIES}

    def check(self, spark, outputs):
        import duckdb
        from tests.oracle_utils import compare

        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{self.sf}/documents.parquet'")
            want = {q: con.sql(self.oracles[q]).df() for q in CURATION_QUERIES}
        finally:
            con.close()
        attempted = failed = 0
        for out in outputs:
            for q, got in out.items():
                attempted += 1
                if isinstance(got, Exception):
                    failed += 1
                    continue
                # the repo's exact, type-strict Spark-vs-DuckDB comparison,
                # fed the collected result instead of re-running the query
                ok, why = compare(SimpleNamespace(toPandas=lambda: got),
                                  SimpleNamespace(df=lambda: want[q]))
                if not ok:
                    print(f"{q}: {why}", file=sys.stderr)
                    failed += 1
        return attempted, failed

    def layers(self, spark, ctx):
        """The run again with a span and Spark's counters around each query;
        planning is timed afterwards, on the frames the run built."""
        out, frames, busy, wall_sum = {}, {}, 0.0, 0.0
        for q in CURATION_QUERIES:
            mark = ctx.stats.mark()
            t0 = time.perf_counter()
            with ctx.tracer.span(f"operators.{q}"):
                frames[q] = self.queries[q](spark, str(self.sf))
                frames[q].toPandas()
            wall = time.perf_counter() - t0
            c = ctx.stats.since(mark)
            out[f"operators.{q}.s"] = wall
            out[f"operators.{q}.scans"] = c.file_scans
            out[f"operators.{q}.shuffle_mb"] = c.shuffle_write_mb
            busy += c.executor_run_s
            wall_sum += wall
        out["operators.busy_frac"] = busy / (ctx.cores * wall_sum)
        for q in CURATION_QUERIES:
            out[f"operators.{q}.plan_s"] = planning_s(spark, frames[q])
        return out


# The end-to-end workloads, and the layer probes each one's traced run also
# measures: raster OCR and curation are not end-to-end workloads (a process
# of either does not fit the time budget next to the two HTML ones), so
# their layers are traced here to keep every layer measured.
WORKLOADS = {w.name: w for w in (HtmlExtract, ExtractJob)}
TRACE_PROBES = {"html_extract": (Curation,), "extract_job": (RasterOcr,)}
