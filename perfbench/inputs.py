"""Seeded workload inputs.

Every input derives from ``data/documents.parquet``, a byte-identical copy
of the sf0.1 ``documents`` table (5,000 rows), so the benchmark reads
nothing outside its checkout. The seed selects which source rows a
workload uses and in what order they are re-keyed; the re-keyed ids are
always ``0..n-1``. Keeping the id set fixed keeps every id-derived page
property (oversized ``doc_id % 47 == 0`` pages, two-column pages, table
pages, the operators' ``doc_id % k`` splits) at the same count for every
seed, while the text behind each id changes. Texts are existing rows, so
every synth and render invariant the program asserts still holds.
"""

from __future__ import annotations

import time
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE = Path(__file__).resolve().parent / "data" / "documents.parquet"

# Tables the operators registry registers as views. The curation queries
# read only `documents`; the rest are written as empty stand-ins so view
# registration succeeds, and a query touching one would fail its check.
OTHER_TABLES = "region nation customer supplier part orders lineitem events embeddings".split()

PAGE_FILES = 16  # pages parquet files (a crawl segment is many files)


def seeded_documents(seed: int, n: int) -> pa.Table:
    src = pq.read_table(SOURCE)
    if not 0 < n <= src.num_rows:
        raise ValueError(f"n={n} outside 1..{src.num_rows}")
    rows = np.random.default_rng(seed).permutation(src.num_rows)[:n]
    docs = src.take(pa.array(rows))
    return docs.set_column(
        docs.schema.get_field_index("doc_id"), "doc_id", pa.array(np.arange(n, dtype=np.int64))
    )


def write_tables(docs: pa.Table, sf_dir: Path) -> None:
    """Write ``docs`` as an sf-style table directory."""
    sf_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(docs, sf_dir / "documents.parquet")
    empty = pa.table({"stub": pa.array([], pa.int64())})
    for t in OTHER_TABLES:
        pq.write_table(empty, sf_dir / f"{t}.parquet")


def write_pages(docs: pa.Table, pages_dir: Path, seed: int) -> dict:
    """Synthesize one page per document with the program's page generator
    and write them as PAGE_FILES parquet files. Returns input sizes and the
    generator's own time.

    A page's file is a hash of its url, as a Spark hash repartition on the
    key would place it, so which files hold the oversized pages is the same
    for every seed. With a seed-random placement, run time followed how
    many oversized pages Spark's size-sorted packing of files into tasks
    put in the busiest task, and run_s spread ~9% across seeds."""
    from usls_doc_spark.io.synth import SKEW_MOD, synth_page

    t0 = time.perf_counter()
    pages = [
        synth_page(d, t, lg)
        for d, t, lg in zip(
            docs["doc_id"].to_pylist(), docs["text"].to_pylist(), docs["lang"].to_pylist()
        )
    ]
    synth_s = time.perf_counter() - t0
    order = np.random.default_rng(seed).permutation(len(pages))
    pages_dir.mkdir(parents=True, exist_ok=True)
    files: list[list[dict]] = [[] for _ in range(PAGE_FILES)]
    for i in order:
        files[zlib.crc32(pages[i]["url"].encode()) % PAGE_FILES].append(pages[i])
    for f, part in enumerate(files):
        pq.write_table(
            pa.table(
                {
                    "url": [p["url"] for p in part],
                    "warc_ts": pa.array([p["warc_ts"] for p in part], pa.timestamp("us", tz="UTC")),
                    "html": pa.array([p["html"] for p in part], pa.binary()),
                    "text": [p["text"] for p in part],
                    "lang": [p["lang"] for p in part],
                }
            ),
            pages_dir / f"part-{f:03d}.parquet",
        )
    return {
        "pages": len(pages),
        "html_mb": sum(len(p["html"]) for p in pages) / 1e6,
        "skew_pages": sum(1 for d in docs["doc_id"].to_pylist() if d % SKEW_MOD == 0),
        "synth_s": synth_s,
    }


def expected_text(docs: pa.Table) -> dict[int, str]:
    """The synth invariant: a page's extracted text is 'Doc {id} ' + text."""
    return {
        d: f"Doc {d} {t}" for d, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())
    }
