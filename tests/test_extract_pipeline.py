"""End-to-end extraction pipeline tests: byte-identical golden fixtures,
partition-count invariance, corrupt-row degradation (SURVEY.md §5.2)."""

import json
import pathlib

import pytest

from tests.conftest import SF_DIR

FIXTURES = pathlib.Path(__file__).resolve().parents[1] / "fixtures" / "golden_extractions_sf0.001.json"


@pytest.fixture(scope="module")
def golden():
    rows = json.loads(FIXTURES.read_text())
    return {r["url"]: r for r in rows}


def _run_extraction(spark, n_partitions: int):
    from usls_doc_spark.io.synth import pages_from_documents
    from usls_doc_spark.pipeline.extract import extract_pages

    pages = pages_from_documents(spark, SF_DIR).repartition(n_partitions)
    return {r["url"]: r.asDict(recursive=True) for r in extract_pages(pages).collect()}


def test_byte_identical_vs_fixtures(spark, golden):
    got = _run_extraction(spark, 8)
    assert set(got) == set(golden)
    for url, g in golden.items():
        r = got[url]
        assert r["error"] is None, (url, r["error"])
        # THE per-row invariant: byte-identical extracted text per url
        assert r["extracted_text"].encode("utf-8") == g["extracted_text"].encode("utf-8"), url
        assert r["n_blocks"] == g["n_blocks"], url
        assert r["extracted_bytes"] == g["extracted_bytes"], url
        got_blocks = [
            (b["x"], b["y"], b["width"], b["height"], b["cls"], b["order"]) for b in r["blocks"]
        ]
        exp_blocks = [
            (b["x"], b["y"], b["width"], b["height"], b["cls"], b["order"]) for b in g["blocks"]
        ]
        assert got_blocks == exp_blocks, url


def test_partition_count_invariance(spark):
    # same bytes out of 3-partition and 16-partition runs — no dependence on
    # task layout (SURVEY.md §7 "byte-identical under reordering")
    a = _run_extraction(spark, 3)
    b = _run_extraction(spark, 16)
    assert a.keys() == b.keys()
    for url in a:
        assert a[url]["extracted_text"] == b[url]["extracted_text"]
        assert a[url]["blocks"] == b[url]["blocks"]


def test_corrupt_rows_degrade_not_fail(spark):
    # dataloader.rs:376-383 semantics: unreadable input -> warn/skip, keyed by
    # url (no positional zip misalignment — docstructbench.rs:74 bug avoided)
    import datetime as dt

    from usls_doc_spark.pipeline.extract import extract_pages

    rows = [
        ("u-null", dt.datetime(2024, 1, 1), None, "t", "en"),
        ("u-bad-utf8", dt.datetime(2024, 1, 1), b"\xff\xfe<p>x</p>", "t", "en"),
        ("u-ok", dt.datetime(2024, 1, 1), b"<html><body><h1>T</h1><p>hello world</p></body></html>", "t", "en"),
    ]
    pages = spark.createDataFrame(
        rows, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = {r["url"]: r.asDict() for r in extract_pages(pages).collect()}
    assert len(out) == 3
    assert out["u-null"]["error"] is not None
    assert out["u-null"]["extracted_text"] is None
    assert out["u-bad-utf8"]["error"] is None  # decodes with replacement
    assert out["u-ok"]["error"] is None
    assert out["u-ok"]["extracted_text"] == "T hello world"


def _corpus_pages():
    import duckdb

    from usls_doc_spark.io.synth import synth_page

    docs = duckdb.sql(
        f"SELECT doc_id, text, lang FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    return [synth_page(d, t, l) for d, t, l in docs]


def test_batched_rows_bitwise_equal_per_page_path():
    """One whole-corpus extract_rows call must be BITWISE identical, row
    by row, to extract_rows over each page alone — including skew pages,
    table pages, two-column pages, and interleaved corrupt rows."""
    import numpy as np

    from usls_doc_spark.kernels.stub_layout import StubLayoutModel
    from usls_doc_spark.pipeline.extract import extract_rows

    htmls, urls = [], []
    for i, p in enumerate(_corpus_pages()):
        htmls.append(p["html"])
        urls.append(p["url"])
        if i % 97 == 0:  # interleave corrupt rows among real pages
            htmls.append(None)
            urls.append(f"u-null-{i}")
    model = StubLayoutModel()
    batched = extract_rows(htmls, urls, model)
    assert len(batched) == len(htmls)
    for h, u, got in zip(htmls, urls, batched):
        (want,) = extract_rows([h], [u], model)
        assert got["url"] == want["url"]
        assert got["extracted_text"] == want["extracted_text"]
        assert got["error"] == want["error"]
        assert got["n_blocks"] == want["n_blocks"]
        assert got["extracted_bytes"] == want["extracted_bytes"]
        assert len(got["blocks"]) == len(want["blocks"]), u
        for gb, wb in zip(got["blocks"], want["blocks"]):
            # float32 conf compared by its exact bits
            assert {k: v for k, v in gb.items() if k != "conf"} == {
                k: v for k, v in wb.items() if k != "conf"
            }, u
            assert np.float32(gb["conf"]).tobytes() == np.float32(wb["conf"]).tobytes(), u


def test_kernels_batched_bitwise_equal_per_page_corpus():
    """Kernel A/B against the per-page references over every sf0.001
    page, with an empty page mid-batch: infer_pages_batched == per-page
    model.infer, and decode_preds_batched == per-page decode_preds."""
    import numpy as np

    from usls_doc_spark.kernels.boilerplate import parse_blocks
    from usls_doc_spark.kernels.stub_layout import (
        StubLayoutModel,
        infer_pages_batched,
    )
    from usls_doc_spark.kernels.yolo_decode import decode_preds, decode_preds_batched
    from usls_doc_spark.pipeline.extract import _TWO_COL_MARKER

    page_blocks, two_cols = [], []
    for p in _corpus_pages():
        html = p["html"].decode("utf-8")
        page_blocks.append(parse_blocks(html))
        two_cols.append(_TWO_COL_MARKER in html)
    mid = len(page_blocks) // 2
    page_blocks.insert(mid, [])
    two_cols.insert(mid, False)
    assert any(two_cols)

    model = StubLayoutModel()
    heads = [model.infer(b, tc) for b, tc in zip(page_blocks, two_cols)]
    assert heads[mid][0].size == 0
    for (p1, s1, c1), (p2, s2, c2) in zip(
        heads, infer_pages_batched(model, page_blocks, two_cols)
    ):
        assert p1.tobytes() == p2.tobytes() and p1.shape == p2.shape
        assert s1 == s2
        assert list(c1) == list(c2)

    kw = dict(names=model.names, confs=(0.4,), apply_nms=True)
    batched = decode_preds_batched([h[0] for h in heads], [h[1] for h in heads], **kw)
    assert len(batched) == len(heads)
    for (preds, spec, _), got in zip(heads, batched):
        want = decode_preds(preds, spec, **kw)
        assert got.boxes.dtype == want.boxes.dtype == np.float32
        assert got.boxes.tobytes() == want.boxes.tobytes()
        assert got.confs.dtype == want.confs.dtype == np.float32
        assert got.confs.tobytes() == want.confs.tobytes()
        assert np.array_equal(got.class_ids, want.class_ids)
        assert np.array_equal(got.anchor_ids, want.anchor_ids)
        assert got.names == want.names


_FALLBACK_HTMLS = [
    b"<html><body><h1>A</h1><p>alpha beta</p></body></html>",
    b"<html><body><h1>B</h1><p>gamma delta</p></body></html>",
    b"<html><body><h1>C</h1><p>epsilon zeta</p></body></html>",
]


def test_fallback_decode_isolates_pathological_page(monkeypatch):
    """When a batched decode holding page u1 fails, the batch re-runs page
    by page and u1 alone degrades to an error row — the rest of the Arrow
    batch still extracts (S3 skip-unreadable)."""
    import numpy as np

    import usls_doc_spark.pipeline.extract as px
    from usls_doc_spark.kernels.boilerplate import parse_blocks
    from usls_doc_spark.kernels.stub_layout import StubLayoutModel

    model = StubLayoutModel()
    u1_head = model.infer(parse_blocks(_FALLBACK_HTMLS[1].decode()), False)[0]
    real_decode = px.decode_preds_batched

    def boom_with_u1(preds_list, specs, **k):
        if any(np.array_equal(p, u1_head) for p in preds_list):
            raise ValueError("pathological page")
        return real_decode(preds_list, specs, **k)

    monkeypatch.setattr(px, "decode_preds_batched", boom_with_u1)

    rows = px.extract_rows(_FALLBACK_HTMLS, ["u0", "u1", "u2"], model)
    by = {r["url"]: r for r in rows}
    assert len(rows) == 3
    assert by["u1"]["error"] is not None and "pathological" in by["u1"]["error"]
    assert by["u1"]["extracted_text"] is None
    assert by["u0"]["error"] is None and by["u0"]["extracted_text"] == "A alpha beta"
    assert by["u2"]["error"] is None and by["u2"]["extracted_text"] == "C epsilon zeta"


def test_fallback_infer_isolates_pathological_page(monkeypatch):
    """When a batched infer holding page u1 fails, u1 alone degrades to an
    error row."""
    import usls_doc_spark.pipeline.extract as px
    from usls_doc_spark.kernels.stub_layout import StubLayoutModel

    real_infer = px.infer_pages_batched

    def boom_with_u1(model, page_blocks, two_cols):
        if any(b.text == "gamma delta" for pb in page_blocks for b in pb):
            raise ValueError("pathological infer page")
        return real_infer(model, page_blocks, two_cols)

    monkeypatch.setattr(px, "infer_pages_batched", boom_with_u1)

    rows = px.extract_rows(_FALLBACK_HTMLS, ["u0", "u1", "u2"], StubLayoutModel())
    by = {r["url"]: r for r in rows}
    assert by["u1"]["error"] is not None and "pathological" in by["u1"]["error"]
    assert by["u0"]["error"] is None and by["u0"]["extracted_text"] == "A alpha beta"
    assert by["u2"]["error"] is None and by["u2"]["extracted_text"] == "C epsilon zeta"


def test_infer_pages_batched_bitwise_equal_edge_pages():
    """infer_pages_batched == per-page model.infer bit-for-bit, including
    the segmented-prefix edge cases: empty leading/middle/trailing pages
    (a trailing empty page once corrupted the preceding page's height via
    reduceat — pinned here) and two-column pages mid-batch."""
    import numpy as np

    from usls_doc_spark.kernels.boilerplate import parse_blocks
    from usls_doc_spark.kernels.stub_layout import (
        StubLayoutModel,
        infer_pages_batched,
    )

    def page(words, two=False):
        body = " ".join(f"w{k}" for k in range(words))
        return parse_blocks(f"<html><body><h1>T</h1><p>{body}</p></body></html>")

    model = StubLayoutModel()
    page_blocks = [[], page(3), page(400), [], page(40), page(7), []]
    two_cols = [True, False, True, False, True, False, True]
    batched = infer_pages_batched(model, page_blocks, two_cols)
    for (b, tc), (p2, s2, c2) in zip(zip(page_blocks, two_cols), batched):
        p1, s1, c1 = model.infer(b, tc)
        assert np.array_equal(p1, p2)
        assert s1 == s2
        assert list(c1) == list(c2)
