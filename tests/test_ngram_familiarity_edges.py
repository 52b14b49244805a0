"""quality_ngram_familiarity edge cases (round-2 ADVICE):
 * documents shorter than 3 chars must drop out identically in both
   dialects instead of aborting the Spark query (sequence() steps
   DESCENDING when stop < start and element_at(0) throws);
 * the weighted corpus-count sum must not wrap BIGINT (DECIMAL-exact
   until the single final division)."""

import duckdb
import pandas as pd

from usls_doc_spark.operators.dialect import DUCK, SPARK
from usls_doc_spark.operators.text_queries import q_quality_ngram_familiarity

DOCS = [
    (0, "", "en"),
    (1, "a", "en"),
    (2, "ab", "en"),          # 2 chars: no trigram, must not throw
    (3, "abc", "en"),         # exactly one trigram
    (4, "abcd", "en"),
    (5, "the quick brown fox jumps over the lazy dog", "en"),
    (6, "the quick brown fox jumps over the lazy dog", "en"),
]


def _duck():
    con = duckdb.connect(":memory:")
    con.register("docs_src", pd.DataFrame(DOCS, columns=["doc_id", "text", "lang"]))
    con.sql("CREATE VIEW documents AS SELECT * FROM docs_src")
    return con


def test_short_docs_drop_out_identically(spark):
    sdf = spark.createDataFrame(DOCS, "doc_id bigint, text string, lang string")
    sdf.createOrReplaceTempView("documents")
    got = sorted(
        (r.doc_id, r.n_trigrams, r.familiarity)
        for r in spark.sql(q_quality_ngram_familiarity(SPARK)).collect()
    )
    con = _duck()
    want = sorted(tuple(r) for r in con.sql(q_quality_ngram_familiarity(DUCK)).fetchall())
    # docs 0-2 have no trigrams and appear in NEITHER result
    assert [r[0] for r in got] == [3, 4, 5, 6]
    assert got == want  # bit-identical doubles


def test_exec_matches_template_on_edge_corpus(spark):
    """The round-8 materialized exec (trigram kernel + template tail)
    must reproduce the template bit-for-bit on the edge corpus: short
    docs drop out identically, and codepoint slicing must agree with
    split(text, '') for astral-plane characters (Python len/slicing and
    Spark length()/split both count codepoints, not UTF-16 units)."""
    from usls_doc_spark.operators.text_exec import _qnf_from_documents

    docs = DOCS + [
        (7, "a😀b😀c😀", "en"),       # astral-plane codepoints
        (8, "😀😀", "en"),            # 2 codepoints (4 UTF-16 units): no trigram
        (9, "née déjà vu ascii", "en"),
    ]
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string, lang string")
    sdf.createOrReplaceTempView("documents")
    want = sorted(
        tuple(r) for r in spark.sql(q_quality_ngram_familiarity(SPARK)).collect()
    )
    got = sorted(tuple(r) for r in _qnf_from_documents(spark).collect())
    assert got == want  # bit-identical doubles, identical row set


def test_exec_carries_null_doc_id_like_template(spark):
    """A NULL doc_id must not crash the trigram kernel: the template
    groups NULL ids into one NULL row, and so must the exec."""
    from usls_doc_spark.operators.text_exec import _qnf_from_documents

    docs = DOCS + [
        (None, "null id document text", "en"),
        (None, "another null id doc", "en"),
        (None, "ab", "en"),
    ]
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string, lang string")
    sdf.createOrReplaceTempView("documents")

    def rows(df):  # the NULL doc_id row sorts first
        return sorted(
            (tuple(r) for r in df.collect()), key=lambda r: (r[0] is not None, r[0] or 0)
        )

    want = rows(spark.sql(q_quality_ngram_familiarity(SPARK)))
    got = rows(_qnf_from_documents(spark))
    assert want[0][0] is None
    assert got == want


def test_familiarity_values_exact():
    con = _duck()
    rows = {r[0]: r for r in con.sql(q_quality_ngram_familiarity(DUCK)).fetchall()}
    # doc 3: its single trigram 'abc' appears once (docs 4 has 'abc' too -> c=2)
    n_total = sum(max(len(t) - 2, 0) for _, t, _ in DOCS)
    assert rows[3][1] == 1
    assert rows[3][2] == (2 * 1_000_000) / (1 * n_total)


def test_repetition_filter_flags_repetitive_docs(spark):
    """A boilerplate-loop document must flip repetition_keep to 0 in BOTH
    engines (testdata is uniformly low-repetition, so the threshold branch
    needs a synthetic positive)."""
    from usls_doc_spark.operators.text_queries import q_repetition_filter

    docs = [
        (1, "click here to buy now " * 30, "en"),           # dup 3-grams galore
        (2, " ".join(f"unique{i}" for i in range(60)), "en"),
        (3, "spam " * 50 + "end", "en"),                     # top word share ~1
        (4, "two words", "en"),     # short-doc guard: top share 0.5 but keep
        (5, "menu menu menu menu", "en"),  # short: degenerate, still keep
    ]
    docs = [(i, t.strip(), lg) for i, t, lg in docs]
    spark.createDataFrame(docs, "doc_id bigint, text string, lang string") \
        .createOrReplaceTempView("documents")
    got = {r.doc_id: (r.repetition_keep, r.dup_trigram_fraction, r.top_word_fraction)
           for r in spark.sql(q_repetition_filter(SPARK)).collect()}
    assert got[1][0] == 0 and got[1][1] > 0.8
    assert got[2][0] == 1 and got[2][1] == 0.0
    assert got[3][0] == 0 and got[3][2] > 0.9
    # round-3 ADVICE: sub-floor docs keep — repetition signals are
    # degenerate below REPETITION_MIN_WORDS (length gating is
    # quality_score's job)
    assert got[4][0] == 1 and got[4][2] == 0.5
    assert got[5][0] == 1 and got[5][2] == 1.0

    con = _duck()
    con.sql("DROP VIEW documents")
    import pandas as pd
    con.register("docs_src2", pd.DataFrame(docs, columns=["doc_id", "text", "lang"]))
    con.sql("CREATE VIEW documents AS SELECT * FROM docs_src2")
    want = {r[0]: (r[6], r[4], r[5]) for r in con.sql(q_repetition_filter(DUCK)).fetchall()}
    assert got == want  # bit-identical doubles + flags
