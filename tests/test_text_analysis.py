"""Text-analysis operator semantics, adversarially pinned against DuckDB.

The board corpus (testdata documents) happens to contain no edge-whitespace
text, so the driver's oracle gate alone would not catch a divergence there —
these tests feed the nasty inputs directly (round-3 ADVICE finding: the old
``size(split(trim(x),'\\s+'))`` emulation counted phantom tokens for
leading/trailing non-space whitespace because trim() strips 0x20 only).
"""

import duckdb
import pytest

EDGE_TEXTS = [
    "\na b\n",        # leading/trailing \n: old semantics said 4, truth is 2
    "  a b  ",
    "",
    " ",
    "\t\n ",
    "a",
    "a\tb\nc",
    "x  y",
    "one two  three\t",
    "vertical tab lead",  # \v is \s in both engines
]


def _spark_counts(spark, texts):
    from pdfplumber_spark.operators.text_analysis import (
        with_quality,
        with_token_counts,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    tok = {
        r["doc_id"]: r["n_ws_tokens"]
        for r in with_token_counts(df, "text").collect()
    }
    words = {
        r["doc_id"]: r["n_words"] for r in with_quality(df, "text").collect()
    }
    return tok, words


def test_ws_token_count_edge_whitespace_matches_duckdb(spark):
    tok, words = _spark_counts(spark, EDGE_TEXTS)
    for i, t in enumerate(EDGE_TEXTS):
        exp = duckdb.sql(
            "SELECT GREATEST(len(regexp_extract_all($t$" + t + "$t$, "
            r"'\S+')), 1)"
        ).fetchone()[0]
        assert tok[i] == exp, (i, repr(t), tok[i], exp)
        assert words[i] == exp, (i, repr(t), words[i], exp)


def test_ws_token_count_defined_values(spark):
    """The defined semantics: number of \\S+ runs, floored at 1."""
    tok, _ = _spark_counts(spark, EDGE_TEXTS)
    expected = [2, 2, 1, 1, 1, 1, 3, 2, 3, 3]
    assert [tok[i] for i in range(len(EDGE_TEXTS))] == expected


def test_null_text_counts_as_one(spark):
    from pdfplumber_spark.operators.text_analysis import with_token_counts

    df = spark.createDataFrame([(0, None)], "doc_id long, text string")
    row = with_token_counts(df, "text").collect()[0]
    # greatest() skips the NULL regexp_count and returns the 1 floor
    assert row["n_ws_tokens"] == 1


def test_repetition_stats_known_values(spark):
    from pdfplumber_spark.operators.text_analysis import repetition_stats

    docs = [
        (0, "a a a b"),              # dup words + top bigram "a a" (2/3)
        (1, ""),                     # empty: all zeros
        (2, "unique words only"),    # no repetition
        (3, "x\nx\ny"),              # dup lines (3 lines, 2 distinct)
        (4, "solo"),                 # one word: bigram frac 0
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}

    assert got[0]["n_words"] == 4
    assert got[0]["dup_word_frac"] == round(1 - 2 / 4, 6)
    assert got[0]["top_word_frac"] == round(3 / 4, 6)
    assert got[0]["top_bigram_frac"] == round(2 / 3, 6)

    assert got[1]["n_words"] == 0
    assert got[1]["dup_word_frac"] == 0.0
    assert got[1]["top_word_frac"] == 0.0
    assert got[1]["top_bigram_frac"] == 0.0
    # split('') -> [''] = 1 line, 1 distinct
    assert got[1]["dup_line_frac"] == 0.0

    assert got[2]["dup_word_frac"] == 0.0
    assert got[2]["top_word_frac"] == round(1 / 3, 6)

    assert got[3]["dup_line_frac"] == round(1 - 2 / 3, 6)

    assert got[4]["n_words"] == 1
    assert got[4]["top_bigram_frac"] == 0.0
    assert got[4]["top_word_frac"] == 1.0


def test_winnow_guarantee_property():
    """Winnowing's core guarantee: any shared substring of length
    >= w + k - 1 (= 11 at k=8, w=4) produces at least one shared
    fingerprint, regardless of the surrounding text."""
    from pdfplumber_spark.kernel.textstats import winnow_fingerprints

    import random

    rng = random.Random(99)
    shared = "the exact same passage appears here"
    for _ in range(10):
        pad_a = "".join(rng.choice("abcdefgh ") for _ in range(40))
        pad_b = "".join(rng.choice("qrstuvwx ") for _ in range(40))
        a = set(winnow_fingerprints(pad_a + shared + pad_a))
        b = set(winnow_fingerprints(pad_b + shared + pad_b))
        assert a & b, "guaranteed shared fingerprint missing"


def test_winnow_short_and_empty_texts():
    from pdfplumber_spark.kernel.textstats import (
        kgram_hash,
        winnow_fingerprints,
    )

    assert winnow_fingerprints("") == []
    assert winnow_fingerprints("ab") == [kgram_hash("ab")]
    # exactly k chars: one gram, one fingerprint
    assert len(winnow_fingerprints("abcdefgh")) == 1


def test_winnow_overlap_identical_docs(spark):
    from pdfplumber_spark.operators.text_analysis import (
        winnow_overlap,
        winnow_table,
    )

    text = "a long enough document with plenty of shared content inside"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely different words everywhere")],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.overlap
        for r in winnow_overlap(winnow_table(df), threshold=0.5).collect()
    }
    assert pairs == {(1, 2): 1.0}
    import pdfplumber_spark

    pdfplumber_spark.unpersist_all()


def test_quality_filter_reason_codes(spark):
    """First-failing-rule ordering and the keep path."""
    from pdfplumber_spark.operators.text_analysis import quality_filter

    import itertools

    syll = ["ba", "be", "bi", "bo", "bu", "ka", "ke", "ki"]
    good = " ".join(
        a + b for a, b in itertools.product(syll, syll)
    )  # 64 distinct, fully alphabetic words
    docs = [
        (0, good),                               # keep
        (1, "short text"),                       # too_short
        (2, "1 2 3 4 5 " * 8),                   # low_alpha (digits) but
                                                 # ALSO short? 40 words -> ok
        (3, ("haaaaaaaa " * 40).strip()),        # repetitive (1 distinct
                                                 # word, alpha 0.9)
        (4, None),                               # NULL text
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["keep"], r["reject_reason"])
           for r in quality_filter(df).collect()}
    assert got[0] == (True, None)
    assert got[1] == (False, "too_short")
    assert got[2] == (False, "low_alpha")
    assert got[3] == (False, "repetitive")


def test_quality_filter_corpus_split(spark):
    """On the board corpus the filter must actually discriminate (both
    keeps and drops present) and reasons must be from the fixed set."""
    from pdfplumber_spark.operators.text_analysis import quality_filter

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rows = quality_filter(docs).collect()
    keeps = sum(1 for r in rows if r["keep"])
    assert 0 < keeps < len(rows)
    assert {r["reject_reason"] for r in rows if not r["keep"]} <= {
        "too_short", "low_alpha", "too_punct", "repetitive"
    }


def test_winnow_table_string_ids_match_int_ids(spark):
    """Ids pass through winnow_table positionally with their input type:
    string ids give the same fingerprints as integer ids mapped through
    the same order."""
    from pyspark.sql import types as T

    from pdfplumber_spark.operators.text_analysis import winnow_table

    texts = [
        "the exact same passage appears here and there",
        "a completely different document about other things",
        "short",
        "",
        "the exact same passage appears here once more",
    ]
    ids = [f"doc-{i}" for i in range(len(texts))]
    by_str = winnow_table(spark.createDataFrame(
        list(zip(ids, texts)), "doc_id string, text string"
    ))
    by_int = winnow_table(spark.createDataFrame(
        list(zip(range(len(texts)), texts)), "doc_id long, text string"
    ))
    assert by_str.schema["doc_id"].dataType == T.StringType()
    got = sorted(
        (ids.index(r["doc_id"]), r["fingerprint"]) for r in by_str.collect()
    )
    exp = sorted((r["doc_id"], r["fingerprint"]) for r in by_int.collect())
    assert got and got == exp
