"""Spark-path vs oracle byte-identity on the synthetic corpus, plus plan
shape checks (shuffle count, partition locality)."""

import os

import pandas as pd
import pytest

from pdfplumber_spark.plans import extract as X
from pdfplumber_spark.sources.corpus import generate_rows, write_corpus_parquet


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("corpus") / "pages.parquet"
    n = write_corpus_parquet(str(p), n_docs=40, seed=7)
    assert n == 40
    return str(p)


@pytest.fixture(scope="module")
def pages_df(spark, corpus_path):
    return X.read_pages(spark, corpus_path)


def test_extract_text_matches_oracle_byte_identical(spark, pages_df, corpus_path):
    got = (
        X.extract_text(pages_df, num_partitions=8)
        .toPandas()
        .sort_values(["url", "page_number"])
        .reset_index(drop=True)
    )
    oracle_rows = [(r["url"], r["html"]) for r in generate_rows(40, seed=7)]
    exp = (
        X.oracle_extract_text(oracle_rows)
        .sort_values(["url", "page_number"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["url"] == exp["url"]).all()
    assert (got["status"] == exp["status"]).all()
    ok = exp["status"] == "ok"
    # BYTE identity of extracted text per (url, page)
    assert (
        got.loc[ok, "text"].fillna("") == exp.loc[ok, "text"].fillna("")
    ).all()
    # broken family produced error rows, not job failure
    assert (exp["status"] == "error").any()


def test_extract_text_layout_matches_oracle(spark, pages_df):
    got = (
        X.extract_text(pages_df, layout=True, num_partitions=8)
        .where("status = 'ok'")
        .toPandas()
        .sort_values(["url", "page_number"])
        .reset_index(drop=True)
    )
    oracle_rows = [(r["url"], r["html"]) for r in generate_rows(40, seed=7)]
    exp = X.oracle_extract_text(oracle_rows, layout=True)
    exp = exp[exp["status"] == "ok"].sort_values(["url", "page_number"]).reset_index(drop=True)
    assert (got["text"].fillna("") == exp["text"].fillna("")).all()


def test_document_text_joins_pages(spark, pages_df):
    ext = X.extract_text(pages_df, num_partitions=8)
    doc = X.document_text(ext).toPandas()
    multi = ext.where("status='ok'").groupBy("url").count().where("count > 1").toPandas()
    if len(multi):
        u = multi["url"].iloc[0]
        assert X.PAGE_SEP in doc[doc["url"] == u]["text"].iloc[0]


def test_extract_words_nonempty(spark, pages_df):
    words = X.extract_words(pages_df, num_partitions=8).toPandas()
    assert len(words) > 100
    assert set(words["direction"].unique()) <= {"ltr", "rtl", "ttb", "btt"}
    assert (words["x1"] >= words["x0"]).all()


def test_extract_tables_lattice(spark, pages_df):
    tables = X.extract_tables(pages_df, num_partitions=8).toPandas()
    lat = tables[tables["url"].str.contains("table-lattice")]
    assert len(lat) > 0
    # cell texts look like the written c{row}{col} markers
    assert lat["text"].str.match(r"c\d+\d+ \w+").any()


def _payload_plans():
    from pdfplumber_spark.operators import multimodal as M
    from pdfplumber_spark.plans import search as S

    return {
        "extract_text": X.extract_text,
        "extract_objects": X.extract_objects,
        "extract_words": X.extract_words,
        "extract_tables": X.extract_tables,
        "explode_skewed": X.explode_skewed,
        "extract_structure": X.extract_structure,
        "extract_page_meta": X.extract_page_meta,
        "extract_metadata": X.extract_metadata,
        "extract_annots": X.extract_annots,
        "search_pages": lambda df, num_partitions: S.search_pages(
            df, "the", num_partitions=num_partitions
        ),
        "extract_text_lines": S.extract_text_lines,
        "image_metadata": M.image_metadata,
        "pdf_image_stats": M.pdf_image_stats,
        "render_debug_png": M.render_debug_png,
    }


@pytest.mark.parametrize("name", sorted(_payload_plans()))
def test_single_shuffle_plan(spark, pages_df, name):
    """Every per-payload plan must contain exactly one Exchange (the url
    repartition).

    At 100 TB every extra exchange is hours — pin the plan shape.
    """
    df = _payload_plans()[name](pages_df, num_partitions=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def _board_pdf_payloads():
    import pyarrow.parquet as pq

    from conftest import SF_CORRECT, SF_SMOKE
    from pdfplumber_spark.sources.corpus import corpus_path_for_sf

    out = []
    for sf in (SF_SMOKE, SF_CORRECT):
        t = pq.read_table(corpus_path_for_sf(sf), columns=["url", "html"])
        for url, payload in zip(t.column("url").to_pylist(),
                                t.column("html").to_pylist()):
            if payload is not None and payload[:5] == b"%PDF-":
                out.append((url, payload))
    return out


def _dedupe_frame_rows(url, payload, layout):
    """dedupe=True text rows composed from the frame-level API: the char
    frame of each page through dedupe_chars_frame, then page_text (what
    api.Page.dedupe_chars().extract_text() computes). None when the
    payload does not parse."""
    from pdfplumber_spark.kernel.layout import page_text
    from pdfplumber_spark.kernel.pdfparse import pdf_to_frames
    from pdfplumber_spark.kernel.words import WordSettings, dedupe_chars_frame

    try:
        frames = pdf_to_frames(payload, style=False)
    except Exception:  # noqa: BLE001
        return None
    if len(frames["pages"]) == 0:
        return None
    chars = frames["chars"]
    rows = []
    for pn, w, h in frames["pages"][["page_number", "width", "height"]].itertuples(
        index=False
    ):
        sub = chars[chars["page_number"] == pn]
        if len(sub):
            sub = dedupe_chars_frame(sub)
        kwargs = {}
        if layout:
            kwargs = dict(layout=True, layout_bbox=(0.0, 0.0, float(w), float(h)),
                          layout_width=float(w), layout_height=float(h))
        txt = page_text(sub, WordSettings(), **kwargs)
        rows.append((url, int(pn), txt, len(sub),
                     txt.count(" ") + 1 if txt else 0, "ok", None))
    return rows


@pytest.mark.parametrize("layout", [False, True])
def test_dedupe_text_rows_match_frame_composition(layout):
    """extract_text(dedupe=True)'s per-payload rows equal dedupe_chars_frame
    + page_text over the char frame, on every board PDF (the dupchars
    family included)."""
    payloads = _board_pdf_payloads()
    assert any("dupchars" in url for url, _ in payloads)
    for url, payload in payloads:
        got = X._payload_to_text_rows(url, payload, layout, dedupe=True)
        exp = _dedupe_frame_rows(url, payload, layout)
        if exp is None:
            assert [r[5] for r in got] == ["error"], url
        else:
            assert got == exp, url
