"""Search / text-line extraction over the corpus (TextMap.search family,
``/root/reference/pdfplumber/utils/text.py:145-230``).

Per page: assemble the layout textmap in the kernel, regex over the rendered
string, map spans back to source chars through the provenance array, emit
match rows with bboxes. One mapInPandas pass, partition-local.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..kernel.geom import frame_bbox
from ..kernel.layout import (
    assemble_text_layout,
    build_word_chars,
    search_text,
)
from ..kernel.pdfparse import pdf_to_frames
from ..kernel.words import WordSettings, extract_words_frame
from .extract import map_payloads

MATCHES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("match_index", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("x0", T.DoubleType(), True),
        T.StructField("top", T.DoubleType(), True),
        T.StructField("x1", T.DoubleType(), True),
        T.StructField("bottom", T.DoubleType(), True),
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
    ]
)


def _page_matches(chars: pd.DataFrame, pattern: str, regex: bool, case: bool,
                  strip_lines: bool, layout: bool = False) -> pd.DataFrame:
    s = WordSettings()
    words, cwid, cwpos = extract_words_frame(chars, s)
    if len(words) == 0:
        return pd.DataFrame()
    wc = build_word_chars(chars, cwid, cwpos, len(words))
    if layout:
        bbox = frame_bbox(chars)
        rendered, prov = assemble_text_layout(
            words, wc, layout_bbox=bbox,
            layout_width=bbox[2] - bbox[0], layout_height=bbox[3] - bbox[1],
        )
    else:
        # reference default (get_textmap layout=False): plain textmap
        from ..kernel.layout import assemble_text_plain_map

        rendered, prov = assemble_text_plain_map(
            words, wc, y_tolerance=s.y_tolerance,
            use_text_flow=s.use_text_flow,
        )
    if strip_lines:
        pattern = r" *([^\n]+?) *(\n|$)"
        return search_text(rendered, prov, chars, pattern, main_group=1)
    return search_text(rendered, prov, chars, pattern, regex=regex, case=case)


def search_pages(
    pages: DataFrame,
    pattern: str,
    regex: bool = True,
    case: bool = True,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Regex search across every PDF page of the corpus -> matches with
    bboxes (Page.search semantics, ``page.py:485-502``)."""
    return _run(pages, pattern, regex, case, False, num_partitions)


def extract_text_lines(
    pages: DataFrame, num_partitions: Optional[int] = None
) -> DataFrame:
    """Per-page stripped text lines with bboxes
    (``TextMap.extract_text_lines``, ``text.py:212-230``)."""
    return _run(pages, "", True, True, True, num_partitions)


def _payload_to_match_frames(url, payload, pattern, regex, case,
                             strip_lines) -> list:
    """Per-payload match frames (MATCHES_SCHEMA order) — shared by the Spark
    plan and the materialized single-process oracle."""
    cols = [f.name for f in MATCHES_SCHEMA.fields]
    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        frames = pdf_to_frames(bytes(payload), style=False)
    except Exception:  # noqa: BLE001
        return []
    outs = []
    for pn, sub in frames["chars"].groupby("page_number", sort=True):
        m = _page_matches(sub, pattern, regex, case, strip_lines)
        if len(m) == 0:
            continue
        m = m.drop(columns=["groups"], errors="ignore")
        m["url"] = url
        m["page_number"] = int(pn)
        m["match_index"] = range(len(m))
        outs.append(m[cols])
    return outs


def _run(pages, pattern, regex, case, strip_lines, num_partitions):
    return map_payloads(
        pages,
        lambda url, payload: _payload_to_match_frames(
            url, payload, pattern, regex, case, strip_lines
        ),
        MATCHES_SCHEMA, num_partitions=num_partitions,
    )
