"""Resumability: kill mid-run, re-submit, identical output (SURVEY §7.2.5)."""

import pytest

from pdfplumber_spark.plans import checkpoint as C
from pdfplumber_spark.plans.extract import extract_text, read_pages
from pdfplumber_spark.sources.corpus import write_corpus_parquet


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    p = tmp_path_factory.mktemp("ckpt") / "pages.parquet"
    write_corpus_parquet(str(p), n_docs=30, seed=3)
    return str(p)


def test_crash_resume_identical_output(spark, corpus, tmp_path):
    out = str(tmp_path / "extracted")
    # first run crashes after 3 buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        C.run_extraction_checkpointed(
            spark, corpus, out, n_buckets=8, fail_after_buckets=3
        )
    assert len(C.completed_buckets(spark, out)) == 3

    # resume completes only the remainder
    summary = C.run_extraction_checkpointed(spark, corpus, out, n_buckets=8)
    assert summary["buckets_this_run"] == 5
    assert summary["buckets_done"] == 8

    # re-run is a no-op
    summary2 = C.run_extraction_checkpointed(spark, corpus, out, n_buckets=8)
    assert summary2["buckets_this_run"] == 0

    # output identical to a straight-through run
    got = (
        C.read_extracted(spark, out)
        .select("url", "page_number", "text", "status")
        .toPandas()
        .sort_values(["url", "page_number"])
        .reset_index(drop=True)
    )
    exp = (
        extract_text(read_pages(spark, corpus), num_partitions=8)
        .select("url", "page_number", "text", "status")
        .toPandas()
        .sort_values(["url", "page_number"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["url"] == exp["url"]).all()
    assert (got["text"].fillna("") == exp["text"].fillna("")).all()


def test_metrics_lineage_recorded(spark, corpus, tmp_path):
    out = str(tmp_path / "m")
    C.run_extraction_checkpointed(spark, corpus, out, n_buckets=4, run_id="r1")
    metrics = C.read_metrics(out)
    assert len(metrics) == 4
    m = metrics[0]
    assert m["run_id"] == "r1"
    assert m["input_path"] == corpus
    assert len(m["kernel_version"]) == 16
    assert m["pages"] == m["pages_ok"] + m["pages_failed"]
    assert m["wall_sec"] > 0


def test_empty_buckets_checkpoint_and_resume(spark, tmp_path):
    """More buckets than urls: empty buckets record zero counts, the
    summary sums them, and the resume call is a no-op."""
    src = str(tmp_path / "two.parquet")
    write_corpus_parquet(src, n_docs=2, seed=3)
    out = str(tmp_path / "sparse")
    first = C.run_extraction_checkpointed(spark, src, out, n_buckets=6)
    assert first["buckets_this_run"] == 6
    metrics = C.read_metrics(out)
    empty = [m for m in metrics if m["pages"] == 0]
    assert len(empty) >= 4
    for m in empty:
        assert (m["urls"], m["pages_ok"], m["pages_failed"]) == (0, 0, 0)
    assert first["pages_ok"] == sum(m["pages_ok"] for m in metrics)
    again = C.run_extraction_checkpointed(spark, src, out, n_buckets=6)
    assert again["buckets_this_run"] == 0
    assert again["pages"] == first["pages"]
