"""The benchmark's workloads. Each one builds its inputs from a seed, runs
one pass through the program's public functions per call, and reduces the
output of its last pass and a single-process reference computation to
``{key: digest}`` maps."""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from . import inputs, oracles


class Workload:
    name = ""
    docs = 0          # generated documents at scale 1
    warm_docs = 0     # documents in the set-up warm-up slice
    KERNEL_TARGETS: dict = {}  # metric -> "module:attr" timed in the kernel loop

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_docs = max(8, int(self.docs * ctx.scale))
        self.warm_n = min(self.warm_docs, self.n_docs)
        self.gen_s = 0.0
        self.kernel_stats: dict = {}

    def _slice(self, path: str, n: int) -> str:
        out = path.replace(".parquet", f".head{n}.parquet")
        if not os.path.exists(out):
            pq.write_table(pq.read_table(path).slice(0, n), out)
        return out

    def check(self) -> list:
        """Problems beyond the output digest (none by default)."""
        return []

    def drop_outputs(self) -> None:
        """Remove what the passes wrote (nothing by default)."""

    # subclasses define: prepare(), run_pass(spark, path), output(spark),
    # oracle(), spark_digests(output), failed(output)


class CrawlCheckpoint(Workload):
    name = "crawl_checkpoint"
    docs = 240
    warm_docs = 12
    mega_pages = 30
    n_buckets = 4

    KERNEL_TARGETS = {
        "kernel.parse_pdf_s": "pdfplumber_spark.kernel.pdfparse:parse_pdf",
        "kernel.page_text_ca_s": "pdfplumber_spark.kernel.layout:page_text_ca",
        "kernel.htmlstrip_s": "pdfplumber_spark.plans.extract:extract_main_text_bytes",
    }

    def prepare(self) -> None:
        ctx = self.ctx
        self.path, self.gen_s = inputs.crawl_corpus(
            ctx.cache_dir, self.n_docs, ctx.seed, self.mega_pages
        )
        table = pq.read_table(self.path)
        self.n_docs = table.num_rows  # the mega PDF is one more row
        self.urls = table.column("url").to_pylist()
        self.payloads = table.column("html").to_pylist()
        self.input_bytes = sum(len(p) for p in self.payloads)
        self.warm_path = self._slice(self.path, self.warm_n)
        self.out_dirs: list = []
        self.first: list = []    # buckets_this_run of each full first call
        self.resume: list = []   # (seconds, buckets_this_run) of each resume call

    def run_pass(self, spark, path: str) -> None:
        from pdfplumber_spark.plans.checkpoint import run_extraction_checkpointed

        out = os.path.join(self.ctx.run_dir, f"ckpt{len(self.out_dirs)}")
        self.out_dirs.append(out)
        if path == self.warm_path:
            # one bucket: over a small slice some of 4 buckets can be
            # empty, and an empty bucket's manifest carries pages_ok=None,
            # which makes the run summary raise TypeError (a program defect)
            run_extraction_checkpointed(spark, path, out, n_buckets=1, run_id="warm")
            return
        first = run_extraction_checkpointed(
            spark, path, out, n_buckets=self.n_buckets, run_id="first"
        )
        self.first.append(first["buckets_this_run"])
        # in a traced pass the resume call's jobs get their own sub-group
        sc = spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        if group:
            sc.setJobGroup(group + ".resume", group + ".resume")
        t0 = time.perf_counter()
        again = run_extraction_checkpointed(
            spark, path, out, n_buckets=self.n_buckets, run_id="resume"
        )
        self.resume.append((time.perf_counter() - t0, again["buckets_this_run"]))
        if group:
            sc.setJobGroup(group, group)

    def output(self, spark) -> pd.DataFrame:
        from pdfplumber_spark.plans.checkpoint import read_extracted

        return read_extracted(spark, self.out_dirs[-1]).select(
            "url", "page_number", "text", "n_chars", "n_words", "status", "error"
        ).toPandas()

    def oracle(self) -> dict:
        """Single-process pass over every input through the kernel entry
        that extract_text's tasks call: the reference page rows, and the
        kernel layer's clock."""
        from pdfplumber_spark.plans.extract import _payload_to_text_rows

        rows, per_doc = [], []
        for url, payload in zip(self.urls, self.payloads):
            t0 = time.perf_counter()
            rows.extend(_payload_to_text_rows(url, payload, False))
            per_doc.append(time.perf_counter() - t0)
        frame = pd.DataFrame(
            rows, columns=["url", "page_number", "text", "n_chars", "n_words",
                           "status", "error"],
        )
        errors = frame[frame["status"] != "ok"].drop_duplicates("url")
        ok = frame[frame["status"] == "ok"]
        self.kernel_stats = {
            "kernel.docs_per_core_s": len(per_doc) / sum(per_doc),
            "kernel.max_doc_s": max(per_doc),
            "kernel.pages": len(ok),
            "kernel.chars": int(ok["n_chars"].sum()),
            "kernel.error_docs": len(errors),
            "kernel.unplanted_error_docs": int(
                (~errors["url"].map(inputs.is_planted_error)).sum()
            ),
            "serial_s": sum(per_doc),
            "error_reasons": dict(Counter(errors["error"].fillna(""))),
        }
        return oracles.page_row_digests(frame)

    def spark_digests(self, output) -> dict:
        return oracles.page_row_digests(output)

    def failed(self, output) -> int:
        """Docs with an error row, or no row at all, that the generator did
        not break on purpose."""
        bad = set(output.loc[output["status"] != "ok", "url"])
        have = set(output["url"])
        return sum(
            1 for u in self.urls
            if (u in bad or u not in have) and not inputs.is_planted_error(u)
        )

    def check(self) -> list:
        issues = [f"resume call processed {n} buckets" for _, n in self.resume if n]
        issues += [f"first call processed {n} of {self.n_buckets} buckets"
                   for n in self.first if n != self.n_buckets]
        return issues

    def drop_outputs(self) -> None:
        for d in self.out_dirs:
            shutil.rmtree(d, ignore_errors=True)


class CurateDedup(Workload):
    name = "curate_dedup"
    docs = 4_000
    warm_docs = 12

    KERNEL_TARGETS = {
        "kernel.minhash_s": "pdfplumber_spark.kernel.textstats:minhash_signatures_batch",
    }

    def prepare(self) -> None:
        ctx = self.ctx
        self.path, self.gen_s = inputs.curate_table(ctx.cache_dir, self.n_docs, ctx.seed)
        self.docs_frame = pq.read_table(self.path).to_pandas()
        self.input_bytes = int(self.docs_frame["text"].str.len().sum())
        self.warm_path = self._slice(self.path, self.warm_n)
        self.last = None

    @staticmethod
    def read_docs(spark, path: str):
        # the table is one parquet split; spread it before the per-row
        # kernels, as the repo's own full-corpus callers do
        docs = spark.read.parquet(path)
        return docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")

    def run_pass(self, spark, path: str) -> None:
        import pdfplumber_spark
        from pdfplumber_spark.operators.dedup import minhash_dedup_cc
        from pdfplumber_spark.operators.text_analysis import quality_filter

        docs = self.read_docs(spark, path)
        survivors = minhash_dedup_cc(docs, "doc_id", "text", threshold=oracles.THRESHOLD)
        keep = quality_filter(docs).where("keep").select("doc_id")
        try:
            # the sink: surviving ids collected to the driver
            self.last = survivors.join(keep, "doc_id").select("doc_id").toPandas()
        finally:
            pdfplumber_spark.unpersist_all()

    def output(self, spark) -> pd.DataFrame:
        return self.last

    def oracle(self) -> dict:
        docs = self.docs_frame
        texts = list(docs["text"])
        # 1,000-doc chunks give the kernel clock a per-chunk maximum
        chunk, parts, per_doc = 1000, [], []
        for i in range(0, len(texts), chunk):
            t0 = time.perf_counter()
            parts.append(oracles.signatures(texts[i:i + chunk]))
            per_doc.append((time.perf_counter() - t0) / len(parts[-1]))
        serial_s = sum(p * len(s) for p, s in zip(per_doc, parts))
        survivors, (n_cand, n_pairs) = oracles.curate_survivors(
            docs, np.concatenate(parts)
        )
        self.kernel_stats = {
            "kernel.docs_per_core_s": len(texts) / serial_s,
            "kernel.max_doc_s": max(per_doc),
            "kernel.chars": int(docs["text"].str.len().sum()),
            "serial_s": serial_s,
            "lsh_pairs": (n_cand, n_pairs),
        }
        return survivors

    def spark_digests(self, output) -> dict:
        return {int(i): "keep" for i in output["doc_id"]}

    def failed(self, output) -> int:
        return 0  # no planted or possible per-doc error rows on this path


WORKLOADS = {w.name: w for w in (CrawlCheckpoint, CurateDedup)}
