"""Per-layer metrics of a traced run, named after the repo's modules.

A metric of a layer the workload never calls reads 0 (``plans.*`` on
``curate_dedup``, ``operators.*`` on ``crawl_checkpoint``). Per-pass
metrics are medians over the traced passes. ``layers.json`` beside this
file records which end-to-end metric each one should move, on which
workload.
"""

from __future__ import annotations

import os
import statistics
import time

from .trace import covered_s

MB = 1e6


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _in_group(spark, spans, gid: str, fn):
    """(fn(), seconds) with fn's jobs tagged as job group ``gid``."""
    spark.sparkContext.setJobGroup(gid, gid)
    with spans.span("probe", group=gid):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0


def layer_probes(spark, wl, spans) -> dict:
    """curate_dedup only: materialize each public operator's result on its
    own, in its own job group, after the traced window."""
    if wl.name != "curate_dedup":
        return {}
    import pdfplumber_spark
    from pdfplumber_spark.operators.dedup import (
        connected_components,
        minhash_lsh_candidates,
        minhash_signatures,
        minhash_threshold_pairs,
    )
    from pdfplumber_spark.operators.text_analysis import quality_filter

    from .oracles import THRESHOLD

    docs = wl.read_docs(spark, wl.path)
    pairs = minhash_threshold_pairs(docs, "doc_id", "text", threshold=THRESHOLD).persist()
    try:
        n_pairs, pairs_s = _in_group(spark, spans, "probe.pairs", pairs.count)
        _, cc_s = _in_group(
            spark, spans, "probe.cc", lambda: connected_components(pairs).count()
        )
        n_cand, _ = _in_group(
            spark, spans, "probe.candidates",
            lambda: minhash_lsh_candidates(minhash_signatures(docs, "doc_id", "text")).count(),
        )
        _, quality_s = _in_group(
            spark, spans, "probe.quality",
            lambda: quality_filter(docs).write.format("noop").mode("overwrite").save(),
        )
    finally:
        pairs.unpersist()
        pdfplumber_spark.unpersist_all()
    return {"pairs": n_pairs, "candidates": n_cand, "pairs_s": pairs_s,
            "cc_s": cc_s, "quality_s": quality_s}


def _dir_stats(path: str) -> tuple:
    n, size = 0, 0
    for base, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(base, f))
    return n, size


def layer_metrics(wl, ev, spans, traced_walls, untraced_dps, *, names, imports_s,
                  setups, warm_slice_s, probes) -> dict:
    m = dict.fromkeys(names, 0.0)
    m["session.imports_s"] = imports_s
    m["session.jvm_launch_s"] = setups[0][0]
    m["session.get_spark_s"] = _med([g for g, _ in setups[1:]])
    m["session.cold_pass_extra_s"] = _med([c for _, c in setups[1:]]) - warm_slice_s

    ks = wl.kernel_stats
    m.update({k: v for k, v in ks.items() if k.startswith("kernel.")})
    m.update(wl.kernel_seconds)

    passes = [s for s in spans.named("pass") if s["group"].startswith("t")]
    groups = [ev.merged(s["group"]) for s in passes]
    walls = [s["wall_s"] for s in passes]

    def per_pass(fn):
        return _med([fn(g, w) for g, w in zip(groups, walls)])

    if wl.name == "curate_dedup":
        m["operators.planning_s"] = per_pass(lambda g, w: g.planning_s)
        m["operators.python_run_s"] = per_pass(lambda g, w: g.py_run_ms / 1e3)
        m["operators.shuffle_write_mb"] = per_pass(lambda g, w: g.shuffle_write_bytes / MB)
        m["operators.spill_mb"] = per_pass(lambda g, w: g.spill_bytes / MB)
        m["operators.stages"] = per_pass(lambda g, w: g.stages)
        m["operators.task_skew"] = per_pass(lambda g, w: g.task_skew(python_only=False))
        m["operators.dedup.minhash_threshold_pairs_s"] = probes["pairs_s"]
        m["operators.dedup.connected_components_s"] = probes["cc_s"]
        m["operators.dedup.cc_jobs"] = ev.merged("probe.cc").jobs
        m["operators.dedup.pair_yield"] = probes["pairs"] / max(probes["candidates"], 1)
        m["operators.text_analysis.quality_filter_s"] = probes["quality_s"]
    else:
        m["plans.extract.planning_s"] = per_pass(lambda g, w: g.planning_s)
        m["plans.extract.python_start_s"] = per_pass(lambda g, w: g.py_start_ms / 1e3)
        m["plans.extract.python_run_s"] = per_pass(lambda g, w: g.py_run_ms / 1e3)
        m["plans.extract.to_python_mb"] = per_pass(lambda g, w: g.to_py_bytes / MB)
        m["plans.extract.from_python_mb"] = per_pass(lambda g, w: g.from_py_bytes / MB)
        m["plans.extract.shuffle_write_mb"] = per_pass(lambda g, w: g.shuffle_write_bytes / MB)
        m["plans.extract.tasks"] = per_pass(lambda g, w: g.tasks)
        m["plans.extract.task_skew"] = per_pass(lambda g, w: g.task_skew())
        m["plans.extract.core_busy_share"] = per_pass(
            lambda g, w: g.executor_run_ms / 1e3 / (w * 4))
        m["plans.extract.gc_s"] = per_pass(lambda g, w: g.gc_ms / 1e3)
        # base: the single-process kernel seconds spread over 4 cores
        ideal = ks["serial_s"] / 4
        m["plans.extract.overhead_share"] = per_pass(lambda g, w: 1 - ideal / w)

        from pdfplumber_spark.plans.checkpoint import read_metrics

        last = wl.out_dirs[-1]
        bucket_walls = [r["wall_sec"] for r in read_metrics(last)]
        files, size = _dir_stats(last)
        m["plans.checkpoint.bucket_s_median"] = _med(bucket_walls)
        m["plans.checkpoint.bucket_s_max"] = max(bucket_walls)
        m["plans.checkpoint.jobs"] = per_pass(lambda g, w: g.jobs)
        m["plans.checkpoint.write_s"] = per_pass(lambda g, w: g.execution_s(write=True))
        m["plans.checkpoint.manifest_reread_s"] = per_pass(
            lambda g, w: g.execution_s(write=False))
        m["plans.checkpoint.resume_s"] = _med([s for s, _ in wl.resume[-len(passes):]])
        m["plans.checkpoint.resume_jobs"] = _med(
            [ev.merged(s["group"] + ".resume").jobs for s in passes])
        m["plans.checkpoint.bytes_written_per_input_byte"] = size / wl.input_bytes
        m["plans.checkpoint.files_written"] = files

    m["trace.overhead_share"] = 1 - wl.n_docs / _med(traced_walls) / untraced_dps
    # query-level spans: SQL executions (event log) and the Spark calls the
    # program made (benchmark spans, which include driver-side planning)
    queries = ev.sql_spans + [
        (s["start"], s["end"]) for s in spans.rows if s["name"].startswith("query.")
    ]
    covered = sum(covered_s(queries, s["start"], s["end"]) for s in passes)
    m["trace.query_span_coverage"] = covered / sum(s["end"] - s["start"] for s in passes)
    return m
