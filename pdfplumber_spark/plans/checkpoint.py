"""Resumable batch extraction: per-bucket checkpointing with lineage +
metrics (north_rule: "resumable from checkpoint with per-partition lineage
+ metrics").

Model (Iceberg-snapshot-style, emulated on parquet offline):

- work is split into ``n_buckets`` stable url-hash buckets
  (``pmod(xxhash64(url), n_buckets)``) — the unit of checkpointing;
- each completed bucket appends its output under ``out/bucket=<b>/`` plus a
  ``_checkpoint/bucket=<b>`` manifest row carrying lineage (input path,
  kernel version hash, run id) and metrics (urls ok/failed, pages, wall);
- a resumed run anti-joins the bucket list against completed manifests and
  processes only the remainder — re-running a finished job is a no-op;
- buckets are idempotent: a crashed bucket leaves no manifest, so it is
  re-done wholesale (atomic rename-on-complete semantics via parquet dir
  overwrite).

On a real cluster the manifest table is an Iceberg table and the append is
a transactional snapshot commit; DDL in SCALE.md.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F


def kernel_version_hash() -> str:
    """Hash of the kernel package source — lineage records which code
    produced each bucket."""
    import pdfplumber_spark.kernel as K

    root = os.path.dirname(K.__file__)
    h = hashlib.sha256()
    for name in sorted(os.listdir(root)):
        if name.endswith(".py"):
            with open(os.path.join(root, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _manifest_dir(out_path: str) -> str:
    return os.path.join(out_path, "_checkpoint")


def completed_buckets(spark: SparkSession, out_path: str) -> List[int]:
    mdir = _manifest_dir(out_path)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f)["bucket"])
    return sorted(out)


def read_metrics(out_path: str) -> List[dict]:
    mdir = _manifest_dir(out_path)
    if not os.path.isdir(mdir):
        return []
    rows = []
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                rows.append(json.load(f))
    return rows


def run_extraction_checkpointed(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    n_buckets: int = 16,
    layout: bool = False,
    run_id: Optional[str] = None,
    fail_after_buckets: Optional[int] = None,
) -> dict:
    """Extract text for all pages, bucket by bucket, resuming past completed
    buckets. ``fail_after_buckets`` injects a crash for resumability tests.

    Returns summary metrics for this invocation.
    """
    from .extract import extract_text, read_pages

    run_id = run_id or f"run-{int(time.time())}"
    kver = kernel_version_hash()
    os.makedirs(_manifest_dir(out_path), exist_ok=True)

    done = set(completed_buckets(spark, out_path))
    pages = read_pages(spark, input_path).withColumn(
        "_bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )

    processed = 0
    for b in range(n_buckets):
        if b in done:
            continue
        if fail_after_buckets is not None and processed >= fail_after_buckets:
            raise RuntimeError(f"injected failure after {processed} buckets")
        t0 = time.time()
        subset = pages.where(F.col("_bucket") == b).drop("_bucket")
        ext = extract_text(subset, layout=layout)
        bucket_dir = os.path.join(out_path, f"bucket={b}")
        ext.write.mode("overwrite").parquet(bucket_dir)
        # gather metrics from the written data (no second extraction pass)
        written = spark.read.parquet(bucket_dir)
        # an empty bucket sums to NULL: coalesce so the manifest holds 0
        agg = written.agg(
            F.count("*").alias("pages"),
            F.coalesce(
                F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)), F.lit(0)
            ).alias("pages_ok"),
            F.countDistinct("url").alias("urls"),
            F.coalesce(
                F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)), F.lit(0)
            ).alias("pages_failed"),
        ).collect()[0]
        manifest = {
            "bucket": b,
            "run_id": run_id,
            "kernel_version": kver,
            "input_path": input_path,
            "urls": agg["urls"],
            "pages": agg["pages"],
            "pages_ok": agg["pages_ok"],
            "pages_failed": agg["pages_failed"],
            "wall_sec": round(time.time() - t0, 3),
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        # atomic-ish: manifest written only after the bucket data is durable
        mpath = os.path.join(_manifest_dir(out_path), f"bucket={b}.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)
        processed += 1

    metrics = read_metrics(out_path)
    return {
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_done": len(metrics),
        "buckets_this_run": processed,
        "pages": sum(m["pages"] for m in metrics),
        "pages_ok": sum(m["pages_ok"] for m in metrics),
    }


def read_extracted(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_path, "bucket=*"))
