"""One benchmark run, in a closed loop (one driver, one job at a time):

1. generate (or load cached) inputs from the seed;
2. set up ``SETUPS`` times: start a Spark session (the first start launches
   the gateway JVM) and run a cold pass over a small warm-up slice;
3. in the last session, run one untimed full pass, then full passes back
   to back for ``seconds`` and at least two passes;
4. compare the last pass's output with the single-process reference.

A traced run splits the window: its first half runs untraced in set-up
session ``SETUPS - 2``, its second half in the last session, which has
Spark's event log on. The per-layer metrics come from that event log, the
single-process kernel loop and separately materialized operator calls.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import uuid

CORES = 4
SETUPS = 3
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def metric_units() -> tuple:
    """(end-to-end, per-layer) {name: unit}, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple(
        {m["name"]: m["unit"] for m in spec[key]} for key in ("end_to_end", "per_layer")
    )


class Ctx:
    def __init__(self, workload: str, seed: int, trace: bool, scale: float):
        self.workload, self.seed, self.trace, self.scale = workload, seed, trace, scale
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{uuid.uuid4().hex[:8]}"
        work = os.path.join(ROOT, ".perfbench")
        self.cache_dir = os.path.join(work, "cache")
        self.run_dir = os.path.join(work, "runs", self.run_id)
        os.makedirs(self.cache_dir, exist_ok=True)
        os.makedirs(self.run_dir)


def pin_environment(ctx: Ctx) -> dict:
    """Fix the environment before the gateway JVM starts (Python workers
    inherit it): the repo on the workers' path, scratch space inside the
    run directory, a 2 GB driver heap, no JVM perf-data files. Returns
    extra Spark conf."""
    tmp = os.path.join(ctx.run_dir, "tmp")
    local = os.path.join(ctx.run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # both JVMs spark-submit starts (launcher and driver) keep off /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {"spark.ui.showConsoleProgress": "false"}


def event_log_conf(conf: dict, ev_dir: str) -> dict:
    os.makedirs(ev_dir, exist_ok=True)
    return dict(conf, **{
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": ev_dir,
    })


def session(conf: dict):
    from pdfplumber_spark.session import get_spark

    return get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)


def shutdown(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - a JVM that did not exit is killed
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_passes(spark, wl, seconds: float, spans, group_prefix: str = "") -> list:
    """Run full passes back to back until ``seconds`` have elapsed and at
    least two ran. A traced window tags each pass with its own job group."""
    walls = []
    start = time.perf_counter()
    while len(walls) < 2 or time.perf_counter() - start < seconds:
        gid = f"{group_prefix}pass{len(walls)}"
        if group_prefix:
            spark.sparkContext.setJobGroup(gid, gid)
        with spans.span("pass", group=gid) as sp:
            t0 = time.perf_counter()
            wl.run_pass(spark, wl.path)
            walls.append(time.perf_counter() - t0)
        sp["wall_s"] = walls[-1]
    return walls


def source_hash() -> str:
    """Hash of the program's source and of the reference code: the version
    of what the cached reference was computed with."""
    files = sorted(glob.glob(os.path.join(ROOT, "pdfplumber_spark", "**", "*.py"),
                             recursive=True))
    h = hashlib.sha256()
    for path in files + [os.path.join(HERE, "oracles.py")]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def reference(ctx: Ctx, wl, spans) -> dict:
    """The single-process reference {key: digest}; cached by (workload,
    seed, size, source version) except in a traced run, which needs the
    kernel loop's clock."""
    from .trace import CallTimer

    path = os.path.join(
        ctx.cache_dir, f"oracle_{wl.name}_s{ctx.seed}_n{wl.n_docs}_{source_hash()}.json"
    )
    if not ctx.trace and os.path.exists(path):
        with open(path) as f:
            return dict(tuple(kv) for kv in json.load(f))
    with spans.span("oracle"), CallTimer(wl.KERNEL_TARGETS) as kt:
        want = wl.oracle()
    wl.kernel_seconds = dict(kt.seconds)
    with open(path + ".tmp", "w") as f:
        json.dump(sorted(want.items(), key=lambda kv: str(kv[0])), f)
    os.replace(path + ".tmp", path)
    return want


def pinned(wl) -> dict:
    """Digest pinned for this workload at the default seed and size."""
    with open(os.path.join(HERE, "pinned.json")) as f:
        return json.load(f).get(wl.name) or {}


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0):
    """Returns (result dict for the final JSON line, exit code)."""
    t_imp = time.perf_counter()
    import pyarrow
    import pyspark

    import pdfplumber_spark.operators.dedup  # noqa: F401
    import pdfplumber_spark.operators.text_analysis  # noqa: F401
    import pdfplumber_spark.plans.checkpoint  # noqa: F401
    import pdfplumber_spark.plans.extract  # noqa: F401
    import pdfplumber_spark.session  # noqa: F401
    imports_s = time.perf_counter() - t_imp

    from . import oracles
    from .layers import layer_metrics, layer_probes
    from .trace import SPARK_CALLS, CallTimer, EventLog, Spans, WorkerRss
    from .workloads import WORKLOADS

    e2e_units, layer_units = metric_units()
    ctx = Ctx(workload, seed, trace, scale)
    spans = Spans(ctx.run_id)
    wl = WORKLOADS[workload](ctx)
    conf = pin_environment(ctx)
    ev_dir = os.path.join(ctx.run_dir, "eventlog")
    log(f"run {ctx.run_id}: nproc={os.cpu_count()} local[{CORES}] "
        f"pyspark={pyspark.__version__} pyarrow={pyarrow.__version__} "
        f"python={sys.version.split()[0]}")

    with spans.span("run", workload=workload, seed=seed, trace=trace):
        with spans.span("generate"):
            wl.prepare()
        log(f"inputs: {wl.n_docs} docs, {wl.input_bytes / 1e6:.2f} MB; "
            + (f"generated in {wl.gen_s:.2f}s" if wl.gen_s else "cache hit"))

        spark = None
        setups, walls, traced_walls, probes = [], [], [], {}
        try:
            for i in range(SETUPS):
                last = i == SETUPS - 1
                if spark is not None:
                    spark.stop()
                with spans.span("setup", index=i):
                    t0 = time.perf_counter()
                    spark = session(event_log_conf(conf, ev_dir) if trace and last else conf)
                    g = time.perf_counter() - t0
                    t0 = time.perf_counter()
                    wl.run_pass(spark, wl.warm_path)
                    setups.append((g, time.perf_counter() - t0))
                if trace and i >= SETUPS - 2:
                    # both halves start alike: a warm pass over the slice,
                    # then an untimed full pass
                    with spans.span("warm_slice"):
                        t0 = time.perf_counter()
                        wl.run_pass(spark, wl.warm_path)
                        warm_slice_s = time.perf_counter() - t0
                    with spans.span("warm_full"):
                        wl.run_pass(spark, wl.path)
                if trace and i == SETUPS - 2:
                    with spans.span("timed"):
                        walls = timed_passes(spark, wl, seconds / 2, spans)
            if trace:
                with spans.span("traced"), CallTimer(SPARK_CALLS, spans):
                    traced_walls = timed_passes(spark, wl, seconds / 2, spans, "t")
                probes = layer_probes(spark, wl, spans)
            else:
                # the first full pass of a session is its slowest by far;
                # it is not timed
                with spans.span("warm_full"):
                    wl.run_pass(spark, wl.path)
                with WorkerRss(spark.sparkContext._gateway.proc.pid) as rss:
                    with spans.span("timed"):
                        walls = timed_passes(spark, wl, seconds, spans)
            with spans.span("collect_output"):
                output = wl.output(spark)
        finally:
            shutdown(spark)

        with spans.span("check"):
            want = reference(ctx, wl, spans)
            got = wl.spark_digests(output)
            mismatched = oracles.mismatched(got, want)
            failed = wl.failed(output)
            issues = wl.check()
            pin = pinned(wl)
            if pin.get("seed") == seed and pin.get("n_docs") == wl.n_docs:
                issues += [
                    f"{side} digest {oracles.digest(d)} differs from the pinned one"
                    for side, d in (("reference", want), ("spark", got))
                    if oracles.digest(d) != pin["digest"]
                ]

    correct = mismatched == 0 and not issues
    docs_per_s = wl.n_docs / statistics.median(walls)
    launch_s = setups[0][0]
    log(f"output digest {oracles.digest(got)}, reference {oracles.digest(want)}: "
        f"mismatched_docs={mismatched}, failed={failed} of {wl.n_docs} "
        f"(failed_share={failed / wl.n_docs:.4f})" + "".join(f"; {i}" for i in issues))
    log("set-ups (get_spark s, cold pass s; the first launches the JVM): "
        + ", ".join(f"({g:.3f}, {c:.3f})" for g, c in setups)
        + f"; imports {imports_s:.3f} s")
    log(f"timed passes: n={len(walls)}, walls " + ", ".join(f"{w:.3f}" for w in walls))

    if trace:
        metrics = layer_metrics(
            wl, EventLog(ev_dir), spans, traced_walls, docs_per_s,
            names=list(layer_units), imports_s=imports_s, setups=setups,
            warm_slice_s=warm_slice_s, probes=probes,
        )
        units = layer_units
    else:
        metrics = {
            # once per process (imports, JVM launch) + median session set-up
            "setup_s": imports_s + launch_s + statistics.median(
                [setups[0][1]] + [g + c for g, c in setups[1:]]
            ),
            "docs_per_s": docs_per_s,
            "peak_worker_rss_mb": rss.peak_mb,
        }
        units = e2e_units
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json")
    for name, value in metrics.items():
        log(f"{workload} {name} = {value:.6g} {units[name]}")

    with open(os.path.join(ctx.run_dir, "metrics.json"), "w") as f:
        json.dump({"metrics": metrics, "walls": walls, "traced_walls": traced_walls,
                   "setups": setups, "kernel": wl.kernel_stats}, f)
    spans.write(os.path.join(ctx.run_dir, "spans.json"))
    wl.drop_outputs()
    for d in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(ctx.run_dir, d), ignore_errors=True)

    result = {
        "correct": correct,
        "attempted": wl.n_docs,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, 0 if correct and failed == 0 else 1
