"""Layered sketch benchmark for hll_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_global --seed 1 --seconds 15 --trace 0

One closed-loop driver issues one query at a time on local[<cpus>]. With
``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` a
separate run materializes each layer on its own and prints the per-layer
metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
import uuid

ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".perfbench_cache")
# session set-ups per run; setup_s is their median
SETUP_REPEATS = 3
# driver JVM heap for a 15 GiB box running 4 local workers
DRIVER_HEAP = "4g"
MIN_ITERATIONS = 4
# pseudo-iterations behind failed_frac's prior of one failure in 100
FAILURE_PRIOR = 100

END_TO_END = {
    "setup_s": "s",
    "query_s_p50": "s",
    "rows_per_s": "rows/s",
    "cpu_s_per_query": "s",
    "worker_rss_peak_mb": "MB",
    "failed_frac": "frac",
}

PER_LAYER = {
    "sketchlib.hashing.murmur3_values_per_cpu_s": "values/s",
    "sketchlib.hll.insert_full_values_per_cpu_s": "values/s",
    "sketchlib.hll.insert_explicit_values_per_cpu_s": "values/s",
    "sketchlib.hll.insert_sparse_values_per_cpu_s": "values/s",
    "sketchlib.hll.to_bytes_per_cpu_s": "1/s",
    "sketchlib.hll.from_bytes_per_cpu_s": "1/s",
    "sketchlib.hll.union_per_cpu_s": "1/s",
    "sketchlib.hll.estimate_per_cpu_s": "1/s",
    "sketchlib.cms.update_values_per_cpu_s": "values/s",
    "sketchlib.bloom.update_values_per_cpu_s": "values/s",
    "sketchlib.kll.update_values_per_cpu_s": "values/s",
    "sketchlib.kll.merge_per_cpu_s": "1/s",
    "sketchlib.tdigest.update_values_per_cpu_s": "values/s",
    "sketchlib.tdigest.merge_per_cpu_s": "1/s",
    "agg.partials_s": "s",
    "agg.partials_cpu_s": "s",
    "agg.partials_blobs": "count",
    "agg.partials_bytes": "bytes",
    "agg.merge_s": "s",
    "agg.merge_cpu_s": "s",
    "agg.merge_fanin": "ratio",
    "agg.finalize_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scan_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.jvm_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.failed_tasks": "count",
    "spark.task_skew": "ratio",
    "proc.python_worker_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.driver_cpu_s": "s",
    "trace.unattributed_frac": "frac",
    "trace.overhead_frac": "frac",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# session


def prepare_environment() -> None:
    """Process environment the JVM and its Python workers inherit: the
    library on the workers' path, and every scratch file in the checkout."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tmp
    # numpy threads would contend with the local[cpus] task slots
    os.environ.setdefault("OMP_NUM_THREADS", "1")


def start_session(cpus: int):
    from pyspark.sql import SparkSession

    from hll_spark.session import apply_malloc_tunables

    from perfbench.workloads import ARROW_BATCH

    tmp = os.path.join(CACHE, "tmp")
    builder = apply_malloc_tunables(SparkSession.builder)
    return (
        builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .config("spark.local.dir", os.path.join(CACHE, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(CACHE, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # the REST API feeds the traced run; the untraced run keeps the
        # same UI setting so both measure the same engine
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def shutdown(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def set_up(wl, cpus: int):
    """SETUP_REPEATS times: start a session, check or generate the inputs,
    bind them, run one untimed, checked warm-up query. The first set-up
    also starts the JVM and SparkContext (twice on a cache miss); later
    ones open a new SparkSession on it.
    Returns the last session, the set-up walls and the warm-up errors."""
    walls, errors = [], []
    spark = None
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spark = start_session(cpus) if spark is None else spark.newSession()
        t1 = time.perf_counter()
        if wl.ensure_inputs(spark):
            # generation's jobs and Python workers must not warm the
            # measured context on a cache miss only: start it afresh
            spark.stop()
            spark = start_session(cpus)
        wl.bind(spark)
        t2 = time.perf_counter()
        errors += wl.check(wl.query(spark))
        walls.append(time.perf_counter() - t0)
        log(
            f"setup {i}: {walls[-1]:.2f} s (session {t1 - t0:.2f}, "
            f"inputs {t2 - t1:.2f}, warm-up {walls[-1] - (t2 - t0):.2f})"
        )
    return spark, walls, errors


def run_iteration(wl, spark) -> list[str]:
    try:
        return wl.check(wl.query(spark))
    except Exception:
        return [traceback.format_exc()]


# ---------------------------------------------------------------------------
# untraced run: end-to-end metrics


def untraced(wl, spark, seconds: float, setups: list[float], procs) -> tuple[dict, int, int]:
    procs.reset_worker_peak_rss()
    cpu0 = procs.cpu()
    walls, failed = [], 0
    deadline = time.perf_counter() + seconds
    while len(walls) < MIN_ITERATIONS or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        errs = run_iteration(wl, spark)
        walls.append(time.perf_counter() - t0)
        if errs:
            failed += 1
            log("iteration failed: " + "; ".join(errs))
    cpu = procs.cpu()["total"] - cpu0["total"]
    n = len(walls)
    values = {
        "setup_s": statistics.median(setups),
        "query_s_p50": statistics.median(walls),
        "rows_per_s": wl.input_rows * n / sum(walls),
        "cpu_s_per_query": cpu / n,
        "worker_rss_peak_mb": procs.worker_peak_rss_mb(),
        # posterior mean under a Beta(1, FAILURE_PRIOR - 1) prior: never 0,
        # barely moved by the iteration count, doubled by one failure
        "failed_frac": (failed + 1) / (n + FAILURE_PRIOR),
    }
    log(f"{n} iterations, walls {[round(w, 3) for w in walls]}")
    return values, n, failed


# ---------------------------------------------------------------------------
# traced run: per-layer metrics


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def traced(wl, spark, seconds: float, procs) -> tuple[dict, int, int]:
    from pyspark.sql import functions as F

    from hll_spark.operators.agg import merge_sketch_partials

    from perfbench.trace import SparkRest, Tracer, wall

    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(spark, run_id, procs)
    rest = SparkRest(spark)

    # layer inputs, materialized once: level-0 partials and their merge.
    # localCheckpoint, not persist: a cached plan would be substituted
    # into the queries and layers that recompute the same plan
    layers = []
    blobs = blob_bytes = groups = 0
    for agg in wl.aggregates():
        partials = agg.partials().localCheckpoint(eager=True)
        stats = partials.select(
            F.count("*").alias("n"), F.sum(F.length("sketch")).alias("bytes")
        ).collect()[0]
        merged = merge_sketch_partials(partials, agg.spec, agg.by).localCheckpoint(eager=True)
        n_groups = merged.count()
        blobs += stats["n"]
        blob_bytes += stats["bytes"]
        groups += n_groups
        layers.append((agg, partials, merged))
        if agg.name == "hll":
            # (group, blob) cells for the in-process storage kernels
            key = F.col(agg.by[0]) if agg.by else F.lit(0)
            hll_cells = [(r[0], bytes(r[1])) for r in partials.select(key, "sketch").collect()]

    attempted = failed = 0

    def checked(errs):
        nonlocal attempted, failed
        attempted += 1
        if errs:
            failed += 1
            log("iteration failed: " + "; ".join(errs))

    log(f"layer inputs materialized: {blobs} partial blobs, {groups} groups")

    # phase 1: whole queries, alternating untraced and traced
    plain, queries = [], []
    deadline = time.perf_counter() + seconds / 2
    i = 0
    while i < 2 or time.perf_counter() < deadline:
        for kind in (("plain", "traced") if i % 2 == 0 else ("traced", "plain")):
            if kind == "plain":
                t0 = time.perf_counter()
                checked(run_iteration(wl, spark))
                plain.append(time.perf_counter() - t0)
            else:
                with tracer.span("query", workload=wl.name) as rec:
                    checked(run_iteration(wl, spark))
                queries.append(rec)
        i += 1

    log(f"phase 1: {len(plain)} untraced, {len(queries)} traced queries")

    # phase 2: each layer on its own
    spans = {"partials": [], "merge": [], "finalize": []}
    deadline = time.perf_counter() + seconds / 2
    while not spans["finalize"] or time.perf_counter() < deadline:
        with tracer.span("layers", workload=wl.name):
            with tracer.span("partials") as rec:
                for agg, _, _ in layers:
                    agg.partials().write.format("noop").mode("overwrite").save()
            spans["partials"].append(rec)
            with tracer.span("merge") as rec:
                for agg, partials, _ in layers:
                    merge_sketch_partials(partials, agg.spec, agg.by).write.format(
                        "noop"
                    ).mode("overwrite").save()
            spans["merge"].append(rec)
            with tracer.span("finalize") as rec:
                for agg, _, merged in layers:
                    agg.finalize(merged, agg.by)
            spans["finalize"].append(rec)

    log(f"phase 2: {len(spans['partials'])} layered iterations")

    # phase 3: in-process kernels on slices of the workload's inputs
    with tracer.span("kernels") as rec:
        kernels = wl.kernel_rates(spark, hll_cells)
    log(f"phase 3: kernels {wall(rec):.2f} s")

    t0 = time.perf_counter()
    engine = rest.group_metrics([rec["id"] for rec in queries])
    log(f"stage metrics read in {time.perf_counter() - t0:.2f} s")
    for rec in queries:
        rec["spark"] = engine[rec["id"]]
    tracer.write(os.path.join(CACHE, "traces", f"{wl.name}-s{wl.seed}-{run_id}.jsonl"))

    values = {name: 0.0 for name in PER_LAYER}
    values.update(kernels)
    layer_wall = {k: _median([wall(r) for r in v]) for k, v in spans.items()}
    query_wall = _median([wall(r) for r in queries])
    values.update(
        {
            "agg.partials_s": layer_wall["partials"],
            "agg.partials_cpu_s": _median([r["cpu"]["total"] for r in spans["partials"]]),
            "agg.partials_blobs": float(blobs),
            "agg.partials_bytes": float(blob_bytes),
            "agg.merge_s": layer_wall["merge"],
            "agg.merge_cpu_s": _median([r["cpu"]["total"] for r in spans["merge"]]),
            "agg.merge_fanin": blobs / groups,
            "agg.finalize_s": layer_wall["finalize"],
            "proc.python_worker_cpu_s": _median([r["cpu"]["python_workers"] for r in queries]),
            "proc.jvm_cpu_s": _median([r["cpu"]["jvm"] for r in queries]),
            "proc.driver_cpu_s": _median([r["cpu"]["driver"] for r in queries]),
            "trace.unattributed_frac": 1.0 - sum(layer_wall.values()) / query_wall,
            "trace.overhead_frac": query_wall / _median(plain) - 1.0,
        }
    )
    for key in next(iter(engine.values())):
        values[f"spark.{key}"] = _median([engine[r["id"]][key] for r in queries])
    return values, attempted, failed


# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "hll_spark", "__init__.py")):
        log(f"no hll_spark package under {ROOT}: run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import ProcessTree
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    cpus = len(os.sched_getaffinity(0))
    prepare_environment()
    wl = WORKLOADS[args.workload](args.seed, CACHE, cpus)
    procs = ProcessTree()
    spark = None
    try:
        spark, setups, warm_errors = set_up(wl, cpus)
        if warm_errors:
            log("warm-up failed: " + "; ".join(warm_errors))
        if args.trace:
            values, attempted, failed = traced(wl, spark, args.seconds, procs)
            units = PER_LAYER
        else:
            values, attempted, failed = untraced(wl, spark, args.seconds, setups, procs)
            units = END_TO_END
    finally:
        shutdown(spark)
    result = {
        "correct": failed == 0 and not warm_errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
