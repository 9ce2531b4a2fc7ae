"""Seeded end-to-end benchmark of the Spark vector-search engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload vector_serve --seed 1 --seconds 5 --trace 0

Workloads: vector_serve and curate (see
perfbench/README.md). Each run starts one Spark session on
``local[<usable cores>]``, generates its inputs from ``--seed``, runs a
closed loop with one client for ``--seconds`` and checks every output
against the oracles in perfbench/oracles.py.

stdout ends with one JSON line:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones from the span trace. The line
before it holds the workload-named numbers, the set-up reps, host-noise
telemetry and any failed check. Results and span traces are written
under perfbench/out/ only. Exit code: 0 when every check passed, 1 when
one failed, 2 when the engine sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

#: per-layer metrics averaged over the traced operation spans
GENERIC = {
    "driver.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.slot_idle_frac": "fraction",
    "spark.persisted_rdds_delta": "count",
    "spark.storage_bytes_delta": "bytes",
}
#: spans around calls into the engine's public functions; the metric
#: ``<span>_s`` is the mean wall seconds per call (0 when the workload
#: makes none)
MODULE_SPANS = [
    "operators.flat.flat_knn",
    "operators.ivf.ivf_search",
    "operators.vamana.vamana_search",
    "operators.vamana.vamana_build",
    "operators.kmeans.train_kmeans",
    "operators.ivf.ivf_build",
    "operators.dynamic.add_points",
    "operators.dynamic.delete_entries",
    "operators.dynamic.consolidate",
    "operators.dynamic.dynamic_search",
    "sources.index_store.save_vamana",
    "sources.index_store.load_vamana",
    "pipeline.text.text_stats",
    "pipeline.curate.quality_filter",
    "pipeline.dedup.dedup_exact",
    "pipeline.dedup.dedup_minhash",
    "pipeline.dedup.decontaminate",
    "pipeline.pack.pack_sequences",
]
SEARCH_SPANS = [
    "operators.flat.flat_knn",
    "operators.ivf.ivf_search",
    "operators.vamana.vamana_search",
    "operators.dynamic.dynamic_search",
]
#: numbers the harness measures itself (0 when the workload has none)
HARNESS_LAYER = {
    "operators.vamana_local.build_graph_s": "s",
    "operators.vamana_local.batch_greedy_search_s": "s",
    "operators.ivf.rows_examined_per_result": "ratio",
    "pipeline.dedup.verified_per_candidate": "ratio",
    "sources.index_store.index_bytes_per_vector_byte": "ratio",
    "query_tail_s": "s",
}
PER_LAYER_UNITS = {
    **GENERIC,
    **{name + "_s": "s" for name in MODULE_SPANS},
    **HARNESS_LAYER,
    "operators.vamana_local.kernel_share": "fraction",
    "operators.topk.merge_input_rows": "count",
    "cached_mb_after": "MB",
    "trace.overhead_frac": "fraction",
    "op_p50_s": "s",
    "items_per_s": "1/s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["vector_serve", "curate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(run_dir: str, cores: int) -> None:
    """Pin BLAS to one thread (as the engine pins its workers), keep
    every file Spark and Python write inside ``run_dir`` and let the
    Python workers import the engine from this checkout. Must run
    before numpy is imported."""
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)


def calibration_s() -> float:
    """Wall seconds of a fixed single-thread float64 GEMM: the same work
    every run, so its spread is host noise."""
    import numpy as np

    a = np.full((512, 512), 1.000001)
    t0 = time.perf_counter()
    acc = a
    for _ in range(8):
        acc = a @ a
    float(acc[0, 0])
    return time.perf_counter() - t0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat; (0, 0) where
    it is not readable. Steal is time the hypervisor ran something else
    while this machine had work ready."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def start_spark(run_dir: str):
    from scalablevectorsearch_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # the JVM's temp files stay in the run directory; no
            # /tmp/hsperfdata file either
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(out) -> dict:
    return {
        "setup_s": (statistics.median(out.setup_s), "s"),
        "recall": (out.recall, "fraction"),
    }


def loop_speed(out) -> dict:
    """The timed loop's speed. Its run-to-run spread on a shared 4-core
    host is too wide to gate on (see README.md), so it is reported
    with the per-layer metrics."""
    import workloads

    ops = out.ops
    return {
        "op_p50_s": workloads.op_p50(out),
        "items_per_s": sum(o.items for o in ops) / sum(o.wall_s for o in ops),
    }


def per_layer(rec, out, cores: int, cached_mb: float) -> dict:
    spans = rec.spans
    traced_ops = [s for s in spans if s.name.startswith("op.")]
    metrics = {s.index: rec.metrics(s) for s in spans}
    res = {}
    for key in GENERIC:
        vals = [metrics[s.index][key] for s in traced_ops]
        res[key] = statistics.fmean(vals) if vals else 0.0
    for name in MODULE_SPANS:
        walls = [s.wall_s for s in spans if s.name == name]
        res[name + "_s"] = statistics.fmean(walls) if walls else 0.0
    for key in HARNESS_LAYER:
        res[key] = float(out.layer.get(key, 0.0))
    builds = [metrics[s.index]["spark.exec_run_s"]
              for s in spans if s.name == "operators.vamana.vamana_build"]
    build_run = statistics.fmean(builds) if builds else 0.0
    res["operators.vamana_local.kernel_share"] = (
        cores * res["operators.vamana_local.build_graph_s"] / build_run if build_run else 0.0
    )
    merges = [metrics[s.index]["merge_input_rows"] for s in spans if s.name in SEARCH_SPANS]
    res["operators.topk.merge_input_rows"] = statistics.fmean(merges) if merges else 0.0
    res["cached_mb_after"] = cached_mb
    res["trace.overhead_frac"] = trace_overhead(rec)
    res.update(loop_speed(out))
    return res


def trace_overhead(rec) -> float:
    """Seconds the recorder spent on its own bookkeeping inside the
    timed operations, as a share of their wall time."""
    by_index = {s.index: s for s in rec.spans}

    def in_op(sp) -> bool:
        while sp.parent is not None:
            sp = by_index[sp.parent]
            if sp.name.startswith("op."):
                return True
        return False

    ops = [s for s in rec.spans if s.name.startswith("op.")]
    wall = sum(s.wall_s for s in ops)
    return sum(s.cost_s for s in rec.spans if in_op(s)) / wall if wall else 0.0


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "scalablevectorsearch_spark", "__init__.py")):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    cores = usable_cores()
    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    prepare_env(run_dir, cores)

    import spans
    import workloads

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    phases = {}
    t0 = time.perf_counter()
    load_before = os.getloadavg()[0]
    calib_before = calibration_s()
    jiffies_before = cpu_jiffies()
    spark = start_spark(run_dir)
    phases["start_s"] = time.perf_counter() - t0
    failures: list[str] = []
    record: dict = {}
    out = None
    try:
        status = spans.SparkStatus(spark.sparkContext)
        recorder = spans.Recorder(status, cores) if args.trace else spans.NullRecorder()
        h = workloads.Harness(spark, args.seed, args.seconds, recorder, cores, run_dir,
                              bool(args.trace))
        out = h.out
        t0 = time.perf_counter()
        workloads.WORKLOADS[args.workload](h)
        phases["workload_s"] = time.perf_counter() - t0
        cached_mb = status.storage()[1] / 2**20
        failures = list(out.failures)
        if args.trace:
            metrics = per_layer(recorder, out, cores, cached_mb)
            units = PER_LAYER_UNITS
            recorder.write(os.path.join(OUT, f"{tag}-spans.json"))
        else:
            e2e = end_to_end(out)
            metrics = {k: v for k, (v, _) in e2e.items()}
            units = {k: u for k, (_, u) in e2e.items()}
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in out.named.items()},
            "cached_mb_after": cached_mb,
            "loop_speed": loop_speed(out),
            "setup_reps_s": out.setup_s,
            "op_walls_s": {k: [o.wall_s for o in out.ops if o.kind == k] for k in out.kinds},
        }
    except Exception:
        traceback.print_exc()
        failures.append("exception: " + traceback.format_exc().strip().splitlines()[-1])
        metrics, units = {}, {}
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        phases["stop_s"] = time.perf_counter() - t0

    ops = out.ops if out is not None else []
    attempted = max(1, len(ops) + (out.standalone if out is not None else 0))
    failed = sum(1 for o in ops if not o.ok) + (out.standalone_failed if out is not None else 0)
    if failures and failed == 0:
        failed = 1
    record.update(
        failed_op_frac=failed / attempted,
        failures=failures,
        load_avg=[load_before, os.getloadavg()[0]],
        calib_s=[calib_before, calibration_s()],
        steal_frac=steal_frac(jiffies_before, cpu_jiffies()),
        phases=phases,
    )
    print(json.dumps(record))
    correct = not failures
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump({"detail": record, "result": result}, f)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
