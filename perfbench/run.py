"""Benchmark of the anomaly-detection engine: the image validator and the
slide-by-slide stream detector (plus near-duplicate detection, run on request).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all            # every workload in turn
    python3 perfbench/run.py --write-benchmark-json    # regenerate BENCHMARK.json

Run from the repository root. Workloads: ``validate_images``,
``stream_slides`` and ``dedup_documents`` (not listed in BENCHMARK.json, see
WORKLOAD_WHY). Inputs are generated from ``--seed`` and cached under
``perfbench/.work`` with the oracle results, before any timing. Spark runs
``local[nproc]`` in this process; ``stream_slides`` runs one forked stream
process per core.

Untraced run (``--trace 0``): set-up is the median of the workload's
``SETUP_CYCLES`` session (re)starts plus the untimed warm-up operations;
then closed-loop operations run for ``--seconds`` (and at least the
workload's minimum count), and every result is checked against the
workload's oracle. Each metric is printed by name and unit; the last stdout
line is one JSON object with the end-to-end metrics. Progress goes to
stderr.

Traced run (``--trace 1``): the untraced run, then a session restart with the
Spark UI on and the same warm-up and loop under spans (both loops measure for
half of ``--seconds`` only), then every layer's public functions called one
by one under their own Spark job group, with task metrics read from the UI
REST API on loopback. The last line carries the per-layer metrics, including
``trace_overhead.*``: traced minus untraced value of each end-to-end metric.
Spans go to ``perfbench/.work/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "approximate_anomaly_detection_in_data_streams_spark"

# validate_images measures longer: at least MIN_OPS of its ~8 s operations
RUN_SECONDS = 20

# name -> (unit, better, bound, description); reported on every workload
END_TO_END = {
    "setup_s": ("s", "lower", 0.25, "median of the set-ups: session start plus warm-up"),
    "op_p50_ms": ("ms", "lower", 0.24, "median wall of one operation"),
    "items_per_s": ("1/s", "higher", 0.24, "input items of one operation per second of the median operation wall"),
    "peak_rss_mb": ("MB", "lower", 0.1, "peak RSS of the process tree, JVM and workers, over the timed operations"),
    "ops_ok_frac": ("frac", "higher", 0.01, "share of operations that ran and matched the oracle"),
}

# The workloads BENCHMARK.json lists. dedup_documents also runs (by name or
# with --workload all) but is not listed: every Spark run pays ~35 s of JVM
# start, cold warm-up and shutdown before its first timed operation, so a
# third Spark workload would add ~20 minutes to every twenty-run comparison.
# The dedup layer is still traced, on validate_images' captions.
WORKLOAD_WHY = {
    "validate_images": "Validator headline, ~45 short jobs per op: image_checks, profile, validator, "
    "pairs, detector move op_p50_ms/items_per_s; session moves setup_s. lsh, dedup: traced only.",
    "stream_slides": "Vector stream slide by slide in incremental, one stream per core, no Spark: "
    "process_batch moves op_p50_ms and items_per_s here only; Spark-side layers must not move it.",
}

# Per-layer metrics of the traced run, <layer>.<fn>.<metric>. Every Spark
# call also records ``tasks`` and ``spill_bytes`` in the spans file; they are
# not reported: spill is zero on every workload at these sizes, and the task
# count follows the job count while the report must stay within 128 metrics.
SPARK_LAYER_FNS = [
    "image_checks.decode_digests_parquet",
    "image_checks.psnr_verify",
    "image_checks.row_checks_and_features",
    "profile.column_stats",
    "profile.uniqueness",
    "validator.phash_dups",
    "validator.profile_drift_slides",
    "validator.violations",
    "validator.verdicts",
    "pairs.exact_neighbor_counts",
    "lsh.lsh_neighbor_counts",
    "detector.per_point_verdicts",
    "detector.detect",
    "dedup.minhash_signatures",
    "dedup.minhash_lsh_pairs",
    "dedup.ngram_jaccard_pairs",
    "dedup.simhash_neardup_pairs",
]
SPARK_FN_METRICS = ("wall_s", "task_run_s", "task_cpu_s", "jobs", "shuffle_bytes", "rows_out")
LOCAL_LAYER_FNS = [
    "incremental.process_batch_mcod",
    "incremental.process_batch_lshod",
    "incremental.finish_mcod",
    "incremental.finish_lshod",
]
LOCAL_FN_METRICS = ("wall_s", "rows_out")
# metric suffix -> (unit, better)
_KINDS = {
    "wall_s": ("s", "lower"),
    "task_run_s": ("s", "lower"),
    "task_cpu_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "rows_out": ("count", "higher"),
}
EXTRAS = {
    "session.get_spark.wall_s": ("s", "lower"),
    # rows re-verified / rows decoded: the wasted-work ratio
    "image_checks.psnr_verify.share": ("frac", "lower"),
    "image_checks.decode.rows_rejected": ("count", "lower"),
    "incremental.window_points_mcod": ("count", "higher"),
    "incremental.window_points_lshod": ("count", "higher"),
    "incremental.state_bytes_mcod": ("B", "lower"),
    "incremental.state_bytes_lshod": ("B", "lower"),
    "incremental.process_batch_mcod.cpu_util": ("frac", "higher"),
    "incremental.process_batch_lshod.cpu_util": ("frac", "higher"),
}


# zero on every workload, so not reported: the signature pass is map-only,
# and every operation passes its oracle traced or not
ALWAYS_ZERO = {"dedup.minhash_signatures.shuffle_bytes", "trace_overhead.ops_ok_frac"}


def per_layer_metrics() -> dict[str, tuple[str, str]]:
    """name -> (unit, better) of every per-layer metric, in report order."""
    out = {}
    for fns, kinds in ((SPARK_LAYER_FNS, SPARK_FN_METRICS), (LOCAL_LAYER_FNS, LOCAL_FN_METRICS)):
        for fn in fns:
            for m in kinds:
                out[f"{fn}.{m}"] = _KINDS[m]
    out.update(EXTRAS)
    # traced minus untraced value of each end-to-end metric
    for name, (unit, better, _bound, _desc) in END_TO_END.items():
        out[f"trace_overhead.{name}"] = (unit, better)
    return {k: v for k, v in out.items() if k not in ALWAYS_ZERO}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOAD_WHY.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound, _d) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b) in per_layer_metrics().items()
        ],
    }


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and bind the Spark driver (and UI) to loopback."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    # every JVM, the spark-submit launcher's included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


def start_session(ui: bool):
    from approximate_anomaly_detection_in_data_streams_spark.session import get_spark

    extra = {
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    return get_spark(app_name="perfbench", cores=nproc(), driver_memory="2g", extra=extra)


def session_cycle(workload, tracer, ui: bool, spark):
    """One set-up cycle: (re)start the session and prime its Python workers.
    Returns (spark, seconds)."""
    t0 = time.perf_counter()
    with tracer.span("setup.session"):
        if workload.uses_spark:
            if spark is not None:
                workload.before_stop()
                spark.stop()
            with tracer.span("session.get_spark"):
                t_s = time.perf_counter()
                spark = start_session(ui)
                tracer.layers["session.get_spark"] = {"wall_s": time.perf_counter() - t_s}
        workload.prime(spark)
    return spark, time.perf_counter() - t0


def warm_up(workload, tracer, spark) -> float:
    t0 = time.perf_counter()
    with tracer.span("setup.warm_up"):
        workload.warm_up(spark)
    return time.perf_counter() - t0


def e2e_metrics(measured, setup_s: float, peak_mb: float) -> dict[str, float]:
    from perfbench.workloads import median

    ok = measured.attempted - measured.failed
    return {
        "setup_s": setup_s,
        # 0 only when no operation succeeded, and then "correct" is false
        "op_p50_ms": 1e3 * median(measured.op_s) if measured.op_s else 0.0,
        # over the median wall, as validated_images_per_s: a mean would let
        # the few operations a busy shared host stalls swing the whole run
        "items_per_s": measured.items / len(measured.op_s) / median(measured.op_s)
        if measured.op_s
        else 0.0,
        "peak_rss_mb": peak_mb + measured.exited_rss_mb,
        "ops_ok_frac": ok / max(measured.attempted, 1),
    }


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    """Set up, measure and (when ``trace``) run the traced pass of one
    workload; always stops the Spark processes it started."""
    from perfbench.tracing import PeakRss, Tracer, stop_spark_processes
    from perfbench.workloads import WORKLOADS, median

    workload = WORKLOADS[name](WORK, seed, nproc())
    t0 = time.perf_counter()
    workload.prepare()
    log(f"{name}: inputs and oracle ready in {time.perf_counter() - t0:.1f} s")

    # the traced run compares its traced and untraced loops with each other
    # only, so both measure by time alone, half the run time each
    min_ops = 1 if trace else workload.MIN_OPS
    if trace:
        seconds /= 2
    run_id = uuid.uuid4().hex[:12]
    plain = Tracer(run_id, enabled=False)
    spark = None
    out: dict = {"layer": {}, "trace_e2e": None}
    try:
        # set-up = session start (median of SETUP_CYCLES; the first one also
        # launches the JVM) plus the warm-up operations
        cycles = []
        for _ in range(workload.SETUP_CYCLES):
            spark, s = session_cycle(workload, plain, False, spark)
            cycles.append(s)
        warm = warm_up(workload, plain, spark)
        log(f"{name}: session cycles {[round(c, 2) for c in cycles]} s, warm-up {warm:.2f} s")
        with PeakRss() as rss:
            measured = workload.measure(spark, seconds, plain, min_ops)
        log(f"{name}: {len(measured.op_s)} operations, walls {[round(x, 3) for x in measured.op_s[:12]]}")
        out["measured"] = measured
        out["e2e"] = e2e_metrics(measured, median(cycles) + warm, rss.peak_mb)
        if trace:
            traced = Tracer(run_id, enabled=True)
            with traced.span("run", workload=name, seed=seed):
                spark, s_t = session_cycle(workload, traced, True, spark)
                warm_up(workload, traced, spark)
                with PeakRss() as rss_t:
                    measured_t = workload.measure(spark, seconds, traced, min_ops)
                with traced.span("layers"):
                    extras = workload.trace_layers(spark, traced)
            # the traced session start is a restart in a warm JVM, like the
            # untraced median cycle; the warm-up op is not re-charged
            out["trace_e2e"] = e2e_metrics(measured_t, s_t + warm, rss_t.peak_mb)
            for k in END_TO_END:
                extras[f"trace_overhead.{k}"] = out["trace_e2e"][k] - out["e2e"][k]
            out["layer"] = collect_layers(traced, extras)
            measured.attempted += measured_t.attempted
            measured.failed += measured_t.failed
            measured.failures += measured_t.failures
            traced.dump(
                os.path.join(WORK, "spans", f"{name}_s{seed}_{run_id}.json"),
                untraced=out["e2e"],
                traced=out["trace_e2e"],
                extras=extras,
            )
    finally:
        if workload.uses_spark and spark is not None:
            workload.before_stop()
            stop_spark_processes(spark)
    return out


def collect_layers(tracer, extras: dict[str, float]) -> dict[str, float]:
    out = {name: 0.0 for name in per_layer_metrics()}
    for fn, rec in tracer.layers.items():
        for m, v in rec.items():
            key = f"{fn}.{m}"
            if key in out:
                out[key] = float(v)
    for k, v in extras.items():
        if k in out:
            out[k] = float(v)
    return out


def _print_metric(workload: str, name: str, value: float, unit: str) -> None:
    print(f"{workload:16s} {name:44s} {value:14.4f} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-benchmark-json", action="store_true")
    args = ap.parse_args(argv)

    if args.write_benchmark_json:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(benchmark_json(), fh, indent=2)
            fh.write("\n")
        return 0

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the {PACKAGE} package is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # before numpy loads, here and in the Spark workers that inherit it: one
    # BLAS thread per process. Its pthreads pool would otherwise spin a
    # second thread beside every matrix product, whose wait on a busy shared
    # core swings the stream's slide latency from run to run.
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    for n in names:
        if n not in WORKLOADS:
            print(f"perfbench: unknown workload {n!r}; one of {list(WORKLOADS)}", file=sys.stderr)
            return 2
    _prepare_environment()

    attempted = failed = 0
    metrics: dict[str, dict] = {}
    for n in names:
        res = run_workload(n, args.seed, args.seconds, bool(args.trace))
        m = res["measured"]
        attempted += m.attempted
        failed += m.failed
        for f in m.failures:
            print(f"perfbench: {n}: {f}", file=sys.stderr)
        prefix = f"{n}." if len(names) > 1 else ""
        for k, (unit, *_rest) in END_TO_END.items():
            _print_metric(n, k, res["e2e"][k], unit)
        for k, (v, unit) in m.detail.items():
            _print_metric(n, k, v, unit)
        print(f"{n:16s} {'operations':44s} {len(m.op_s):14d} (attempted {m.attempted}, failed {m.failed})")
        if args.trace:
            for k, v in res["trace_e2e"].items():
                _print_metric(n, f"traced {k}", v, END_TO_END[k][0])
            units = per_layer_metrics()
            for k, v in res["layer"].items():
                _print_metric(n, k, v, units[k][0])
                metrics[prefix + k] = {"value": v, "unit": units[k][0]}
        else:
            for k, (unit, *_rest) in END_TO_END.items():
                metrics[prefix + k] = {"value": res["e2e"][k], "unit": unit}
            if len(names) > 1:
                for k, (v, unit) in m.detail.items():
                    metrics[prefix + k] = {"value": v, "unit": unit}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
