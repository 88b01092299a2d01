"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload heavy_operators --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from the
seed into a private temp directory under the root, starts a session in
a fresh JVM, measures whole warm passes within ``--seconds`` (at
least one pass; at least two cycles on ojol_warehouse), checks every
result, stops and waits for every process it started (the JVM and
PySpark's Python workers), removes its files and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the metrics
are the ``end_to_end`` ones named in BENCHMARK.json; with ``--trace 1``
the ``per_layer`` ones, from the spans recorded around each layer call
(written to stderr). A line before it, ``{"host": ...}``, records the
host shape. ``--smoke`` shrinks the inputs for a quick check of the
harness itself.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

import procs  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("heavy_operators", "ojol_warehouse")
REQUIRED = ("BENCHMARK.json", "__spark_entry__.py", "serve.py", "bench.py",
            "learn_etl_data_warehouse_spark", "tests/test_oracle_parity.py")
SIZES = {  # (star-schema scale factor, ojol rows)
    "heavy_operators": (0.002, 0),
    "ojol_warehouse": (0, 50_000),
    "smoke": (0.001, 2_000),
}
CALIBRATION_LOOP = 1_000_000
# per-layer metrics each workload must compute; every other declared one
# belongs to a layer the workload does not run and reads 0
COMMON_LAYERS = {"session.start_s", "loadgen.generate_s", "trace.op_geomean_s",
                 "jvm.gc_s", "jvm.peak_rss_mb"}
LAYERS_RUN = {
    "heavy_operators": COMMON_LAYERS | {
        "sources.scan_s", "entry.build_s", "entry.exec_s", "spark.jobs_per_query",
        "spark.stages_per_query", "spark.tasks_per_query",
        "spark.eager_jobs_per_query", "operators.graph_s",
    },
    "ojol_warehouse": COMMON_LAYERS | {
        "plans.load_s", "plans.commit_s", "plans.merge_s", "plans.files_per_commit",
        "plans.bytes_per_row_stored", "plans.snapshot_resolve_s",
        "plans.files_scanned_quarter", "plans.files_scanned_mode",
        "plans.collect_hist_s", "plans.collect_geo_s", "plans.collect_table_s",
        "plans.collect_nav_s", "serve.edge_s", "serve.render_s",
        "serve.hist_png_s", "serve.bar_chart_png_s", "serve.jobs_per_request",
        "loadgen.late_max_s",
    },
}


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args()


def private_tmp(seed: int) -> str:
    """A run directory under the checkout; Spark, the JVM, DuckDB and
    Python temp files all go there, and it is removed at the end."""
    path = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}-{seed}")
    os.makedirs(path)
    os.environ["TMPDIR"] = path
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={path}"
    return path


def declared_metrics() -> dict[str, dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def main() -> int:
    args = parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}",
              file=sys.stderr)
        return 2
    declared = declared_metrics()
    # every process the run starts, directly or through the JVM, is
    # stopped and waited for before it exits, on every path out
    procs.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    tmp = private_tmp(args.seed)
    os.chdir(tmp)  # stray relative writes (spark-warehouse/, .tmp) land here
    try:
        return run(args, tmp, declared)
    finally:
        signalled = procs.stop_all()
        if signalled:
            print(f"perfbench: stopped lingering processes {signalled}",
                  file=sys.stderr)
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(tmp))


def run(args: argparse.Namespace, tmp: str, declared: dict) -> int:
    sys.path[:0] = [ROOT]
    import numpy as np

    import bench
    from gen_ojol import generate_ojol
    from gen_tables import generate_tables
    from jvm import DRIVER_MEMORY, jvm_pid, peak_rss_mb, versions
    from jvm import start_session, stop_session
    from oracle import oracle_fingerprints
    from spans import Tracer
    from workloads import (
        HEAVY_OPERATORS,
        land_raw_fact,
        run_ojol,
        run_queries,
        write_raw_fact,
    )

    sf, ojol_rows = SIZES["smoke" if args.smoke else args.workload]
    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    rng = np.random.default_rng(args.seed)
    imports_s = time.perf_counter() - PROCESS_START
    calibration = [bench._calibrate_single_core(CALIBRATION_LOOP)]

    with tracer.span("loadgen.generate"):
        if args.workload == "heavy_operators":
            sf_dir = os.path.join(tmp, "tables")
            generate_tables(sf_dir, sf, args.seed)
        else:
            raw, expected = generate_ojol(ojol_rows, args.seed)
            raw_path = write_raw_fact(raw, tmp)
    if args.workload == "heavy_operators":
        expected = oracle_fingerprints(HEAVY_OPERATORS, sf_dir)

    # set-up: process start to imports done, plus JVM launch to a warm
    # session; input generation and the oracle run in between, untimed
    t_launch = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session()
    session_s = time.perf_counter() - t_launch
    try:
        host = {
            "nproc": os.cpu_count(),
            "driver_memory": DRIVER_MEMORY,
            **versions(spark),
            "sf": sf,
            "ojol_rows": ojol_rows,
        }
        if args.workload == "heavy_operators":
            result = run_queries(spark, HEAVY_OPERATORS, sf_dir, expected, rng,
                                 args.seconds, tracer)
        else:
            with tracer.span("loadgen.generate"):
                land_raw_fact(spark, raw_path, tmp)
            result = run_ojol(spark, tmp, expected, rng, args.seconds, tracer)
        result.layers["jvm.peak_rss_mb"] = peak_rss_mb(jvm_pid(spark))
    finally:
        stop_session(spark)
    calibration.append(bench._calibrate_single_core(CALIBRATION_LOOP))

    result.metrics["setup_s"] = imports_s + session_s
    result.layers.update(
        {
            "session.start_s": session_s,
            "loadgen.generate_s": tracer.total("loadgen.generate"),
            "trace.op_geomean_s": result.metrics["op_geomean_s"],
        }
    )
    host["calibration_s"] = {"before": calibration[0], "after": calibration[1],
                             "loop": CALIBRATION_LOOP}
    for err in result.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    if tracer.enabled:
        tracer.dump(sys.stderr)

    kind = "per_layer" if args.trace else "end_to_end"
    values = result.layers if args.trace else result.metrics
    unknown = set(values) - set(declared[kind])
    absent = set(declared["end_to_end"]) - set(result.metrics)
    if args.trace:
        absent |= LAYERS_RUN[args.workload] - set(result.layers)
    if unknown or absent:
        raise RuntimeError(f"metrics not matching BENCHMARK.json: {unknown or absent}")
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in declared[kind].items()
    }
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
