#!/usr/bin/env python3
"""The KG-build benchmark: one command per workload.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 6 --trace 0

Runs from the root of a checkout of this repository. Generates its inputs
from ``--seed`` (cached in ``perfbench/.data``), starts ``local[<cores>]``
with cores from the process's CPU affinity, runs one untimed warm-up pass,
then times passes until ``--seconds`` have elapsed, checks every output and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones (see README.md). The line
before it is a JSON record with the environment (cores, revision, versions,
OpenBLAS kernel), every pass wall and the host-speed probe. Exits 1 when an
output check fails, 2 when the program is not present.
"""

from __future__ import annotations

import os
import sys

# one BLAS thread in the driver too, before NumPy loads (the session sets the
# same for the JVM and its Python workers)
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
RUNS = os.path.join(HERE, ".runs")
WORKLOAD_NAMES = ("flagship", "registry_queries")


def _units() -> dict[str, str]:
    """Every metric's unit, as BENCHMARK.json lists it."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


UNITS = _units()


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    return args


def _start_spark(cores: int, tmp: str):
    from bran_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=str(max(8, 2 * cores)),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # no hsperfdata file in /tmp: the JVM writes inside the checkout only
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def run(args: argparse.Namespace, tmp: str) -> int:
    import envinfo
    import inputs

    local = os.path.join(tmp, "local")
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["BRAN_SPARK_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local

    t0 = time.perf_counter()
    paths = inputs.ensure_inputs(DATA, args.seed)
    gen_s = time.perf_counter() - t0
    cores = envinfo.cores()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              **envinfo.env_record(REPO), "input_gen_s": gen_s}

    import workloads
    from tracing import StatusStores, Tracer

    t0 = time.perf_counter()
    spark = _start_spark(cores, tmp)
    record["session_start_s"] = time.perf_counter() - t0
    try:
        ctx = workloads.Context(spark, cores, paths, tmp, args.seed)
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = envinfo.process_age_s() - gen_s
        record["setup_s"] = setup_s

        if args.trace:
            tracer = Tracer(uuid.uuid4().hex[:12])
            layer, failures, checks_attempted = workloads.traced_run(ctx, wl, tracer)
            layer["session.start_s"] = record["session_start_s"]
            os.makedirs(RUNS, exist_ok=True)
            tracer.write(os.path.join(RUNS, f"spans-{args.workload}-seed{args.seed}.json"))
            attempted = checks_attempted + len(tracer.spans)
            metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in sorted(layer.items())}
        else:
            walls, rows, probes = [], [], []
            deadline = time.perf_counter() + args.seconds
            while True:
                probes.append(envinfo.host_probe_s())
                wall, n = wl.run_pass()
                walls.append(wall)
                rows.append(n)
                if time.perf_counter() >= deadline and len(walls) >= wl.min_passes:
                    break
            checks_attempted, failures = wl.check()
            attempted = checks_attempted + len(walls) * wl.ops_per_pass()
            record.update(pass_walls_s=walls, pass_rows=rows, host_probe_s=probes)
            if isinstance(wl, workloads.Registry):
                record["query_median_s"] = {q: statistics.median(v) for q, v in wl.per_query.items()}
                record["query_geomean_s"] = wl.query_geomean_s()
            e2e = {
                "setup_s": setup_s,
                "wall_s": statistics.median(walls),
                "rows_per_s": statistics.median(n / w for n, w in zip(rows, walls)),
            }
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
        failed_tasks = StatusStores(spark).failed_tasks()
    finally:
        _stop_spark(spark)

    record.update(failures=failures, failed_task_attempts=failed_tasks)
    failed = len(failures) + failed_tasks
    print(json.dumps(record, default=float))
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": attempted + failed_tasks,
                      "failed": failed, "metrics": metrics}))
    return 1 if failures else 0


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "bran_spark", "plans", "pipeline.py")) or not os.path.isfile(
        os.path.join(REPO, "tools", "oracle_check.py")
    ):
        print("perfbench: bran_spark/ and tools/ must sit next to perfbench/ "
              "(run from the root of a checkout)", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    import inputs

    os.environ["BRAN_SPARK_FIXTURES"] = inputs.fixture_root(DATA, args.seed)
    os.makedirs(RUNS, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS)
    try:
        return run(args, tmp)
    except Exception:  # noqa: BLE001 — report, print no result, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
