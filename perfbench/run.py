"""Run one benchmark workload and print its metrics as a JSON line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The launcher pins the run
environment itself, leaving the package's defaults alone: Spark gets
``nproc`` cores and a bounded driver heap, and every file the run
writes (bus, table, checkpoints, Spark scratch, temp files) goes to a
per-run directory under ``.perfbench_run/``, which is also the working
directory and is removed at exit.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` records spans and Spark counters and prints the
per-layer metrics instead (zero for layers the workload does not
exercise), and writes the spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "query_mix")
DRIVER_MEM = "1g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(run_dir: str) -> dict:
    """Environment and Spark confs for a run confined to ``run_dir``;
    must run before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
    })
    tempfile.tempdir = tmp
    os.chdir(run_dir)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} "
            f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Xms{DRIVER_MEM} "
            "-XX:+AlwaysPreTouch"
        ),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "eventsgateway_spark")):
        print(f"no eventsgateway_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    cwd = os.getcwd()
    confs = pin_environment(run_dir)
    proc = None
    try:
        import importlib

        from harness import SparkProcess, Tracer

        from eventsgateway_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", **confs)
        proc = SparkProcess(spark)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        module = importlib.import_module(args.workload)
        workload = module.Workload(proc, args.seed, run_dir, tracer)
        t0 = time.perf_counter()
        warm_ok = workload.warm_up()
        setup_s = time.perf_counter() - T_START
        print(f"session {session_s:.1f} s, warm-up "
              f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
        result = workload.measure(args.seconds)
        peak_rss_mb = proc.peak_rss_mb()
        if args.trace:
            values = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
            values.update(workload.layers())
            values["session.get_spark_s"] = session_s
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}.json"))
            metric_spec = spec["per_layer"]
        else:
            values = dict(result["metrics"], setup_s=setup_s,
                          peak_rss_mb=peak_rss_mb)
            metric_spec = spec["end_to_end"]
        print(f"{args.workload}: {result['samples']} samples, window "
              f"{result['window_s']:.3f} s", file=sys.stderr)
    finally:
        if proc is not None:
            proc.stop()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    out = {
        "correct": bool(warm_ok and result["correct"]),
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in metric_spec
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
