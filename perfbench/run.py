"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload index_build --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout of the repository. It generates its
inputs from the seed under ``.perfbench_work/run-<pid>`` (removed at exit),
starts one Spark session with ``local[<cpus>]`` (``SPARK_GRAFT_CPUS``,
default: the CPUs this process may use), sets up, measures the workload
for about ``--seconds`` seconds with one client, checks every answer and
stops the session and its JVM. With ``--trace 1`` it also records spans
around each engine call, writes them to ``.perfbench_work/traces/`` and
reports per-layer metrics instead of end-to-end ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it gives workload-specific figures (``detail``). Exits 2 without a result
when the engine package cannot be imported.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "simple_mapreduce_search_engine_information_retrieval__spark"


def _spec() -> dict:
    """BENCHMARK.json: the workloads and the metrics with their units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in _spec()["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java).strip()


def _stop(spark) -> None:
    """Stop the session, then the JVM it started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(ENGINE) is None:
        print(f"perfbench: engine package {ENGINE} not found under {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    os.chdir(work)

    import gen
    import workloads
    from spans import Tracer
    from simple_mapreduce_search_engine_information_retrieval__spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    spark = bench = None
    try:
        t0 = time.perf_counter()
        inputs = os.path.join(work, "inputs")
        gen.generate(args.seed, inputs)
        with tracer.span("session.get_spark"):
            spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark)
        bench = workloads.Bench(spark, tracer, inputs, work, args.seconds)
        out = workloads.WORKLOADS[args.workload](bench)
        tally = out["tally"]
        for err in tally.errors[:5]:
            print(f"perfbench: {err}", file=sys.stderr)
        if args.trace:
            bench.probe()
            metrics = _metrics(workloads.layer_metrics(tracer), "per_layer")
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(
                os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "metrics": metrics},
            )
        else:
            metrics = _metrics({"setup_s": out["setup_end"] - t0, **out["e2e"]}, "end_to_end")
        detail = {**out["detail"], "error_rate": tally.error_rate, "setup_s": out["setup_end"] - t0}
        print(json.dumps({"detail": detail}))
        print(
            json.dumps(
                {
                    "correct": tally.failed == 0,
                    "attempted": tally.attempted,
                    "failed": tally.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if bench is not None:
            bench.close()
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _metrics(values: dict[str, float], kind: str) -> dict:
    """``values`` with the units BENCHMARK.json gives them; the names
    must be exactly the ``kind`` metrics it lists."""
    units = {m["name"]: m["unit"] for m in _spec()[kind]}
    if set(values) != set(units):
        raise RuntimeError(f"{kind} metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
