"""Seeded, layered benchmark of strom_spark through its public API.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads (see perfbench/NOTES.md):

  dedup_sf003  2 dedup/loop pipelines on sf0.03 tables, where driver
               orchestration (plan building and eager jobs) dominates;
  stream_cep   an order/parcel event stream through StreamingMatchDecide;
  etl_sf01     3 aggregate/window/CEP pipelines on sf0.1 tables, where
               executors do most of the work (not in BENCHMARK.json: run
               it by hand to see whether a change trades one kind of
               work against the other).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` re-runs the
workload with spans around every layer's public functions and prints the
per-layer metrics.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  The full record of
the run (box state, seed, input fingerprint, source id, spans) is written
under ``.perfbench_work/results/``.

Everything the run writes stays under ``.perfbench_work/`` in the
working directory: generated inputs (cached per seed and scale),
Spark's local and temporary directories, and the results.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import argparse
import json
import time

import boxstate

WORKLOADS = ("dedup_sf003", "stream_cep", "etl_sf01")
DRIVER_MEMORY = "3g"
#: Spark task slots (``local[N]``) unless SPARK_GRAFT_CPUS says otherwise:
#: half of a 4-core box, so the driver thread, the JIT and GC threads and
#: the Python workers do not queue behind the tasks
DEFAULT_CPUS = 2


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work`` and
    let Python workers import the library from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["STROM_SPARK_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["STROM_SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # C1 only: with the C2 compiler the driver's planning code keeps
    # speeding up for eight or more dedup passes, longer than a run, and
    # how far it got depended on the CPU that neighbours left the JIT
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions=-Dderby.system.home={tmp} pyspark-shell"
    )
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")


def _declared(kind: str, root: str) -> list[dict]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    args = _args(argv)
    cpus = boxstate.parse_cpus(DEFAULT_CPUS)
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work")
    _prepare_env(root, work)
    if root not in sys.path:
        sys.path.insert(0, root)

    import strom_spark as ss
    import __spark_entry__ as entry

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "driver_memory": DRIVER_MEMORY,
        **boxstate.source_id(root),
    }
    steal0 = boxstate.steal_sample()
    t = time.perf_counter()
    spark = ss.get_spark("perfbench")
    get_spark_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(2_000_000).selectExpr("sum(id * 2)").collect()
        setup_s = boxstate.process_age_s()
        rss = boxstate.PeakRss(spark.sparkContext._gateway.proc.pid)
        canary_start = boxstate.canary_s(spark)
        record.update(setup_s=setup_s, get_spark_s=get_spark_s, box_canary_start_s=canary_start)
        if args.workload == "stream_cep":
            import stream

            out = stream.run(spark, ss, entry, args, work, record)
        else:
            import batch

            out = batch.run(spark, ss, entry, args, root, work, cpus, record)
        record["peak_rss_mb"] = rss.stop()
        record["peak_rss_processes"] = rss.at_peak
        record["box_canary_end_s"] = boxstate.canary_s(spark)
        record["steal_pct"] = boxstate.steal_pct(steal0, boxstate.steal_sample())
    finally:
        t = time.perf_counter()
        spark.stop()
        record["stop_s"] = time.perf_counter() - t

    if args.trace:
        layers = dict(out["layers"])
        layers.update({
            "session.get_spark_s": get_spark_s,
            "env.canary_start_s": canary_start,
            "env.canary_end_s": record["box_canary_end_s"],
            "env.steal_pct": record["steal_pct"],
            "mem.peak_rss_mb": record["peak_rss_mb"],
        })
        if args.workload == "stream_cep":
            import stream

            layers["stream.events_per_s_1core"] = stream.single_core_drain(ss, work, args.seed)
        record["layers"] = layers
        metrics = {m["name"]: _metric(layers.get(m["name"], 0.0), m["unit"]) for m in _declared("per_layer", root)}
    else:
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            **out["end_to_end"],
        }
    result = {
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }
    record["result"] = result
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    boxstate.stop_jvm(spark.sparkContext._gateway.proc)
    print(f"record: {os.path.relpath(path, root)}")
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
