"""End-to-end benchmark of the KG-construction package.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` and
cached under ``.perfbench_work/``; each run starts its own Spark session
on local[k] (k = min(4, cores)) and stops it before exiting.  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics).  Earlier lines give the run's
metadata and workload-specific figures.  See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from relation_extraction_using_llms_spark.session import get_spark  # noqa: E402

import inputs  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = {"kg_build": workloads.KgBuild, "corpus_prep": workloads.CorpusPrep}
CONFIGS = {"kg_build": workloads.KG, "corpus_prep": workloads.CORPUS}
WORK = os.path.join(ROOT, ".perfbench_work")
HERE = os.path.dirname(os.path.abspath(__file__))


def start_spark(run_dir: str, cores: int, shuffle_partitions: int, trace: bool):
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local)
    # keep every scratch file of the JVM and its Python workers in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
    }
    if trace:
        # the traced kg_build run launches ~1,000 jobs; keep all their
        # stages in the status store until the spans are read
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=shuffle_partitions,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def commit() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def layer_values(result: dict, tracer: Tracer, names: list, own_extras: tuple) -> dict:
    """The per-layer metrics named in BENCHMARK.json.  Extras that only the
    other workload produces read 0; any other missing or surplus name
    fails the run."""
    if set(result["extras"]) != set(own_extras):
        raise SystemExit(f"extras differ from the workload's EXTRAS: "
                         f"{sorted(set(result['extras']) ^ set(own_extras))}")
    traced = tracer.layer_metrics()
    values = {}
    for layer, fields in traced["layers"].items():
        for field, value in fields.items():
            values[f"{layer}.{field}"] = value
    values["all.tasks_failed"] = traced["tasks_failed"]
    values["all.spill_mb"] = traced["spill_mb"]
    values["trace.wall_s"] = traced["wall_s"]
    values["trace.unattributed_s"] = traced["unattributed_s"]
    values.update(result["extras"])
    for cls in WORKLOADS.values():
        values.update({name: 0 for name in cls.EXTRAS if name not in own_extras})
    if set(values) != set(names):
        raise SystemExit(f"per-layer metrics differ from BENCHMARK.json: "
                         f"{sorted(set(values) ^ set(names))}")
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # A run measures exactly one pass of its workload in a fresh JVM, which
    # lasts longer than any --seconds the benchmark is given.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f).get(args.workload, {}).get(str(args.seed))

    prep_start = time.perf_counter()
    input_dir, facts = inputs.prepare(WORK, args.workload, args.seed, CONFIGS[args.workload])
    prep_end = time.perf_counter()

    cores = min(4, len(os.sched_getaffinity(0)))
    partitions = CONFIGS[args.workload]["shuffle_partitions"]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    spark = None
    try:
        spark = start_spark(run_dir, cores, partitions, bool(args.trace))
        if args.workload == "kg_build":
            wl = workloads.KgBuild(spark, input_dir, facts, run_dir)
        else:
            wl = workloads.CorpusPrep(spark, input_dir, facts, run_dir, ROOT)
        # set-up: interpreter and package import, session start, inputs
        # opened; input generation is excluded
        setup_s = (prep_start - PROCESS_START) + (time.perf_counter() - prep_end)
        tracer = Tracer(spark) if args.trace else None
        result = wl.run(tracer, expected)
        names = [m["name"] for m in spec["per_layer"]]
        per_layer = layer_values(result, tracer, names, wl.EXTRAS) if tracer else None
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    t = time.perf_counter()
    bench._control_pass((2, 14000))
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "master": f"local[{cores}]",
        "shuffle_partitions": partitions,
        "control_s": round(time.perf_counter() - t, 4),
        "commit": commit(),
        "input_prep_s": round(prep_end - prep_start, 3),
        "pinned": result["pinned"],
    }
    print("meta " + json.dumps(meta))
    print("info " + json.dumps(result["info"]))

    checks = result["checks"]
    if args.trace:
        metrics = {m["name"]: {"value": per_layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = dict(result, setup_s=setup_s)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps({
        "correct": not checks.failures,
        "attempted": checks.attempted,
        "failed": len(checks.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
