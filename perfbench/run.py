"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_pipelines --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(and cached per seed under ``.perfbench/``); the run measures whole
cycles for ``--seconds``, checks every output, and prints as its last
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it are human-readable context (core count,
load average, tail percentiles, failures).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("etl_pipelines", "lake_cdc", "curation_index")
#: seed kept out of tuning; later claims must also hold on it
HELD_OUT_SEED = 90210


def _workload(name: str, seed: int, scale: float):
    if name == "etl_pipelines":
        from perfbench.wl_etl import EtlPipelines as cls
    elif name == "lake_cdc":
        from perfbench.wl_lake import LakeCdc as cls
    else:
        from perfbench.wl_curation import CurationIndex as cls
    return cls(seed, scale)


def _stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait until the JVM
    (and with it the Python workers it forked) has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to sf0.1 (smoke tests only)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import data_pipeline_platform_spark as program
    except ImportError as exc:
        print(f"perfbench: program not found under {ROOT}: {exc}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(program.__file__))) != ROOT:
        print(f"perfbench: program imported from outside {ROOT}", file=sys.stderr)
        return 2
    from perfbench import gen, harness

    load_start = harness.load_avg()
    wl = _workload(args.workload, args.seed, args.scale)
    tag = wl.name if args.scale == 1.0 else f"{wl.name}-x{args.scale:g}"
    inputs = gen.cached(os.path.join(WORK, "cache"), tag, args.seed,
                        wl.build_inputs)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=os.path.join(WORK, "runs"))
    ctx = harness.Context(run_dir=run_dir, inputs=inputs)
    # temporary files of Python, the JVM and Spark stay in the run directory
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    cwd = os.getcwd()
    os.chdir(run_dir)  # anything Spark drops in the cwd is removed with the run
    try:
        if args.trace:
            out = harness.run_traced(ctx, wl, args.seconds)
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            out["tracer"].dump(os.path.join(
                traces, f"{wl.name}-seed{args.seed}-{int(time.time())}.jsonl"))
        else:
            out = harness.run_untraced(ctx, wl, args.seconds)
    finally:
        _stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)

    records = out["records"]
    failed = [r for r in records if not r["ok"]]
    context = {
        "workload": wl.name, "seed": args.seed, "held_out_seed": HELD_OUT_SEED,
        "cores": harness.cores(), "load_avg_start": load_start,
        "load_avg_end": harness.load_avg(), "trace": args.trace,
        "failed_ratio": len(failed) / len(records) if records else 1.0,
        **out["info"],
    }
    print(json.dumps(context))
    for r in failed[:20]:
        print(f"failed op {r['i']} {r['name']} (cycle {r['cycle']}): {r.get('error')}")
    print(harness.result_line(out["metrics"], records))
    return 0


if __name__ == "__main__":
    sys.exit(main())
