"""Closed-loop harness shared by the workloads.

One client runs a workload's operations back to back on one Spark
session (``local[<cores>]``); the next operation starts only when the
previous one has returned. A workload is a sequence of *cycles*, each a
fixed list of unit operations ("op") and interleaved reads ("read").
A run measures as many whole cycles as fit in ``--seconds`` at the
workload's nominal cycle time (``cycle_s``), at least one, so every run
does the same work with the same mix of operation kinds whatever the
host's speed; a run stops early only when its cycles have already
taken twice ``--seconds``.

Untraced run (``--trace 0``): set up (session start, then the
discarded warm-up pass) and report that as ``setup_s``; then measure,
check the outputs, and print the end-to-end metrics.

Traced run (``--trace 1``): set up on a session with the event log on
and measure the same cycles with spans. Print the per-layer metrics and
the tracing overhead: the traced wall time over the same minus the time
the tracer spent on itself.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import resource
import shutil
import statistics
import time
from typing import Any, Callable, Dict, List, Optional

from perfbench.trace import Tracer

#: percentiles a tail may be reported at; the highest with at least
#: TAIL_BEYOND samples above it wins. A run too short for any reports
#: the highest with at least one sample above it, so the figure never
#: rests on the single slowest sample; a run of fewer than four
#: samples reports its maximum
TAIL_GRID = (75, 90, 95, 99, 99.9)
TAIL_BEYOND = 10
#: driver heap. The program's default (8g in config/settings.py) is far
#: above the working set, so the heap grows as GC timing allows and peak
#: RSS spread 0.31-0.39 (IQR/median) over five seeds of each workload;
#: at 2g the heap fills and the figure is steady. A change to the
#: program's default heap does not show here
DRIVER_MEMORY = "2g"


@dataclasses.dataclass
class Op:
    kind: str                    # "op" (unit operation) or "read"
    name: str
    fn: Callable[[], Any]
    rows: int = 0                # input rows the operation processes
    check: Optional[Callable[[Any], bool]] = None   # untimed, right after


@dataclasses.dataclass
class Context:
    run_dir: str                 # private to this run, removed afterwards
    inputs: str                  # cached generated inputs for the seed
    spark: Any = None
    tracer: Tracer = dataclasses.field(default_factory=Tracer)
    state_dir: str = ""
    session_start_s: float = 0.0


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_session(ctx: Context, tag: str, event_log: bool):
    """Stop any running session and build a new one with the program's
    own factory, on conf the benchmark passes in: private warehouse,
    local and event-log directories under the run directory."""
    from pyspark.sql import SparkSession

    from data_pipeline_platform_spark.config.settings import Settings
    from data_pipeline_platform_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    os.makedirs(os.path.join(ctx.run_dir, "tmp"), exist_ok=True)
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.run_dir, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(ctx.run_dir, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(ctx.run_dir, 'tmp')} -XX:-UsePerfData"),
    }
    if event_log:
        log_dir = os.path.join(ctx.run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })

    @dataclasses.dataclass
    class _Settings(Settings):
        def spark_conf(self) -> Dict[str, Any]:
            conf = super().spark_conf()
            conf.update(extra)
            return conf

    settings = _Settings(
        spark_master=f"local[{cores()}]",
        warehouse_dir=os.path.join(ctx.run_dir, "warehouse", tag),
        driver_memory=DRIVER_MEMORY,
    )
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{tag}", settings=settings)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.session_start_s = time.perf_counter() - t0
    ctx.spark = spark
    ctx.tracer = Tracer(spark, enabled=event_log)
    return spark


def fresh_state(ctx: Context, tag: str) -> None:
    if ctx.state_dir:
        shutil.rmtree(ctx.state_dir, ignore_errors=True)
    ctx.state_dir = os.path.join(ctx.run_dir, "state", tag)
    os.makedirs(ctx.state_dir)


def setup(ctx: Context, workload, tag: str, event_log: bool) -> float:
    """Session start plus the workload's discarded warm-up pass."""
    fresh_state(ctx, tag)
    t0 = time.perf_counter()
    start_session(ctx, tag, event_log)
    workload.start(ctx)
    return time.perf_counter() - t0


def measure(ctx: Context, workload, seconds: float) -> Dict[str, Any]:
    """Run as many whole cycles as fit in ``seconds`` at the workload's
    nominal cycle time, at least one; return the operation records and
    the loop's wall time."""
    cycles = max(1, math.floor(seconds / workload.cycle_s))
    records: List[Dict[str, Any]] = []
    tracer = ctx.tracer
    t0 = time.perf_counter()
    cycle = 0
    while cycle < cycles and (cycle == 0 or time.perf_counter() - t0 < 2 * seconds):
        for op in workload.cycle(ctx, cycle):
            rec = {"i": len(records), "cycle": cycle,
                   "kind": op.kind, "name": op.name, "rows": op.rows,
                   "ok": True}
            tracer.op_id = rec["i"]
            result = None
            rec["start"] = time.time()
            s = time.perf_counter()
            try:
                with tracer.span("op." + op.name):
                    result = op.fn()
            except Exception as exc:  # a failed op counts; the loop goes on
                rec["ok"] = False
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            rec["latency_s"] = time.perf_counter() - s
            rec["end"] = time.time()
            tracer.op_id = None
            if rec["ok"] and op.check is not None:
                try:
                    rec["ok"] = bool(op.check(result))
                except Exception as exc:
                    rec["ok"] = False
                    rec["error"] = f"check {type(exc).__name__}: {str(exc)[:300]}"
                if not rec["ok"] and "error" not in rec:
                    rec["error"] = "output check failed"
            records.append(rec)
        cycle += 1
    return {"records": records, "wall_s": time.perf_counter() - t0,
            "cycles": cycle}


# -- statistics -----------------------------------------------------------

def percentile(values: List[float], p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(v)))
    return v[k - 1]


def tail(values: List[float]):
    """(value, percentile): the highest TAIL_GRID percentile that has at
    least TAIL_BEYOND samples above its rank, else the highest with at
    least one, else the maximum."""
    n = len(values)
    beyond = {p: n - max(1, math.ceil(p / 100.0 * n)) for p in TAIL_GRID}
    best = ([p for p in TAIL_GRID if beyond[p] >= TAIL_BEYOND]
            or [p for p in TAIL_GRID if beyond[p] >= 1] or [100])[-1]
    return percentile(values, best), best


def kind_p50(records: List[Dict[str, Any]]) -> float:
    """Median latency of each operation kind (record name), combined
    over the kinds by geometric mean. A pooled median of a few samples
    from kinds of different cost lands on whichever kind sits in the
    middle of that run; this weighs every kind the same in every run,
    and a gain on any kind moves it."""
    by_name: Dict[str, List[float]] = {}
    for r in records:
        by_name.setdefault(r["name"], []).append(r["latency_s"])
    return math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in by_name.values()))


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the JVM it drives."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def load_avg() -> List[float]:
    return [round(x, 2) for x in os.getloadavg()]


# -- the two kinds of run ---------------------------------------------------

def run_untraced(ctx: Context, workload, seconds: float) -> Dict[str, Any]:
    setup_s = setup(ctx, workload, "run", event_log=False)
    m = measure(ctx, workload, seconds)
    workload.verify(ctx, m["records"])
    recs = m["records"]
    ops = [r for r in recs if r["kind"] == "op"]
    reads = [r for r in recs if r["kind"] == "read"]
    op_tail, op_p = tail([r["latency_s"] for r in ops])
    read_tail, read_p = tail([r["latency_s"] for r in reads])
    stored, applied = workload.stored_bytes(ctx)
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (sum(r["rows"] for r in recs) / m["wall_s"], "1/s"),
        "op_p50_s": (kind_p50(ops), "s"),
        "op_tail_s": (op_tail, "s"),
        "read_p50_s": (kind_p50(reads), "s"),
        "read_tail_s": (read_tail, "s"),
        "peak_rss_mb": (peak_rss_mb(ctx.spark), "MB"),
        "stored_bytes_per_input_byte": (stored / applied, "ratio"),
    }
    by_name: Dict[str, List[float]] = {}
    for r in recs:
        by_name.setdefault(r["name"], []).append(r["latency_s"])
    info = {
        "p50_by_op_s": {k: round(statistics.median(v), 4) for k, v in by_name.items()},
        "ops": len(ops), "reads": len(reads), "cycles": m["cycles"],
        "op_tail_percentile": op_p, "read_tail_percentile": read_p,
        "wall_s": m["wall_s"],
        "stored_bytes": stored, "applied_bytes": applied,
    }
    return {"metrics": metrics, "records": recs, "info": info}


def run_traced(ctx: Context, workload, seconds: float) -> Dict[str, Any]:
    from perfbench import eventlog, layers

    setup(ctx, workload, "traced", event_log=True)
    tracer = ctx.tracer
    tracer.cost_s = 0.0  # the warm-up's spans belong to no operation
    traced = measure(ctx, workload, seconds)
    tracer.enabled = False
    records = traced["records"]
    workload.verify(ctx, records)
    layer_extra = workload.layer_metrics(ctx)
    ctx.spark.stop()  # flushes and closes the event log
    spans = [s for s in tracer.spans if s["op"] is not None]
    groups = eventlog.per_group(
        eventlog.parse(eventlog.read_events(os.path.join(ctx.run_dir, "eventlog")))
    )
    by_op = eventlog.per_op(groups, spans, records)
    # overhead: traced wall time over the same minus the tracer's own time
    wall = sum(r["latency_s"] for r in records)
    metrics = layers.compute(spans, records, by_op, layer_extra)
    metrics["session.start_s"] = (ctx.session_start_s, "s")
    metrics["trace.overhead_ratio"] = (wall / (wall - tracer.cost_s), "ratio")
    info = {"traced_ops": len(records), "spans": len(spans),
            "trace_cost_s": tracer.cost_s}
    return {"metrics": metrics, "tracer": tracer, "records": records, "info": info}


def result_line(metrics: Dict[str, Any], records: List[Dict[str, Any]]) -> str:
    failed = sum(1 for r in records if not r["ok"])
    return json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
