"""Per-layer metrics of the traced run, computed from its spans and the
event-log counters of each operation.

Every layer metric is a mean: times are seconds per call of the
layer's public function (``*_s``), counts are per call or per
operation as named. A layer that a workload never calls reports 0.
"""

from __future__ import annotations

from typing import Any, Dict, List

from perfbench.trace import inclusive_jobs, self_times

#: layer metric -> unit, in report order (BENCHMARK.json lists the same)
UNITS = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "sources.rows_read_per_row_out": "ratio",
    "operators.transform_s": "s",
    "operators.validate_s": "s",
    "plans.run_self_s": "s",
    "plans.jobs_per_run": "count",
    "sinks.writers.write_s": "s",
    "sinks.writers.upsert_s": "s",
    "sinks.writers.files_written": "count",
    "sinks.writers.bytes_written_per_input_byte": "ratio",
    "sinks.acid.merge_s": "s",
    "sinks.acid.write_s": "s",
    "sinks.acid.read_s": "s",
    "sinks.acid.point_lookup_s": "s",
    "sinks.acid.jobs_per_commit": "count",
    "sinks.acid.bytes_rewritten_per_input_byte": "ratio",
    "sinks.acid.live_files": "count",
    "sinks.acid.files_scanned_per_lookup": "count",
    "sinks.matview.update_s": "s",
    "sinks.matview.jobs_per_update": "count",
    "functions.dedup_index.emb_add_batch_s": "s",
    "functions.dedup_index.jobs_per_batch": "count",
    "functions.dedup_index.new_pairs": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.no_task_s": "s",
    "trace.overhead_ratio": "ratio",
}

_DEDUP = "functions.dedup_index."


def _mean(xs: List[float]) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def compute(spans: List[Dict[str, Any]], records: List[Dict[str, Any]],
            by_op: Dict[int, Dict[str, Any]],
            extra: Dict[str, float]) -> Dict[str, Any]:
    named: Dict[str, List[Dict[str, Any]]] = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)
    selfs = self_times(spans)
    jobs = inclusive_jobs(spans)

    def of(*names):
        return [s for n in names for s in named.get(n, [])]

    def dur(*names):
        return _mean(s["end"] - s["start"] for s in of(*names))

    def njobs(*names):
        return _mean(len(jobs[s["id"]]) for s in of(*names))

    def bytes_in(s):
        # user bytes when the workload knows them, else what the
        # operation read, from the event log
        if "user_bytes" in s:
            return s["user_bytes"]
        return by_op.get(s["op"], {}).get("input_bytes", 0)

    m: Dict[str, float] = {}
    src_ops = sorted({s["op"] for s in of("sources.read")})
    m["sources.read_s"] = dur("sources.read")
    m["sources.input_rows"] = _mean(by_op[o]["input_rows"] for o in src_ops)
    m["sources.input_bytes"] = _mean(by_op[o]["input_bytes"] for o in src_ops)
    runs = of("plans.run")
    m["sources.rows_read_per_row_out"] = _ratio(
        sum(by_op[o]["input_rows"] for o in src_ops),
        sum(s.get("rows_out", 0) for s in runs),
    )
    m["operators.transform_s"] = dur("operators.transform")
    m["operators.validate_s"] = dur("operators.validate")
    m["plans.run_self_s"] = _mean(selfs[s["id"]] for s in runs)
    m["plans.jobs_per_run"] = njobs("plans.run")

    writes = of("sinks.writers.write")
    m["sinks.writers.write_s"] = dur("sinks.writers.write")
    m["sinks.writers.upsert_s"] = _mean(
        s["end"] - s["start"] for s in writes if s.get("strategy") == "upsert"
    )
    m["sinks.writers.files_written"] = _mean(s.get("files_written", 0) for s in writes)
    m["sinks.writers.bytes_written_per_input_byte"] = _ratio(
        sum(s.get("bytes_written", 0) for s in writes),
        sum(bytes_in(s) for s in writes),
    )

    merges = of("sinks.acid.merge")
    m["sinks.acid.merge_s"] = dur("sinks.acid.merge")
    m["sinks.acid.write_s"] = dur("sinks.acid.write")
    m["sinks.acid.read_s"] = dur("sinks.acid.read")
    m["sinks.acid.point_lookup_s"] = dur("sinks.acid.point_lookup")
    m["sinks.acid.jobs_per_commit"] = njobs("sinks.acid.write", "sinks.acid.merge")
    m["sinks.acid.bytes_rewritten_per_input_byte"] = _ratio(
        sum(s.get("bytes_written", 0) for s in merges),
        sum(bytes_in(s) for s in merges),
    )
    m["sinks.acid.live_files"] = extra.get("sinks.acid.live_files", 0)
    m["sinks.acid.files_scanned_per_lookup"] = _mean(
        s.get("files_scanned", 0) for s in of("sinks.acid.point_lookup")
    )
    m["sinks.matview.update_s"] = dur("sinks.matview.update")
    m["sinks.matview.jobs_per_update"] = njobs("sinks.matview.update")

    m[_DEDUP + "emb_add_batch_s"] = dur(_DEDUP + "emb_add_batch")
    # the LSH and ANN indexes' batches (curation_index only) count too
    adds = (_DEDUP + "lsh_add_batch", _DEDUP + "emb_add_batch",
            _DEDUP + "ann_add_batch")
    m[_DEDUP + "jobs_per_batch"] = njobs(*adds)
    m[_DEDUP + "new_pairs"] = _mean(
        s["new_pairs"] for s in of(*adds) if "new_pairs" in s
    )

    ops = [by_op[r["i"]] for r in records if r["i"] in by_op]
    for k, src in (("spark.jobs", "jobs"), ("spark.tasks", "tasks"),
                   ("spark.executor_run_s", "executor_run_s"),
                   ("spark.executor_cpu_s", "executor_cpu_s"),
                   ("spark.shuffle_bytes", "shuffle_bytes"),
                   ("spark.spill_bytes", "spill_bytes"),
                   ("spark.no_task_s", "no_task_s")):
        m[k] = _mean(o.get(src, 0) for o in ops)
    return {k: (v, UNITS[k]) for k, v in m.items()}
