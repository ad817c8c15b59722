"""Smoke tests of the benchmark at a tiny input size.

Every workload runs end to end through the CLI and prints every metric
of BENCHMARK.json with its unit; a deliberately corrupted output is
caught by the workload's check; and without the program beside it the
command fails without printing a result. Each CLI run starts a JVM, so
the file takes a few minutes.
"""

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, harness  # noqa: E402

SCALE = 0.02
#: per-layer times that must be measured (not 0) on each workload
LAYERS = {
    "etl_pipelines": ("sources.read_s", "operators.transform_s", "operators.validate_s",
                      "plans.run_self_s", "sinks.writers.write_s", "sinks.writers.upsert_s"),
    "lake_cdc": ("sinks.writers.upsert_s", "sinks.acid.merge_s", "sinks.acid.read_s",
                 "sinks.acid.point_lookup_s", "sinks.matview.update_s",
                 "functions.dedup_index.emb_add_batch_s"),
    "curation_index": ("sinks.acid.write_s", "functions.dedup_index.emb_add_batch_s"),
}
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _cli(workload, trace, cwd=ROOT, seconds=1):
    # the session factory exports the program's root on PYTHONPATH for
    # its workers; a CLI run must find the program through its checkout
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", str(seconds), "--trace", str(trace), "--scale", str(SCALE)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace", [
    ("etl_pipelines", 0), ("lake_cdc", 0), ("curation_index", 0),
    ("etl_pipelines", 1), ("lake_cdc", 1), ("curation_index", 1),
])
def test_every_metric_printed_with_its_unit(workload, trace):
    p = _cli(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1 and 0 <= out["failed"] <= out["attempted"]
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    if trace:
        assert all(out["metrics"][k]["value"] > 0 for k in LAYERS[workload])
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    context = json.loads(p.stdout.strip().splitlines()[0])
    assert context["cores"] >= 1 and len(context["load_avg_end"]) == 3


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _cli("etl_pipelines", 0, cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _context(tmp_path, workload):
    ctx = harness.Context(
        run_dir=str(tmp_path),
        inputs=gen.cached(str(tmp_path / "cache"), workload.name, 3,
                          workload.build_inputs))
    harness.setup(ctx, workload, "t", event_log=False)
    return ctx


def test_corrupted_etl_output_is_caught(tmp_path):
    from perfbench.wl_etl import EtlPipelines

    wl = EtlPipelines(3, SCALE)
    ctx = _context(tmp_path, wl)
    m = harness.measure(ctx, wl, wl.cycle_s)
    wl.verify(ctx, m["records"])
    assert all(r["ok"] for r in m["records"])
    for r in m["records"]:
        r["ok"] = True
    got = wl.log[0]["got"]
    got.loc[0, "n"] = got.loc[0, "n"] + 1   # one persisted count off by one
    wl.verify(ctx, m["records"])
    assert not m["records"][0]["ok"]
    assert all(r["ok"] for r in m["records"][1:])


def test_corrupted_lake_table_is_caught(tmp_path):
    from perfbench.wl_lake import LakeCdc

    wl = LakeCdc(3, SCALE)
    ctx = _context(tmp_path, wl)
    harness.measure(ctx, wl, wl.cycle_s)   # applies batch 1
    scan = next(op for op in wl._ops(ctx, 1) if op.name == "upsert_scan")
    assert scan.check(scan.fn())
    table = wl.bw._table_path("orders")
    part = next(f for f in sorted(os.listdir(table)) if f.endswith(".parquet"))
    frame = pq.read_table(os.path.join(table, part)).to_pandas()
    live = frame.index[~frame["deleted"]][0]
    frame.loc[live, "o_totalprice"] += 1
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                   os.path.join(table, part))
    crc = os.path.join(table, f".{part}.crc")   # the local FS checksum
    if os.path.exists(crc):
        os.remove(crc)
    ctx.spark.catalog.clearCache()
    assert not scan.check(scan.fn())


def test_corrupted_search_result_is_caught():
    import numpy as np

    from perfbench.wl_curation import CurationIndex

    wl = CurationIndex(3, SCALE)
    r = np.random.default_rng(0)
    wl.vectors = {i: r.normal(size=64) for i in range(5)}

    def cos(a, b):
        va, vb = wl.vectors[a], wl.vectors[b]
        return round(float(va @ vb / np.linalg.norm(va) / np.linalg.norm(vb)), 6)

    rows = sorted(({"vec_id": i, "cosine": cos(0, i)} for i in range(1, 5)),
                  key=lambda x: -x["cosine"])
    assert wl._search_check((0, rows))
    bad = [dict(x) for x in rows]
    bad[-1]["cosine"] = round(bad[-1]["cosine"] - 0.01, 6)
    assert not wl._search_check((0, bad))
    assert not wl._search_check((0, rows + [{"vec_id": 0, "cosine": 1.0}]))


def test_lake_inputs_hold_last_wins_conflicts(tmp_path):
    from perfbench.wl_lake import LakeCdc

    wl = LakeCdc(3, SCALE)
    path = gen.cached(str(tmp_path), wl.name, 3, wl.build_inputs)
    ev = pd.read_parquet(os.path.join(path, "all-000.parquet"))
    dup = ev[ev.duplicated("o_orderkey", keep=False) & ~ev["deleted"]]
    assert dup.groupby("o_orderkey")["o_totalprice"].nunique().gt(1).sum() >= 4
    # the merge source holds the same duplicate keys, every copy with
    # the last update's values
    src = pd.read_parquet(os.path.join(path, "src-000.parquet"))
    twice = src[src.duplicated("o_orderkey", keep=False)]
    assert set(twice["o_orderkey"]) == set(dup["o_orderkey"])
    assert twice.groupby("o_orderkey").nunique().le(1).all().all()
    last = dup.drop_duplicates("o_orderkey", keep="last").set_index("o_orderkey")
    first = twice.drop_duplicates("o_orderkey").set_index("o_orderkey")
    assert (first["o_totalprice"] == last.loc[first.index, "o_totalprice"]).all()
    again = gen.cached(str(tmp_path / "again"), wl.name, 3, wl.build_inputs)
    assert gen.load_meta(path) == gen.load_meta(again)
