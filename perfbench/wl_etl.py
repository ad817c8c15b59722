"""``etl_pipelines``: a seeded sequence of ``PipelineRunner.run`` configs.

Why: this is the batch ETL path of the paper, ingest -> transform ->
persist, on an input whose fact table (an 8-copy, key-shifted scaled
sf0.1 ``lineitem``, one file per copy) is larger than the 64 MiB
broadcast threshold, so scans and shuffles dominate and the working set
exceeds the engine's in-memory join side. It drives ``sources``,
``operators`` (SQL, config and code transformers, schema validation),
``plans`` and ``sinks.writers`` with all four write strategies;
``functions`` and ``sinks.acid`` are not used.

Each cycle runs six persisting pipelines (one per template below, with
seeded parameters) and sixteen read-only pipelines over two tables
persisted earlier in the run. Checks: after every pipeline the persisted table is
read back without Spark; at the end each state is compared with the
state DuckDB computes from the same generated inputs, replaying the
write strategies, and each read-only pipeline's row count with DuckDB's.
"""

from __future__ import annotations

import os
from collections import Counter
from typing import Any, Dict, List

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.checks import parquet_files, read_dir, same_rows
from perfbench.harness import Op
from perfbench.trace import Traced

COPIES = 8
#: cut-offs near the middle of the order-date range, so a cycle's
#: parameters change which rows qualify but hardly how many
DATES = ["1995-01-31", "1995-03-31", "1995-05-31", "1995-07-31", "1995-09-30"]
#: customer-key ranges the UPSERT pipeline cycles through
SPEND_RANGES = 6
#: read-only pipelines per cycle over each of the two tables they read
READS = 8


def customer_spend(df, tracer):
    """The code transformer's user function: validate the ingested
    columns against a declared schema, then total spend per customer."""
    from pyspark.sql import functions as F

    from data_pipeline_platform_spark.operators.schema import (
        ColumnSchema,
        SchemaDefinition,
        SchemaValidator,
    )

    schema = SchemaDefinition(name="spend_input", columns=[
        ColumnSchema(name="o_custkey", dtype="bigint"),
        ColumnSchema(name="o_totalprice", dtype="double", default=0.0),
        ColumnSchema(name="o_orderstatus", dtype="string"),
    ])
    with tracer.span("operators.validate"):
        df = SchemaValidator().validate(df, schema)
    return df.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("total"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_filled"),
    )


class EtlPipelines:
    name = "etl_pipelines"
    #: nominal seconds per cycle on an idle 4-core host
    #: (six persisting and sixteen read-only pipelines)
    cycle_s = 7.0

    def __init__(self, seed: int, scale: float):
        self.seed = seed
        self.scale = scale

    # -- inputs ------------------------------------------------------------
    def build_inputs(self, dst: str) -> Dict[str, Any]:
        star = gen.make_star(self.seed, self.scale)
        sizes = gen.write_scaled(star, dst, COPIES)
        rows = {t: star[t].num_rows * (COPIES if gen.SHIFT[t] else 1)
                for t in gen.SHIFT}
        return {"bytes": sizes, "rows": rows,
                "custkeys": star["customer"].num_rows * COPIES}

    # -- pipelines -----------------------------------------------------------
    def _params(self, cycle: int) -> Dict[str, Any]:
        r = np.random.default_rng([self.seed, 17, cycle])
        span = max(1, self.meta["custkeys"] // SPEND_RANGES)
        first = int(np.random.default_rng([self.seed, 19]).integers(0, SPEND_RANGES))
        lo = (first + cycle) % SPEND_RANGES * span
        return {
            "d1": DATES[int(r.integers(0, len(DATES)))],
            "d2": DATES[int(r.integers(0, len(DATES)))],
            "status": ["O", "F", "P"][int(r.integers(0, 3))],
            "price": 470_000,
            "flags": sorted(r.choice(["R", "A", "N"], 2, replace=False).tolist()),
            "disc": float(r.integers(2, 9)) / 100.0,
            "lo": lo, "hi": lo + span,
            "size": int(r.integers(5, 45)),
            "read_price": [int(x) * 10_000 for x in r.integers(46, 50, READS)],
            "read_n": [int(x) for x in r.integers(2, 5, READS)],
        }

    def _pipelines(self, data: str, p: Dict[str, Any]) -> List[Dict[str, Any]]:
        """(table, strategy, keys, config, DuckDB SQL of the output, rows in)."""
        rows = self.meta["rows"]
        li, od = f"{data}/lineitem", f"{data}/orders"
        flags = ", ".join(f"'{f}'" for f in p["flags"])
        return [
            dict(table="rev_by_flag", strategy="insert", rows=rows["lineitem"], config={
                "ingestion": {"path": li},
                "transformation": {"type": "sql", "query": (
                    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                    "sum(l_extendedprice * (1 - l_discount)) AS revenue, "
                    "count(*) AS n FROM input_data "
                    f"WHERE l_shipdate <= TIMESTAMP '{p['d1']} 00:00:00' GROUP BY 1, 2")}},
                duck=(
                    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                    "sum(l_extendedprice * (1 - l_discount)) AS revenue, "
                    f"count(*) AS n FROM {_glob(li)} "
                    f"WHERE l_shipdate <= TIMESTAMP '{p['d1']} 00:00:00' GROUP BY 1, 2")),
            dict(table="lines_by_priority", strategy="replace",
                 rows=rows["lineitem"] + rows["orders"], config={
                "ingestion": {"query": (
                    "SELECT o_orderpriority, year(o_orderdate) AS y, l_orderkey, "
                    "l_extendedprice FROM orders LEFT JOIN lineitem "
                    "ON o_orderkey = l_orderkey "
                    f"AND l_shipdate > TIMESTAMP '{p['d2']} 00:00:00'")},
                "transformation": {"type": "sql", "query": (
                    "SELECT o_orderpriority, y, count(l_orderkey) AS n_lines, "
                    "sum(l_extendedprice) AS rev FROM input_data GROUP BY 1, 2")}},
                duck=(
                    "SELECT o_orderpriority, year(o_orderdate) AS y, "
                    "count(l_orderkey) AS n_lines, sum(l_extendedprice) AS rev "
                    f"FROM {_glob(od)} LEFT JOIN {_glob(li)} ON o_orderkey = l_orderkey "
                    f"AND l_shipdate > TIMESTAMP '{p['d2']} 00:00:00' GROUP BY 1, 2")),
            dict(table="big_orders", strategy="append", rows=rows["orders"], config={
                "ingestion": {"path": od},
                "transformation": {"type": "config", "config": {
                    "select": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
                    "filter": {"o_orderstatus": p["status"],
                               "o_totalprice": {">": p["price"]}},
                    "add_columns": {"price_k": "o_totalprice / 1000"}}}},
                duck=(
                    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                    f"o_totalprice / 1000 AS price_k FROM {_glob(od)} "
                    f"WHERE o_orderstatus = '{p['status']}' AND o_totalprice > {p['price']}")),
            dict(table="qty_by_status", strategy="replace", rows=rows["lineitem"], config={
                "ingestion": {"path": li},
                "transformation": {"type": "config", "config": {
                    "filter": {"l_returnflag": {"in": p["flags"]},
                               "l_discount": {"<=": p["disc"]}},
                    "aggregations": {"group_by": ["l_returnflag", "l_linestatus"],
                                     "aggregations": {"q": "sum(l_quantity)",
                                                      "c": "count(*)",
                                                      "p": "avg(l_extendedprice)"}}}}},
                duck=(
                    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS l_quantity_sum, "
                    "count(*) AS count, avg(l_extendedprice) AS l_extendedprice_avg "
                    f"FROM {_glob(li)} WHERE l_returnflag IN ({flags}) "
                    f"AND l_discount <= {p['disc']} GROUP BY 1, 2")),
            dict(table="customer_spend", strategy="upsert", keys=["o_custkey"],
                 rows=rows["orders"], config={
                "ingestion": {"query": (
                    "SELECT o_custkey, o_totalprice, o_orderstatus FROM orders "
                    "WHERE o_custkey >= :lo AND o_custkey < :hi"),
                    "parameters": {"lo": p["lo"], "hi": p["hi"]}},
                "transformation": {"type": "code", "function": customer_spend,
                                   "kwargs": {"tracer": None}}},
                duck=(
                    "SELECT o_custkey, sum(o_totalprice) AS total, count(*) AS n, "
                    "CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) "
                    "AS n_filled "
                    f"FROM {_glob(od)} WHERE o_custkey >= {p['lo']} "
                    f"AND o_custkey < {p['hi']} GROUP BY 1")),
            dict(table="qty_by_brand", strategy="append",
                 rows=rows["lineitem"] + rows["part"], config={
                "ingestion": {"query": (
                    "SELECT p_brand, l_quantity FROM lineitem JOIN part "
                    f"ON l_partkey = p_partkey WHERE p_size = {p['size']}")},
                "transformation": {"type": "sql", "query": (
                    "SELECT p_brand, sum(l_quantity) AS qty, count(*) AS n "
                    "FROM input_data GROUP BY p_brand")}},
                duck=(
                    "SELECT p_brand, sum(l_quantity) AS qty, count(*) AS n "
                    f"FROM {_glob(li)} JOIN {_glob(data + '/part')} "
                    f"ON l_partkey = p_partkey WHERE p_size = {p['size']} GROUP BY p_brand")),
        ]

    # -- set-up --------------------------------------------------------------
    def _register(self, spark, data: str, one_copy: bool) -> None:
        for t in ("lineitem", "orders", "part"):
            path = f"{data}/{t}/part-000.parquet" if one_copy else f"{data}/{t}"
            spark.read.parquet(path).createOrReplaceTempView(t)

    def _runner(self, ctx, base: str):
        from data_pipeline_platform_spark.plans.runner import PipelineRunner
        from data_pipeline_platform_spark.sinks.writers import BatchWriter

        tr = ctx.tracer
        writer = BatchWriter(ctx.spark, base)
        runner = PipelineRunner(ctx.spark, writer=writer)
        runner.ingestor = Traced(runner.ingestor, tr, {
            "ingest": "sources.read", "read_parquet": "sources.read"})
        for attr in ("sql_transformer", "config_transformer", "code_transformer"):
            setattr(runner, attr, Traced(getattr(runner, attr), tr,
                                         {"transform": "operators.transform"}))
        runner.writer = Traced(writer, tr, {"write": "sinks.writers.write"},
                               hook=self._write_hook(writer, tr))
        return runner

    @staticmethod
    def _write_hook(writer, tracer):
        def hook(attr, rec, args, kwargs):
            path = writer._table_path(args[1] if len(args) > 1 else kwargs["table"],
                                      kwargs.get("schema"))
            strategy = kwargs.get("strategy", args[2] if len(args) > 2 else None)
            rec["strategy"] = getattr(strategy, "value", "insert")
            return tracer.files_written(path, rec)
        return hook

    def start(self, ctx) -> None:
        """Warm-up: every template once over one copy of the data, into a
        throwaway warehouse; then the views over the full scaled input."""
        self.meta = gen.load_meta(ctx.inputs)
        spark = ctx.spark
        self._register(spark, ctx.inputs, one_copy=True)
        warm = self._runner(ctx, os.path.join(ctx.state_dir, "warmup"))
        one = os.path.join(ctx.state_dir, "one-copy")
        for t in ("lineitem", "orders", "part"):
            os.makedirs(f"{one}/{t}")
            os.symlink(f"{ctx.inputs}/{t}/part-000.parquet", f"{one}/{t}/part-000.parquet")
        for pipe in self._pipelines(one, self._params(0)):
            res = warm.run(self._config(pipe, ctx))
            if res["status"] != "success":
                raise RuntimeError(f"warm-up pipeline {pipe['table']}: {res['error']}")
        self._register(spark, ctx.inputs, one_copy=False)
        self.base = os.path.join(ctx.state_dir, "warehouse")
        self.runner = self._runner(ctx, self.base)
        self.log: List[Dict[str, Any]] = []   # persisted writes and reads, in order
        self.table_rows: Dict[str, int] = {}

    @staticmethod
    def _config(pipe, ctx) -> Dict[str, Any]:
        cfg = dict(pipe["config"])
        tfm = dict(cfg["transformation"])
        if tfm["type"] == "code":
            tfm["kwargs"] = {"tracer": ctx.tracer}
        cfg["transformation"] = tfm
        persist = {"table": pipe["table"], "strategy": pipe["strategy"]}
        if pipe.get("keys"):
            persist["upsert_keys"] = pipe["keys"]
        cfg["persistence"] = persist
        return cfg

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.base, "default", table)

    # -- one cycle -----------------------------------------------------------
    def cycle(self, ctx, i: int):
        p = self._params(i)
        for pipe in self._pipelines(ctx.inputs, p):
            yield self._write_op(ctx, i, pipe)
            if pipe["table"] == "big_orders":
                for k, price in enumerate(p["read_price"]):
                    yield self._read_op(ctx, i, k, "read_big_orders", "big_orders", {
                        "ingestion": {"path": self._table_dir("big_orders")},
                        "transformation": {"type": "config", "config": {
                            "filter": {"o_totalprice": {">": price}}}}},
                        f"o_totalprice > {price}")
            if pipe["table"] == "customer_spend":
                for k, n in enumerate(p["read_n"]):
                    yield self._read_op(ctx, i, k, "read_customer_spend", "customer_spend", {
                        "ingestion": {"path": self._table_dir("customer_spend")},
                        "transformation": {"type": "sql", "query": (
                            "SELECT o_custkey FROM input_data WHERE n >= :n"),
                            "parameters": {"n": n}}},
                        f"n >= {n}")

    def _run(self, ctx, cfg):
        with ctx.tracer.span("plans.run") as rec:
            res = self.runner.run(cfg)
            rec["rows_out"] = res.get("row_count") or 0
        if res["status"] != "success":
            raise RuntimeError(res["error"])
        return res

    def _write_op(self, ctx, cycle, pipe) -> Op:
        name = "pipeline." + pipe["table"]
        entry = {"op": (cycle, name, 0), "kind": "write", "table": pipe["table"],
                 "strategy": pipe["strategy"], "keys": pipe.get("keys"),
                 "duck": pipe["duck"]}

        def check(res) -> bool:
            got = read_dir(self._table_dir(pipe["table"]))
            self.table_rows[pipe["table"]] = len(got)
            entry["got"] = got
            self.log.append(entry)
            return True  # compared with DuckDB in verify()

        return Op("op", name, lambda: self._run(ctx, self._config(pipe, ctx)),
                  rows=pipe["rows"], check=check)

    def _read_op(self, ctx, cycle, k, name, table, cfg, where) -> Op:
        name = "pipeline." + name
        entry = {"op": (cycle, name, k), "kind": "read", "table": table, "where": where}

        def check(res) -> bool:
            entry["got"] = res["row_count"]
            self.log.append(entry)
            return True

        return Op("read", name, lambda: self._run(ctx, cfg),
                  rows=self.table_rows.get(table, 0), check=check)

    # -- checks ----------------------------------------------------------------
    def verify(self, ctx, records) -> None:
        """Replay the log in DuckDB: each persisted state must equal the
        expected state after that write; each read-only pipeline must
        count what DuckDB counts over the expected state it read."""
        import duckdb

        con = duckdb.connect()
        outputs: Dict[str, pd.DataFrame] = {}
        state: Dict[str, pd.DataFrame] = {}
        # an operation is its cycle, its name and its place among the
        # operations of that name in the cycle
        by_op, seen = {}, Counter()
        for r in records:
            key = (r["cycle"], r["name"])
            by_op[key + (seen[key],)] = r
            seen[key] += 1
        for entry in self.log:
            rec = by_op[entry["op"]]
            t = entry["table"]
            if entry["kind"] == "write":
                if entry["duck"] not in outputs:
                    outputs[entry["duck"]] = con.execute(entry["duck"]).df()
                out = outputs[entry["duck"]]
                prev = state.get(t)
                if entry["strategy"] == "replace" or prev is None:
                    new = out
                else:
                    new = pd.concat([prev, out], ignore_index=True)
                    if entry["strategy"] == "upsert":
                        new = new.drop_duplicates(entry["keys"], keep="last")
                state[t] = new.reset_index(drop=True)
                ok = same_rows(entry["got"], state[t])
            else:
                want = state.get(t)
                con.register("expected", want)
                n = con.execute(
                    f"SELECT count(*) FROM expected WHERE {entry['where']}"
                ).fetchone()[0]
                con.unregister("expected")
                ok = n == entry["got"]
            if not ok:
                rec["ok"] = False
                rec["error"] = "output differs from DuckDB"
        con.close()

    def stored_bytes(self, ctx):
        stored = sum(os.path.getsize(f) for t in self.table_rows
                     for f in parquet_files(self._table_dir(t)))
        applied = sum(self.meta["bytes"][t] for t in ("lineitem", "orders", "part"))
        return stored, applied

    def layer_metrics(self, ctx) -> Dict[str, float]:
        return {}


def _glob(path: str) -> str:
    return f"read_parquet('{path}/*.parquet') AS {os.path.basename(path)}"

