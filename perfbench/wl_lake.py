"""``lake_cdc``: seeded CDC batches applied to lake tables.

Why: each batch is small (2000 events over the sf0.1 ``orders`` keys),
so driver-side commits and job dispatch dominate, not data volume.
Every batch goes to two tables that must end in the same state: one
through ``BatchWriter.write(UPSERT)`` (stage-and-swap, rewrites the
whole table; deletes are tombstone rows) and one through
``AcidTable.merge`` with ``delete_keys`` (copy-on-write, rewrites only
the touched files of a 16-file range-clustered table). Inserts are
folded into a ``MaterializedAgg`` that starts empty. Point lookups and
full reads of both tables and a read of the view are interleaved with
the writes, so a write-side gain that costs reads (small files, for
example) shows.

Events skew toward recent keys. Every batch holds ``CONFLICTS`` keys
with two updates. In the UPSERT table's batch the two carry different
values, and the expected state the generator holds is the last-wins
outcome ``BatchWriter`` promises. The merge source holds the same
duplicate keys, but each copy of a key carries the values of its last
update: ``AcidTable.merge`` collapses in-batch duplicates with
``dropDuplicates``, which keeps an arbitrary row (ROADMAP open item 2),
and a workload whose checks fail on every run cannot serve as a
benchmark. The merge still collapses the same number of duplicates, so
its work is unchanged. Every read is checked against the expected
state.

Each read runs ``READS`` times per batch: a run holds one cycle, and
the median of two reads of a kind is steadier than one.

Each cycle also adds one batch of the ``curation_index`` workload to
its embedding index, so the ``functions`` layer is measured within the
benchmark's run budget: an index batch is an append-only ACID commit,
dispatch-bound like the rest of this workload. It is checked as in
``curation_index``. The LSH and ANN indexes are left to
``curation_index``: with their warm-up batches (and the ANN index's
quantizer training) a run of this workload would no longer fit the
budget.
"""

from __future__ import annotations

import dataclasses
import json
import os
from typing import Any, Dict, List

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.checks import parquet_files
from perfbench.harness import Op
from perfbench.wl_curation import CurationIndex

BATCHES = 24
EVENTS = 2000
INSERTS = 300
DELETES = 100
CONFLICTS = 40
LOOKUPS = 24
READS = 2
FILES = 16
_P = 1_000_003
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


def fingerprint(keys: np.ndarray, prices: np.ndarray) -> List[int]:
    k = keys.astype(np.int64)
    p = prices.astype(np.int64)
    return [int(len(k)), int(k.sum()), int(p.sum()), int(((k * 31 + p) % _P).sum())]


def _spark_fingerprint(df):
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)), F.sum("o_orderkey"), F.sum("o_totalprice"),
        F.sum(F.pmod(F.col("o_orderkey") * 31 + F.col("o_totalprice"), F.lit(_P))),
    ).collect()[0]
    return [int(x or 0) for x in row]


class LakeCdc:
    name = "lake_cdc"
    #: nominal seconds per cycle on an idle 4-core host
    #: (one CDC batch applied three ways, ten reads, one index batch)
    cycle_s = 15.0

    def __init__(self, seed: int, scale: float):
        self.seed = seed
        self.scale = scale
        self.index = CurationIndex(seed, scale, indexes=("emb",))

    # -- inputs ----------------------------------------------------------------
    def build_inputs(self, dst: str) -> Dict[str, Any]:
        star = gen.make_star(self.seed, self.scale)
        o = star["orders"].select(COLS[:3] + ["o_totalprice", "o_orderpriority"]).to_pandas()
        o["o_totalprice"] = np.round(o["o_totalprice"] * 100).astype(np.int64)
        n0 = len(o)
        events_n = max(40, int(EVENTS * min(1.0, self.scale * 10)))
        r = np.random.default_rng([self.seed, 23])
        state = {int(k): row for k, row in zip(o["o_orderkey"], o[COLS].itertuples(index=False))}
        fp = fingerprint(o["o_orderkey"].to_numpy(), o["o_totalprice"].to_numpy())

        def account(row, sign):
            k, p = int(row.o_orderkey), int(row.o_totalprice)
            fp[0] += sign
            fp[1] += sign * k
            fp[2] += sign * p
            fp[3] += sign * ((k * 31 + p) % _P)

        live = np.ones(n0 + BATCHES * events_n, bool)
        live[n0:] = False
        hi = n0
        prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
        stats = ["O", "F", "P"]
        base = o.assign(deleted=False)
        pq.write_table(pa.Table.from_pandas(base, preserve_index=False),
                       os.path.join(dst, "base.parquet"))
        mv_state: Dict[str, List[int]] = {}   # the view holds the inserts only
        meta = {"base_bytes": os.path.getsize(os.path.join(dst, "base.parquet")),
                "base_rows": n0, "batches": []}

        def recent(n):
            out = []
            while len(out) < n:
                k = hi - 1 - np.floor(r.exponential(hi * 0.04, 4 * n)).astype(np.int64)
                k = k[(k >= 0) & live[np.clip(k, 0, None)]]
                out.extend(int(x) for x in k)
                out = list(dict.fromkeys(out))
            return out[:n]

        for b in range(BATCHES):
            n_ins = max(2, events_n * INSERTS // EVENTS)
            n_del = max(2, events_n * DELETES // EVENTS)
            n_conf = max(4, events_n * CONFLICTS // EVENTS)
            n_upd = events_n - n_ins - n_del - n_conf
            touched = recent(n_upd + n_del)
            upd, dele = touched[:n_upd], touched[n_upd:]
            ins = list(range(hi, hi + n_ins))
            conf = upd[:n_conf]
            ev_keys = np.array(upd + conf + dele + ins, np.int64)
            ev_op = np.array(["U"] * (n_upd + n_conf) + ["D"] * n_del + ["I"] * n_ins)
            order = r.permutation(len(ev_keys))
            ev_keys, ev_op = ev_keys[order], ev_op[order]
            m = len(ev_keys)
            ev = pd.DataFrame({
                "o_orderkey": ev_keys,
                "o_custkey": r.integers(0, 15_000, m).astype(np.int64),
                "o_orderstatus": np.array(stats)[r.integers(0, 3, m)],
                "o_totalprice": r.integers(85_000, 50_000_000, m).astype(np.int64),
                "o_orderpriority": prios[r.integers(0, 5, m)],
                "deleted": ev_op == "D",
            })
            for row, op in zip(ev[COLS].itertuples(index=False), ev_op):
                old = state.pop(int(row.o_orderkey), None)
                if old is not None:
                    account(old, -1)
                if op != "D":
                    state[int(row.o_orderkey)] = row
                    account(row, 1)
            last = ev.drop_duplicates("o_orderkey", keep="last")
            gone = set(last.loc[last["deleted"], "o_orderkey"].tolist())
            src = ev[~ev["deleted"] & ~ev["o_orderkey"].isin(gone)][COLS]
            # every copy of a duplicate key carries its last update's values
            src = src[["o_orderkey"]].merge(
                src.drop_duplicates("o_orderkey", keep="last"), on="o_orderkey", how="left")
            inserted = ev[ev_op == "I"][COLS]
            for p, c, s in zip(inserted["o_orderpriority"], [1] * len(inserted),
                               inserted["o_totalprice"]):
                mv_state.setdefault(p, [0, 0])
                mv_state[p][0] += c
                mv_state[p][1] += int(s)
            files = {}
            for kind, frame in (("all", ev), ("src", src),
                                ("del", pd.DataFrame({"o_orderkey": sorted(gone)}, dtype=np.int64)),
                                ("ins", inserted)):
                path = os.path.join(dst, f"{kind}-{b:03d}.parquet")
                pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)
                files[kind] = os.path.getsize(path)
            for k in dele:
                live[k] = False
            for k in ins:
                live[k] = True
            hi += n_ins
            look = list(dict.fromkeys(conf[: LOOKUPS // 2] + dele[: LOOKUPS // 4]
                                      + ins[: LOOKUPS // 4]))
            meta["batches"].append({
                "events": m, "inserts": int(len(inserted)), "bytes": files,
                "lookup": look,
                "expect_lookup": {str(k): int(state[k].o_totalprice) for k in look if k in state},
                "fingerprint": list(fp),
                "matview": {p: list(v) for p, v in sorted(mv_state.items())},
            })
        sub = os.path.join(dst, "index")
        os.makedirs(sub)
        with open(os.path.join(sub, "_DONE"), "w") as f:
            json.dump(self.index.build_inputs(sub), f)
        return meta

    # -- set-up ------------------------------------------------------------------
    def start(self, ctx) -> None:
        """Load the base table into the two tables, then apply batch 0
        with one read of each kind, and add index batch 0, as the
        discarded warm-up pass; cycle i applies batch i + 1 and index
        batch i + 1."""
        from data_pipeline_platform_spark.sinks.acid import AcidTable
        from data_pipeline_platform_spark.sinks.matview import MaterializedAgg
        from data_pipeline_platform_spark.sinks.writers import BatchWriter, WriteStrategy

        self.meta = gen.load_meta(ctx.inputs)
        spark = ctx.spark
        base = spark.read.parquet(os.path.join(ctx.inputs, "base.parquet"))
        self.bw = BatchWriter(spark, os.path.join(ctx.state_dir, "upsert"))
        self.bw.write(base, "orders", WriteStrategy.REPLACE)
        self.acid = AcidTable(spark, os.path.join(ctx.state_dir, "merge"))
        self.acid.write(
            base.drop("deleted").repartitionByRange(FILES, "o_orderkey")
            .sortWithinPartitions("o_orderkey"),
            stats_cols=["o_orderkey"], binpack=False,
        )
        self.mv = MaterializedAgg(spark, os.path.join(ctx.state_dir, "view"),
                                  ["o_orderpriority"],
                                  [("n", "count", None), ("total", "sum", "o_totalprice")])
        self.applied = [self.meta["base_bytes"]]
        for op in {op.name: op for op in self._ops(ctx, 0)}.values():
            op.fn()
        self.ictx = dataclasses.replace(
            ctx, inputs=os.path.join(ctx.inputs, "index"),
            state_dir=os.path.join(ctx.state_dir, "index"))
        self.index.start(self.ictx)

    def cycle(self, ctx, i: int):
        if i + 1 >= BATCHES:
            raise RuntimeError(f"lake_cdc generated {BATCHES} batches; raise BATCHES")
        return self._ops(ctx, i + 1) + self.index.cycle(self.ictx, i)

    def _ops(self, ctx, b: int):
        from data_pipeline_platform_spark.sinks.writers import WriteStrategy

        spark, tr = ctx.spark, ctx.tracer
        m = self.meta["batches"][b]
        path = lambda kind: os.path.join(ctx.inputs, f"{kind}-{b:03d}.parquet")  # noqa: E731
        look = [int(k) for k in m["lookup"]]
        want_look = {int(k): v for k, v in m["expect_lookup"].items()}

        def upsert():
            with tr.span("sinks.writers.write", strategy="upsert",
                         user_bytes=m["bytes"]["all"]) as rec:
                with tr.files_written(self.bw._table_path("orders"), rec):
                    out = self.bw.write(spark.read.parquet(path("all")), "orders",
                                        WriteStrategy.UPSERT, upsert_keys=["o_orderkey"])
            self.applied.append(m["bytes"]["all"])
            return out

        def merge():
            user = m["bytes"]["src"] + m["bytes"]["del"]
            with tr.span("sinks.acid.merge", user_bytes=user) as rec:
                if tr.enabled:
                    with tr.probe():
                        before = _live(self.acid)
                out = self.acid.merge(spark.read.parquet(path("src")), ["o_orderkey"],
                                      delete_keys=spark.read.parquet(path("del")))
                if tr.enabled:
                    with tr.probe():
                        rec["bytes_written"] = sum(
                            os.path.getsize(f) for f in _live(self.acid) - before)
            return out

        def view():
            with tr.span("sinks.matview.update"):
                return self.mv.update(spark.read.parquet(path("ins")))

        def upsert_lookup():
            df = self.bw.read_table("orders")
            return df.filter(df.o_orderkey.isin(look) & ~df.deleted).select(
                "o_orderkey", "o_totalprice").collect()

        def acid_lookup():
            with tr.span("sinks.acid.point_lookup") as rec:
                if tr.enabled:
                    with tr.probe():
                        rec["files_scanned"] = len(
                            self.acid.lookup_files("o_orderkey", look)[0])
                return self.acid.point_lookup("o_orderkey", look).select(
                    "o_orderkey", "o_totalprice").collect()

        def acid_scan():
            with tr.span("sinks.acid.read"):
                return _spark_fingerprint(self.acid.read())

        def upsert_scan():
            df = self.bw.read_table("orders")
            return _spark_fingerprint(df.filter(~df.deleted))

        def view_read():
            return self.mv.read().collect()

        def same_lookup(rows):
            return {int(r[0]): int(r[1]) for r in rows} == want_look

        def same_view(rows):
            got = {r["o_orderpriority"]: [int(r["n"]), int(r["total"])] for r in rows}
            return got == m["matview"]

        events, fp = m["events"], m["fingerprint"]
        return [
            Op("op", "upsert", upsert, rows=events),
            *[Op("read", "upsert_lookup", upsert_lookup, check=same_lookup)] * READS,
            Op("op", "merge", merge, rows=events),
            *[Op("read", "merge_lookup", acid_lookup, check=same_lookup)] * READS,
            Op("op", "matview_update", view, rows=m["inserts"]),
            *[Op("read", "matview_read", view_read, check=same_view)] * READS,
            *[Op("read", "merge_scan", acid_scan, rows=fp[0],
                 check=lambda got: got == fp)] * READS,
            *[Op("read", "upsert_scan", upsert_scan, rows=fp[0],
                 check=lambda got: got == fp)] * READS,
        ]

    def verify(self, ctx, records) -> None:
        # every lake read is checked when it returns
        self.index.verify(self.ictx, records)

    def stored_bytes(self, ctx):
        """Bytes of the lake tables and the indexes over the user bytes
        applied to them."""
        stored = (sum(os.path.getsize(f) for f in parquet_files(self.acid.path))
                  + sum(os.path.getsize(f) for f in parquet_files(self.bw._table_path("orders"))))
        istored, iapplied = self.index.stored_bytes(self.ictx)
        return stored + istored, 2 * sum(self.applied) + iapplied

    def layer_metrics(self, ctx) -> Dict[str, float]:
        live = self.index.layer_metrics(self.ictx)["sinks.acid.live_files"]
        return {"sinks.acid.live_files": len(self.acid.snapshot_files()) + live}


def _live(table) -> set:
    """Paths of the table's live data files."""
    return {a["path"] for a in table.snapshot_files()}
