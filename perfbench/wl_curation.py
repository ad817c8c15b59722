"""``curation_index``: arriving batches of documents and embeddings fed to
the incremental curation indexes.

Why: the work is in ``functions`` kernels (MinHash signatures, band
joins, exact verification, IVF assignment and PQ encoding) over
append-only ACID commits; ``sources``, ``operators`` and UPSERT are not
used. Each cycle adds one batch to ``IncrementalLshIndex`` (documents)
and to ``IncrementalEmbeddingIndex`` (embeddings), both with the
bucketed band table, and to ``IncrementalAnnIndex`` with a PQ codebook
trained at set-up; three ``search_adc`` queries are the reads.

Batches are drawn in order from the sf0.1-sized generated tables, with
a stated share of seeded near-duplicates of earlier items
(``DUP_SHARE``). Checks: each search result is re-scored in NumPy; at
the end the union of each index's incremental pairs must equal the
one-shot result DuckDB computes on the concatenated input (the
repository's brute-force Jaccard oracle for documents, its banded
hyperplane oracle for embeddings).
"""

from __future__ import annotations

import os
from typing import Any, Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import Op

BATCHES = 24
DOCS = 200           # documents per batch
VECS = 100           # embeddings per batch
TRAIN = 128          # vectors the IVF/PQ quantizers train on at set-up (8 per cell)
DUP_SHARE = 0.2      # share of each batch that near-duplicates earlier items
SEARCHES = 3         # search_adc reads per cycle
_DEDUP = "functions.dedup_index."


class CurationIndex:
    name = "curation_index"
    #: nominal seconds per cycle on an idle 4-core host
    #: (three index batches, three searches)
    cycle_s = 10.0

    def __init__(self, seed: int, scale: float, indexes=("lsh", "emb", "ann")):
        self.seed = seed
        self.scale = scale
        #: ``lake_cdc`` carries only the embedding index: its run budget
        #: holds one index batch and its warm-up, not the LSH index too
        #: or the ANN index's quantizer training
        self.indexes = indexes

    # -- inputs ----------------------------------------------------------------
    def build_inputs(self, dst: str) -> Dict[str, Any]:
        star = gen.make_star(self.seed, self.scale)
        r = np.random.default_rng([self.seed, 31])
        docs = star["documents"].to_pandas()
        emb = star["embeddings"]
        vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        labels = emb.column("label").to_numpy()
        n_docs = max(4, int(DOCS * min(1.0, self.scale * 10)))
        n_vecs = max(4, int(VECS * min(1.0, self.scale * 10)))
        train = min(TRAIN, len(vecs) // 4)
        pq.write_table(gen.embeddings_table(np.arange(train), vecs[:train].astype(np.float32),
                                            labels[:train]),
                       os.path.join(dst, "train.parquet"))
        next_doc, next_vec = 0, train
        seen_docs: List[int] = []
        seen_vecs: List[int] = []
        texts: Dict[int, str] = {}
        all_vecs: Dict[int, np.ndarray] = {i: vecs[i] for i in range(train)}
        doc_id, vec_id = 0, train
        for b in range(BATCHES):
            ids, body = [], []
            for j in range(n_docs):
                if seen_docs and r.random() < DUP_SHARE:
                    src = texts[seen_docs[int(r.integers(0, len(seen_docs)))]]
                    text = src + " " + gen.VOCAB[int(r.integers(0, len(gen.VOCAB)))]
                else:
                    text = docs["text"].iloc[next_doc % len(docs)]
                    next_doc += 1
                texts[doc_id] = text
                ids.append(doc_id)
                body.append(text)
                doc_id += 1
            seen_docs.extend(ids)
            pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": body}),
                           os.path.join(dst, f"docs-{b:03d}.parquet"))
            vid, vv, vl = [], [], []
            for j in range(n_vecs):
                if seen_vecs and r.random() < DUP_SHARE:
                    src = all_vecs[seen_vecs[int(r.integers(0, len(seen_vecs)))]]
                    v = src + r.normal(0.0, 0.02, src.shape)
                    v /= np.linalg.norm(v)
                    lab = int(r.integers(0, 10))
                else:
                    k = next_vec % len(vecs)
                    v, lab = vecs[k], int(labels[k])
                    next_vec += 1
                v = v.astype(np.float32).astype(np.float64)
                all_vecs[vec_id] = v
                vid.append(vec_id)
                vv.append(v)
                vl.append(lab)
                vec_id += 1
            seen_vecs.extend(vid)
            pq.write_table(gen.embeddings_table(vid, np.array(vv, np.float32), vl),
                           os.path.join(dst, f"vecs-{b:03d}.parquet"))
        return {"docs_per_batch": n_docs, "vecs_per_batch": n_vecs, "train": train,
                "dup_share": DUP_SHARE}

    # -- set-up ------------------------------------------------------------------
    def start(self, ctx) -> None:
        """Train the IVF/PQ quantizers (when the ANN index is carried),
        then feed batch 0 to every index and search: the discarded
        warm-up pass. Cycle i adds batch i + 1."""
        from data_pipeline_platform_spark.functions.dedup_index import (
            IncrementalAnnIndex,
            IncrementalEmbeddingIndex,
            IncrementalLshIndex,
        )

        self.meta = gen.load_meta(ctx.inputs)
        spark, st = ctx.spark, ctx.state_dir
        tag = os.path.basename(st).replace("-", "_")
        self.lsh = IncrementalLshIndex(
            spark, f"{st}/lsh/index", f"{st}/lsh/pairs",
            bands_table=f"pb_lsh_bands_{tag}", bands_path=f"{st}/lsh/bands")
        self.emb = IncrementalEmbeddingIndex(
            spark, f"{st}/emb/index", f"{st}/emb/pairs",
            bands_table=f"pb_emb_bands_{tag}", bands_path=f"{st}/emb/bands")
        self.tables = [(getattr(self, i), ("index", "pairs"))
                       for i in ("lsh", "emb") if i in self.indexes]
        if "ann" in self.indexes:
            self.ann = IncrementalAnnIndex(spark, f"{st}/ann/cent", f"{st}/ann/ivf",
                                           pq_path=f"{st}/ann/pq")
            self.tables.append((self.ann, ("centroids", "ivf", "pq")))
        self._trace_tables(ctx)
        self.vectors: Dict[int, np.ndarray] = {}
        self.docs_applied: List[str] = []
        self.vecs_applied: List[str] = []
        self.applied_bytes = 0
        if "ann" in self.indexes:
            train = os.path.join(ctx.inputs, "train.parquet")
            self._remember(train)
            self.ann.train(self._vecs(spark, train, label=True), batch_id=0)
        for op in self._ops(ctx, 0):
            op.fn()

    def _trace_tables(self, ctx) -> None:
        """Route the indexes' ACID commits and reads through spans."""
        from perfbench.trace import Traced

        methods = {"write": "sinks.acid.write", "merge": "sinks.acid.merge",
                   "read": "sinks.acid.read"}
        for idx, attrs in self.tables:
            for a in attrs:
                setattr(idx, a, Traced(getattr(idx, a), ctx.tracer, methods))

    @staticmethod
    def _vecs(spark, path: str, label: bool = False):
        from pyspark.sql import functions as F

        cols = ["vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("vec")]
        return spark.read.parquet(path).select(*(cols + (["label"] if label else [])))

    def _remember(self, path: str) -> None:
        t = pq.read_table(path)
        for i, v in zip(t.column("vec_id").to_pylist(),
                        t.column("embedding").to_pylist()):
            self.vectors[int(i)] = np.asarray(v, np.float32).astype(np.float64)

    def cycle(self, ctx, i: int):
        if i + 1 >= BATCHES:
            raise RuntimeError(f"curation_index generated {BATCHES} batches; raise BATCHES")
        return self._ops(ctx, i + 1)

    def _ops(self, ctx, b: int) -> List[Op]:
        """Batch ``b`` commits as index batch ``b + 1``: the quantizers'
        training commit is batch 0."""
        spark, tr = ctx.spark, ctx.tracer
        docs = os.path.join(ctx.inputs, f"docs-{b:03d}.parquet")
        vecs = os.path.join(ctx.inputs, f"vecs-{b:03d}.parquet")
        n_docs, n_vecs = self.meta["docs_per_batch"], self.meta["vecs_per_batch"]
        r = np.random.default_rng([self.seed, 41, b])

        def lsh_add():
            with tr.span(_DEDUP + "lsh_add_batch") as rec:
                out = self.lsh.add_batch(spark.read.parquet(docs), batch_id=b + 1)
                rec["new_pairs"] = out["new_pairs"]
            self.docs_applied.append(docs)
            self.applied_bytes += os.path.getsize(docs)
            return out

        def emb_add():
            with tr.span(_DEDUP + "emb_add_batch") as rec:
                out = self.emb.add_batch(self._vecs(spark, vecs), batch_id=b + 1)
                rec["new_pairs"] = out["new_pairs"]
            self.vecs_applied.append(vecs)
            self.applied_bytes += os.path.getsize(vecs)
            return out

        def ann_add():
            with tr.span(_DEDUP + "ann_add_batch"):
                self.ann.add_batch(self._vecs(spark, vecs, label=True), batch_id=b + 1)
            self._remember(vecs)

        def search():
            # the query is drawn when the read runs, among ids indexed by then
            ids = sorted(self.vectors)
            q = int(ids[int(r.integers(0, len(ids)))])
            with tr.span(_DEDUP + "ann_search"):
                return q, self.ann.search_adc(q).collect()

        ops = []
        if "lsh" in self.indexes:
            ops.append(Op("op", "lsh_add_batch", lsh_add, rows=n_docs))
        if "emb" in self.indexes:
            ops.append(Op("op", "emb_add_batch", emb_add, rows=n_vecs))
        if "ann" in self.indexes:
            ops.append(Op("op", "ann_add_batch", ann_add, rows=n_vecs))
            ops += [Op("read", "ann_search", search, check=self._search_check)
                    for _ in range(SEARCHES)]
        return ops

    def _search_check(self, res) -> bool:
        """Top-k rows, query excluded, cosine descending, and each cosine
        equal to NumPy's on the stored vectors."""
        from data_pipeline_platform_spark.functions.pq import PQ_K

        q, rows = res
        qv = self.vectors[q]
        if not 0 < len(rows) <= PQ_K or any(row["vec_id"] == q for row in rows):
            return False
        cos = [float(row["cosine"]) for row in rows]
        if cos != sorted(cos, reverse=True):
            return False
        for row in rows:
            v = self.vectors[int(row["vec_id"])]
            want = float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            if abs(want - row["cosine"]) > 2e-6:
                return False
        return True

    # -- checks ------------------------------------------------------------------
    def verify(self, ctx, records) -> None:
        """The union of each index's incremental pairs must equal the
        one-shot result on the concatenated input."""
        import duckdb

        from data_pipeline_platform_spark.functions.dedup import ORACLE_DEDUP_MINHASH_LSH
        from data_pipeline_platform_spark.functions.similarity import (
            ORACLE_EMBEDDING_NEAR_DUP,
        )

        con = duckdb.connect()
        checks = []
        if "lsh" in self.indexes:
            con.register("documents", pa.concat_tables(
                [pq.read_table(p) for p in self.docs_applied]))
            checks.append(("lsh_add_batch", self.lsh, ORACLE_DEDUP_MINHASH_LSH,
                           ("doc_a", "doc_b"), "jaccard", 1e-9))
        if "emb" in self.indexes:
            con.register("embeddings", pa.concat_tables(
                [pq.read_table(p) for p in self.vecs_applied]))
            checks.append(("emb_add_batch", self.emb, ORACLE_EMBEDDING_NEAR_DUP,
                           ("id_a", "id_b"), "cosine", 1.5e-6))
        for name, idx, oracle, keys, score, tol in checks:
            want = {tuple(int(x) for x in row[:2]): float(row[2])
                    for row in con.execute(
                        f"SELECT {keys[0]}, {keys[1]}, {score} FROM ({oracle})").fetchall()}
            got = {(int(r[keys[0]]), int(r[keys[1]])): float(r[score])
                   for r in idx.all_pairs().collect()}
            ok = got.keys() == want.keys() and all(
                abs(got[k] - want[k]) <= tol for k in want)
            if not ok:
                last = [r for r in records if r["name"] == name][-1:]
                for rec in last:
                    rec["ok"] = False
                    rec["error"] = (f"incremental pairs differ from one-shot: "
                                    f"{len(got)} vs {len(want)}")
        con.close()
        for _, idx, *_ in checks:
            idx.drop_bands_table()

    def stored_bytes(self, ctx):
        stored = 0
        for dp, _, fs in os.walk(ctx.state_dir):
            stored += sum(os.path.getsize(os.path.join(dp, f))
                          for f in fs if f.endswith(".parquet"))
        return stored, self.applied_bytes

    def layer_metrics(self, ctx) -> Dict[str, float]:
        live = 0
        for idx, attrs in self.tables:
            live += sum(len(getattr(idx, a).snapshot_files()) for a in attrs)
        return {"sinks.acid.live_files": live}
