"""vector_dedup: the two generation-versioned side stores under one writer.
Each step sends a document micro-batch with injected near-duplicates
through the streaming dedup store, reads its decisions back, folds the
store incrementally, appends the batch's embeddings to an IVF-PQ index
and serves a probe batch from it. Set-up runs every one of these paths
once, including the index's cold search and first cache hit, so every
measured step is alike (a run holds one or two steps, depending on the
host's speed). Loads ``dedup_ingest`` (and the epoch-store layers under
it) and ``ann_index``.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import harness
import loadgen
import oracle
from workloads.base import Workload, input_bytes

from data_pipeline_with_big_data_stack_spark.operators import ann_index as A
from data_pipeline_with_big_data_stack_spark.operators import dedup_ingest as DI

TAU = 0.8  # the engine's default dedup verification threshold
DIM = 16
K_COARSE, K_PQ, SUB_DIM = 8, 64, 4
N_SUB = DIM // SUB_DIM
NPROBE, TOP_K = 2, 10
POINTS_PER_TOPIC = 10  # points per micro-cluster
MIN_RECALL = 0.4  # below this a search's answer is counted as wrong
_CB_SCHEMA = "array<struct<cell_id:bigint,c_emb:array<double>>>"


def _vec_frame(spark, ids, x, id_name="vec_id", emb_name="emb"):
    pdf = pd.DataFrame({id_name: ids.astype(np.int64), emb_name: list(x)})
    return spark.createDataFrame(pdf, f"{id_name} long, {emb_name} array<double>")


def _codebook_frame(spark, name: str, centres: np.ndarray):
    """A 1-row codebook frame in the layout ``build_ivfpq_index`` takes."""
    cells = [{"cell_id": i, "c_emb": [float(v) for v in c]} for i, c in enumerate(centres)]
    return spark.createDataFrame(pd.DataFrame({name: [cells]}), f"{name} {_CB_SCHEMA}")


class VectorDedup(Workload):
    name = "vector_dedup"

    def setup(self) -> None:
        smoke = self.ctx.smoke
        self.batch_docs = 20 if smoke else 50
        n_points = 100 if smoke else 300
        self.n_probes = 4 if smoke else 16
        r = loadgen.rng(self.ctx.seed, self.name)
        self.docs = loadgen.DocSource(loadgen.rng(self.ctx.seed, self.name + "-docs"))
        self.src = loadgen.VectorSource(r, DIM)
        self.topics = self.src.micro_centers(n_points // POINTS_PER_TOPIC)
        x = self.src.sample(self.topics, n_points)
        self.ids, self.x = np.arange(n_points, dtype=np.int64), x
        # the codebooks are trained once (seeded numpy k-means) and the
        # index is built with them
        coarse = _codebook_frame(self.spark, "cb", loadgen.kmeans(r, x, K_COARSE))
        pq = [_codebook_frame(self.spark, f"cb{m}", loadgen.kmeans(
                  r, x[:, m * SUB_DIM:(m + 1) * SUB_DIM], K_PQ))
              for m in range(N_SUB)]
        self.index = self.ctx.scratch.path("ivfpq")
        self.base = self.ctx.scratch.path("dedup")
        self.store = DI.init_dedup_ingest_store(self.spark, self.base)
        originals = self.docs.batch(self.batch_docs, allow_dups=False)
        self.input_total = x.nbytes + input_bytes(originals)
        self.eid = 1
        self.next_qid = 10 ** 12
        self.searched: list[tuple] = []
        self.decided: list[tuple] = []
        self.n_compact = 0

        def dedup_chain():
            # steady state: the store starts from a batch of originals;
            # the decision read and one fold also run before timing
            DI.dedup_ingest_batch(self.spark.createDataFrame(originals, "doc_id long, text string"),
                                  0, self.store)
            self.store.read(self.spark, "decisions").filter(F.col("batch_id") == 0).collect()
            DI.compact_dedup_ingest_store(self.spark, self.store, full=False)

        def index_chain():
            A.build_ivfpq_index(_vec_frame(self.spark, self.ids, x), self.index,
                                coarse, pq, sub_dim=SUB_DIM)
            self._append(self._new_vectors(self.batch_docs))
            # the first search loads the engine's serve cache and the
            # second is its first hit, which checkpoints the cached
            # sidecars; measured searches are hits after that
            t0 = time.perf_counter()
            A.search_ivfpq_index(self.spark, self.index, self._probes()[2],
                                 nprobe=NPROBE, k=TOP_K).collect()
            self.cold_search_ms = (time.perf_counter() - t0) * 1000.0
            A.search_ivfpq_index(self.spark, self.index, self._probes()[2],
                                 nprobe=NPROBE, k=TOP_K).collect()

        with ThreadPoolExecutor(max_workers=2) as ex:
            for f in [ex.submit(dedup_chain), ex.submit(index_chain)]:
                f.result()

    def warmup(self) -> None:
        """Done in ``setup``, where the two stores warm up side by side."""

    def layer_counts(self) -> None:
        # the index's one cold search runs in set-up, before tracing
        self.tr.count("ann_index.cold_search_ms", self.cold_search_ms)

    def _new_vectors(self, n: int):
        """(ids, vectors, frame) of ``n`` new points."""
        x = self.src.sample(self.topics, n)
        nids = self.ids[-1] + 1 + np.arange(n, dtype=np.int64)
        return nids, x, _vec_frame(self.spark, nids, x)

    def _probes(self):
        """(ids, vectors, frame) of a probe batch."""
        x = self.src.sample(self.topics, self.n_probes)
        qid = self.next_qid + np.arange(len(x), dtype=np.int64)
        self.next_qid += len(x)
        return qid, x, _vec_frame(self.spark, qid, x, "q_id", "q_emb")

    def _append(self, new) -> None:
        nids, x, frame = new
        A.append_to_ivfpq_index(self.spark, self.index, frame)
        self.ids, self.x = np.concatenate([self.ids, nids]), np.vstack([self.x, x])
        self.input_total += x.nbytes

    def _search(self, op: int, probe) -> None:
        qid, x, probes = probe
        tr = self.tr
        with tr.span("ann_index.search_ivfpq_index", op, "search_ivfpq_index"):
            with tr.span("ann_index.search_plan", op):
                df = A.search_ivfpq_index(self.spark, self.index, probes,
                                          nprobe=NPROBE, k=TOP_K)
            with tr.span("ann_index.search_exec", op):
                rows = df.collect()
        self.searched.append((op, len(self.ids), qid, x, rows))

    def step(self, i: int) -> None:
        tr = self.tr
        pdf = self.docs.batch(self.batch_docs)
        frame = self.spark.createDataFrame(pdf, "doc_id long, text string")
        new = self._new_vectors(len(pdf))
        probe = self._probes()
        eid = self.eid
        self.eid += 1
        op = self.new_op()
        stored0 = self._stored() if not self.step_ms else 0
        cpu0 = self.cpu_s()
        t0 = time.perf_counter()

        def write():
            with tr.span("dedup_ingest.dedup_ingest_batch", op, "dedup_ingest_batch"):
                DI.dedup_ingest_batch(frame, eid, self.store)
            return True

        wrote = self.guarded(op, write)
        t_written = time.perf_counter()

        def read():
            with tr.span("dedup_ingest.read_decisions", op, "read_decisions"):
                return (self.store.read(self.spark, "decisions")
                        .filter(F.col("batch_id") == eid).collect())

        rows = self.guarded(op, read) if wrote else None
        t_read = time.perf_counter()

        def compact():
            with tr.span("dedup_ingest.compact_dedup_ingest_store", op,
                         "compact_dedup_ingest_store"):
                DI.compact_dedup_ingest_store(self.spark, self.store, full=False)

        self.guarded(op, compact)

        def append():
            with tr.span("ann_index.append_to_ivfpq_index", op, "append_to_ivfpq_index"):
                self._append(new)

        self.guarded(op, append)
        t_search = time.perf_counter()
        self.guarded(op, lambda: self._search(op, probe))
        t_end = time.perf_counter()
        self.cpu_ms.append((self.cpu_s() - cpu0) * 1000.0)
        if not self.step_ms:
            self.first_step_ratio = ((self._stored() - stored0) /
                                     (input_bytes(pdf) + new[1].nbytes))
        self.n_compact += 1
        if tr.enabled:
            with tr.bookkeeping():
                files = harness.listing(self.base)
            tr.count("dedup_ingest.store_files", len(files))
            tr.count("dedup_ingest.store_bytes", sum(v[0] for v in files.values()))
        self.input_total += input_bytes(pdf)
        self.rows_in += len(pdf) + len(new[0])
        self.write_ms.append((t_written - t0) * 1000.0)
        self.fresh_ms.append((t_read - t0) * 1000.0)
        self.query_ms.append((t_end - t_search) * 1000.0)
        self.step_ms.append((t_end - t0) * 1000.0)
        if rows is not None:
            self.decided.append((op, pdf["doc_id"].tolist(), rows))

    def verify(self) -> None:
        self._verify_dedup()
        self._verify_search()

    def _verify_dedup(self) -> None:
        """Every rejection must be an injected near-duplicate whose partner
        is its original or a sibling copy, at the trigram Jaccard the
        engine reports; missed injected copies only lower the recall."""
        inj = self.docs.injected
        self.flagged = self.true_pos = self.expected = 0
        for op, ids, rows in self.decided:
            batch = set(ids)
            self.expected += sum(1 for d in ids if d in inj)
            for r in rows:
                doc, partner = int(r["doc_id"]), int(r["dup_of"])
                self.flagged += 1
                ok = doc in batch and doc in inj and (
                    partner == inj[doc] or inj.get(partner) == inj[doc])
                if ok:
                    j = oracle.jaccard(self.docs.text[doc], self.docs.text[partner])
                    ok = j >= TAU and abs(j - r["jaccard"]) < 1e-4
                if ok:
                    self.true_pos += 1
                else:
                    self.fail(op, f"doc {doc} wrongly rejected as a copy of {partner}")

    def _verify_search(self) -> None:
        """Well-formed top-k over the corpus as it was searched, and
        recall@k against exact numpy top-k."""
        self.recalls = []
        for op, n_at, qid, qx, rows in self.searched:
            ids, x = self.ids[:n_at], self.x[:n_at]
            want = oracle.exact_topk(x, ids, qx, TOP_K)
            got: dict[int, list] = {int(q): [] for q in qid}
            valid = set(ids.tolist())
            ok = all(row["q_id"] in got and row["vec_id"] in valid for row in rows)
            if ok:
                for row in rows:
                    got[row["q_id"]].append(row["vec_id"])
                ok = all(len(v) <= TOP_K and len(set(v)) == len(v) for v in got.values())
            if not ok:
                self.fail(op, f"malformed top-{TOP_K} answer")
                continue
            rec = [len(set(got[int(q)]) & w) / TOP_K for q, w in zip(qid, want)]
            self.recalls.append(float(np.mean(rec)))
            if self.recalls[-1] < MIN_RECALL:
                self.fail(op, f"recall@{TOP_K} {self.recalls[-1]:.3f} < {MIN_RECALL}")

    def recall(self) -> float:
        return float(np.mean(self.recalls)) if self.recalls else 0.0

    def _stored(self) -> int:
        return harness.tree_bytes(self.base) + sum(
            harness.tree_bytes(self.index + side) for side in ("", "_codebook", "_pq_codebook"))

    def store_ratio(self) -> float:
        """Bytes the stores grew by per input byte in the first measured
        step. A run holds one or two steps depending on the host's speed,
        and neither the set-up's fixed bytes (seeded sinks, codebooks)
        nor a fold's growth are linear in the steps taken."""
        return self.first_step_ratio

    def extra(self, elapsed: float) -> dict[str, tuple[float, str]]:
        out = {
            f"recall_at_{TOP_K}": (self.recall(), "ratio"),
            "dedup_recall": (self.true_pos / self.expected if self.expected else 1.0, "ratio"),
            "dedup_precision": (self.true_pos / self.flagged if self.flagged else 1.0, "ratio"),
            "rows_per_s": (self.rows_in / elapsed, "1/s"),
            "compactions": (float(self.n_compact), "count"),
        }
        for name, xs in (("write", self.write_ms), ("freshness", self.fresh_ms)):
            out[f"{name}_p50_ms"] = (harness.median(xs), "ms")
            out[f"{name}_tail_ms"] = (harness.percentile(xs, harness.tail_percentile(len(xs))), "ms")
        return out
