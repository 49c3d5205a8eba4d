"""``churn``: writes beside reads on a persisted IVF-PQ index.

A seeded set of clustered 64-dim vectors is indexed with
``build_ivfpq_index`` in the cold round; then each warm round appends
new vectors, tombstones live ones and probes a held-out query batch.
The index takes the library's default geometry for its size, as every
caller in the repo does.  Traced runs end with one
``maintenance.compact_ivfpq_index``.  Probe results are checked against
the live set and scored against exact cosine search in numpy; a probe
whose recall falls below ``RECALL_FLOOR`` fails.
"""

from __future__ import annotations

import os

import numpy as np

from harness import collect_df, median

DIM = 64
CLUSTERS = 16
N_BASE = 500
N_APPEND = 250
N_DELETE = 100
N_QUERIES = 100
K = 5
#: lowest recall@5 a probe may score.  Over 36 seeds from 1 to 40, the
#: probe after one warm round scored 0.95 to 0.99, and after two rounds
#: no lower than 0.94.  The floor sits below that, so that seeds not
#: tried pass and a probe that gives up recall for speed fails
RECALL_FLOOR = 0.9
INDEX = "perfbench_churn"
WARM_KINDS = ("append", "delete", "probe")


class Churn:
    name = "churn"
    cold_kinds = ("build",)
    warm_kinds = WARM_KINDS
    warm_rounds = 1

    def __init__(self, work_dir: str, seed: int, tracer):
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.recalls: list = []

    # ------------------------------------------------------------ inputs

    def prepare(self) -> None:
        """Draw the clustered vectors and the held-out queries."""
        self.rng = np.random.default_rng(self.seed)
        self.centers = self.rng.normal(size=(CLUSTERS, DIM))
        self.vectors = self._draw(N_BASE)
        self.queries = self._draw(N_QUERIES)
        self.live = np.ones(N_BASE, dtype=bool)

    def _draw(self, n: int) -> np.ndarray:
        x = self.centers[self.rng.integers(0, CLUSTERS, n)]
        return (x + 0.35 * self.rng.normal(size=(n, DIM))).astype(np.float32)

    def verify_inputs(self) -> dict:
        return {"vectors": N_BASE, "dim": DIM, "append_per_round": N_APPEND,
                "delete_per_round": N_DELETE, "queries": N_QUERIES}

    def _frame(self, x: np.ndarray, first_id: int, id_col: str = "vec_id"):
        rows = [(first_id + i, v.tolist()) for i, v in enumerate(x)]
        return self.spark.createDataFrame(rows, f"{id_col} long, embedding array<float>")

    # ------------------------------------------------------------ ops

    def _build(self):
        from hadoop_logfile_inputformat_spark.operators.similarity import build_ivfpq_index

        df = self._frame(self.vectors, 0)
        return lambda: self._call(
            "operators.similarity.build_ivfpq_index",
            build_ivfpq_index, self.spark, df, INDEX,
        )

    def _call(self, span: str, fn, *args, **kwargs):
        with self.tracer.span(span):
            return fn(*args, **kwargs)

    def round(self, ops, rnd: int) -> None:
        from hadoop_logfile_inputformat_spark.operators.similarity import (
            ann_ivfpq_probe,
            append_to_ivfpq_index,
            delete_from_index,
        )

        if rnd == 0:
            ops.run("build", self._build())
            self.query_df = self._frame(self.queries, 0, "query_id")
            return
        new = self._draw(N_APPEND)
        delta = self._frame(new, len(self.vectors))
        ok = ops.run("append", lambda: self._call(
            "operators.similarity.append_to_ivfpq_index",
            append_to_ivfpq_index, self.spark, delta, INDEX,
        ), lambda appended: None if appended else "append reported a replayed batch")
        if ok:
            self.vectors = np.vstack([self.vectors, new])
            self.live = np.concatenate([self.live, np.ones(N_APPEND, dtype=bool)])
        victims = self.rng.choice(np.flatnonzero(self.live), N_DELETE, replace=False)
        ids = self.spark.createDataFrame([(int(i),) for i in victims], "vec_id long")
        n = ops.run("delete", lambda: self._call(
            "operators.similarity.delete_from_index",
            delete_from_index, self.spark, INDEX, ids,
        ), lambda n: None if n == N_DELETE else f"{n} ids tombstoned, want {N_DELETE}")
        if n is not None:
            self.live[victims] = False
        ops.run("probe", lambda: collect_df(
            self.tracer, "operators.similarity.ann_ivfpq_probe",
            lambda: ann_ivfpq_probe(self.spark, self.query_df, INDEX, k=K),
        ), self._check_probe)

    def _check_probe(self, rows):
        got: dict = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
        if sorted(got) != list(range(N_QUERIES)):
            return f"results for {len(got)} of {N_QUERIES} queries"
        short = [q for q, hits in got.items() if len(hits) != K]
        if short:
            return f"{len(short)} queries without exactly {K} results"
        ids = np.array([i for hits in got.values() for _, i in hits])
        if (ids < 0).any() or (ids >= len(self.live)).any():
            return "result id outside the indexed ids"
        dead = ids[~self.live[ids]]
        if dead.size:
            return f"{dead.size} results are tombstoned ids, e.g. {int(dead[0])}"
        recall = self._recall(got)
        self.recalls.append(recall)
        if recall < RECALL_FLOOR:
            return f"recall@{K} {recall:.3f} below the floor {RECALL_FLOOR}"
        return None

    def _recall(self, got: dict) -> float:
        """Share of the exact cosine top-k over the live set found."""
        live = np.flatnonzero(self.live)
        x = self.vectors[live].astype(np.float64)
        q = self.queries.astype(np.float64)
        sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ (
            x / np.linalg.norm(x, axis=1, keepdims=True)).T
        top = live[np.argsort(-sims, axis=1, kind="stable")[:, :K]]
        hits = sum(len(set(top[qid]) & {i for _, i in got[qid]}) for qid in range(N_QUERIES))
        return hits / (N_QUERIES * K)

    def finish(self, ops) -> None:
        """Traced only: record the index storage, with the tombstones
        still pending, then compact the index.  No end-to-end metric
        reads the compaction, so untraced runs skip it."""
        from hadoop_logfile_inputformat_spark.operators import maintenance

        if not self.tracer.enabled:
            return
        n_live = int(self.live.sum())
        info = maintenance.index_info(self.spark, INDEX)
        tables = info["tables"]
        self.storage = {
            "index.bytes_per_vector": sum(
                t["bytes"] for t in tables.values() if t["corpus_sized"]) / n_live,
            "index.codes_files": tables[f"{INDEX}_codes"]["files"],
            "index.tombstone_files": len(data_files(
                os.path.join(self.work_dir, "warehouse", f"{INDEX}_tombstones"))),
            "index.pending_tombstones": info["pending_tombstones"],
        }

        def check(_):
            self.spark.catalog.refreshTable(f"{INDEX}_quantized")
            rows = self.spark.table(f"{INDEX}_quantized").count()
            pending = self.spark.catalog.tableExists(f"{INDEX}_tombstones") and \
                self.spark.table(f"{INDEX}_tombstones").count()
            if pending or rows != n_live:
                return f"after compaction {rows} rows and {pending} tombstones, {n_live} live"
            return None

        ops.run("compact", lambda: self._call(
            "operators.maintenance.compact_ivfpq_index",
            maintenance.compact_ivfpq_index, self.spark, INDEX,
        ), check)

    def report(self, ops) -> list:
        """The workload's named end-to-end figures, as
        ``(name, value, unit, samples)``."""
        return [
            ("churn.build_s", ops.first("build"), "s", 1),
            *((f"churn.{k}_p50_s", median(ops.warm(k)), "s", len(ops.warm(k)))
              for k in WARM_KINDS),
            ("churn.recall_at_5", self.recalls[-1] if self.recalls else 0.0, "ratio",
             len(self.recalls)),
            ("churn.recall_at_5.min", min(self.recalls, default=0.0), "ratio",
             len(self.recalls)),
        ]

    def layer_report(self, ops, tracer) -> dict:
        """The similarity and maintenance rows of the per-layer table."""
        out = dict(getattr(self, "storage", {}))
        compact = ops.samples.get("compact")
        if compact:
            out["maintenance.compact_s"] = compact[0]
        for kind, prefix in (("build", "similarity.build"), ("append", "similarity.append")):
            roots = tracer.ops_of(kind)
            if roots:
                trees = [tracer.subtree(r) for r in roots]
                out[f"{prefix}_py4j_calls"] = median([sum(s["py4j"] for s in t) for t in trees])
                out[f"{prefix}_jobs"] = median([sum(s["jobs"] for s in t) for t in trees])
        probes = [tracer.subtree(r) for r in tracer.ops_of("probe")]
        if probes:
            def pick(tree, name, key):
                return sum(s.get(key, 0) for s in tree if s["name"] == name)

            out["similarity.probe_build_s"] = median(
                [pick(t, "operators.similarity.ann_ivfpq_probe", "dur") for t in probes])
            out["similarity.probe_exec_s"] = median(
                [pick(t, "spark.execute", "dur") for t in probes])
            out["similarity.probe_exchanges"] = median(
                [pick(t, "spark.execute", "exchanges") for t in probes])
        return out


def data_files(table_dir: str) -> list:
    if not os.path.isdir(table_dir):
        return []
    return [f for f in os.listdir(table_dir) if not f.startswith((".", "_"))]
