"""Serving from the persisted indexes: the north-star LLM-data surface.

Setup generates the embeddings (2,000 × 64 at sf0.1) and documents
(5,000) tables and builds an IVF-PQ ANN index and a BM25 text index from
them. Per cycle the ops are a single ``query_ann_index`` serve of a seeded
query vector, one ``query_ann_index_batch`` of 8, one
``query_ann_index_refined``, and a ``query_text_index`` serve of a seeded
term triple that mixes a frequent word with rarer tail terms; each serve
collects its top-k like a client would. The first cycle also runs
the in-plan catalog entries embedding_kmeans (ml_ops: k-means trained
inside ``Query.fn``) and doc_bm25_topk (llm_ops: brute-force BM25 over
the whole corpus), collecting their results.

Checks: ``ann_recall_at_10`` is each ANN serve's overlap with the exact
NumPy top-10 by cosine; a run whose mean recall falls below
``RECALL_FLOOR`` fails its ANN ops, so speed bought by probing less
shows. Every BM25 top-20 must equal a brute-force scorer written here in
the same arithmetic. The in-plan entries must match their catalog oracle
SQL in DuckDB bit-exactly, compared with tests/oracle_harness.py.
"""

from __future__ import annotations

import math
import os
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.parquet as pq

from workloads import fail
from workloads.star_queries import catalog_op, check_oracle

SINGLE, TEXT = 1, 1  # per cycle
# Mean recall@10 a run's ANN serves must reach, pooled per serve path.
# Set from HEAD on the generated corpus, with margin (see finish()).
RECALL_FLOOR = {"plain": 0.1, "refined": 0.4}
IN_PLAN = (("embedding_kmeans", "plans.ml_ops.in_plan"), ("doc_bm25_topk", "plans.llm_ops.in_plan"))
BM25_K1, BM25_B, BM25_TOPK = 1.2, 0.75, 20


class VectorTextServe:
    def __init__(self, ctx):
        from customer_activity_lakehouse_spark.plans import QUERIES
        from customer_activity_lakehouse_spark.plans import ann_index as ann
        from customer_activity_lakehouse_spark.plans import text_index as txt

        self.ctx, self.ann, self.txt, self.queries = ctx, ann, txt, QUERIES
        spark = ctx.spark
        emb_t = pq.read_table(os.path.join(ctx.tables, "embeddings.parquet"))
        self.vecs = np.stack(emb_t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        self.docs = pq.read_table(os.path.join(ctx.tables, "documents.parquet")).to_pydict()
        self.n_emb, self.n_doc = len(self.vecs), len(self.docs["doc_id"])
        self.emb = spark.read.parquet(os.path.join(ctx.tables, "embeddings.parquet")).select(
            "vec_id", "embedding")
        docs = spark.read.parquet(os.path.join(ctx.tables, "documents.parquet")).select("doc_id", "text")
        self.ann_dir, self.txt_dir = ctx.path("vt_ann"), ctx.path("vt_txt")
        with ctx.phase("plans.ann_index.build"):
            ann.build_ann_index(spark, self.emb, self.ann_dir)
        with ctx.phase("plans.text_index.build"):
            txt.build_text_index(spark, docs, self.txt_dir)
        self.rng = np.random.default_rng([ctx.seed, 202])
        counts = Counter(w for t in self.docs["text"] for w in t.split())
        ranked = [w for w, _ in counts.most_common()]
        self.frequent, self.rare = ranked[:30], ranked[60:]

    # ------------------------------------------------------------------ ops

    def cycle(self, i: int) -> list:
        ann, txt, spark, tr, rng = self.ann, self.txt, self.ctx.spark, self.ctx.tracer, self.rng
        ops = []
        if i == 0:
            for name, layer in IN_PLAN:
                ops.append((name, catalog_op(self.ctx, self.queries[name]),
                            self.n_emb if layer.endswith("ml_ops.in_plan") else self.n_doc))
        for _ in range(SINGLE):
            qid = int(rng.integers(0, self.n_emb))

            def single(qid=qid):
                with tr.span("plans.ann_index.query"):
                    q = ann._quantize(self.emb.filter(f"vec_id = {qid}"))
                    got = ann.query_ann_index(spark, self.ann_dir, q, exclude_id=qid).collect()
                return [(qid, [r["vec_id"] for r in got])]

            ops.append(("ann.query", single, self.n_emb))
        ids = [int(x) for x in rng.choice(self.n_emb, 8, replace=False)]

        def batch8():
            with tr.span("plans.ann_index.query_batch8"):
                q = ann._quantize(self.emb.filter(self.emb.vec_id.isin(ids))).withColumnRenamed(
                    "vec_id", "qid")
                got = ann.query_ann_index_batch(spark, self.ann_dir, q, exclude_self=True).collect()
            by = {}
            for r in got:
                by.setdefault(r["qid"], []).append((r["cos_sim"], r["vec_id"]))
            return [(qid, [v for _, v in sorted(by.get(qid, []), key=lambda t: (-t[0], t[1]))])
                    for qid in ids]

        ops.append(("ann.batch8", batch8, 8 * self.n_emb))
        rid = int(rng.integers(0, self.n_emb))

        def refined():
            with tr.span("plans.ann_index.query_refined"):
                got = ann.query_ann_index_refined(
                    spark, self.ann_dir, self.emb.filter(f"vec_id = {rid}").select("embedding"),
                    self.emb, exclude_id=rid).collect()
            return [(rid, [r["vec_id"] for r in got])]

        ops.append(("ann.refined", refined, self.n_emb))
        for _ in range(TEXT):
            terms = (str(rng.choice(self.frequent)), *(str(t) for t in rng.choice(self.rare, 2,
                                                                                  replace=False)))

            def text(terms=terms):
                with tr.span("plans.text_index.query"):
                    got = txt.query_text_index(spark, self.txt_dir, terms, k=BM25_TOPK).collect()
                return terms, [(r["doc_id"], r["bm25"]) for r in got]

            ops.append(("text.query", text, self.n_doc))
        return ops

    # ------------------------------------------------------------------ checks

    def finish(self) -> list[str]:
        ctx = self.ctx
        failures: list[str] = []
        recall: dict[str, list[float]] = {}
        for r in ctx.records:
            if r.ok and r.kind.startswith("ann."):
                path = "refined" if r.kind == "ann.refined" else "plain"
                for qid, got in r.out:
                    recall.setdefault(path, []).append(len(set(got[:10]) & self._exact(qid)) / 10)
        means = {k: sum(v) / len(v) for k, v in recall.items()}
        all_r = [x for v in recall.values() for x in v]
        ctx.report["ann_recall_at_10"] = sum(all_r) / max(1, len(all_r))
        ctx.report["ann_recall_at_10_by_path"] = means
        for path, m in means.items():
            floor = RECALL_FLOOR[path] + (1.0 if ctx.perturb else 0.0)
            if m < floor:
                kinds = ("ann.refined",) if path == "refined" else ("ann.query", "ann.batch8")
                fail([r for r in ctx.records if r.kind in kinds],
                     f"{path} ANN serves: mean recall@10 {m:.3f} < floor {floor}", failures)
        failures += self._check_in_plan()
        for r in ctx.records:
            if r.ok and r.kind == "text.query":
                terms, got = r.out
                if got != self._bm25(terms):
                    fail([r], f"BM25 top-{BM25_TOPK} for {terms} differs from brute force", failures)
        if ctx.trace:
            tr = ctx.tracer
            builds = [(o, s) for o in tr.ops for s in tr.spans
                      if s.op == o["op"] and s.name == "plans.build"]
            ctx.layers["plans.build_jobs"] = sum(tr.jobs_within(o, s) for o, s in builds) / max(
                1, len(builds))
            for name, layer in IN_PLAN:
                walls = [o["wall_s"] for o in tr.ops if o["kind"] == name]
                if walls:
                    ctx.layers[f"{layer}_s"] = sum(walls) / len(walls)
            served = [o for o in tr.ops if o["kind"] == "ann.query"]
            if served:
                ctx.layers["plans.ann_index.rows_read_per_result"] = (
                    sum(o["input_records"] for o in served) / (10 * len(served)))
        return failures

    def _check_in_plan(self) -> list[str]:
        from oracle_harness import duckdb_conn

        con = duckdb_conn(self.ctx.tables)
        failures: list[str] = []
        for name, _layer in IN_PLAN:
            check_oracle(self.ctx, name, con.execute(self.queries[name].oracle).fetchdf(), failures)
        return failures

    def _exact(self, qid: int) -> set[int]:
        v = self.vecs
        cos = v @ v[qid] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[qid]))
        cos[qid] = -np.inf
        return set(int(i) for i in np.lexsort((np.arange(len(v)), -cos))[:10])

    def _bm25(self, terms: tuple[str, ...]) -> list[tuple[int, float]]:
        """Brute-force BM25 in the serve's arithmetic (Lucene +1 idf,
        fixed-order per-term sum, 4-dp half-up rounding, ties by doc_id)."""
        toks = [t.split() for t in self.docs["text"]]
        n = len(toks)
        avgdl = float(sum(len(t) for t in toks)) / float(n)
        tfs = [[t.count(q) for q in terms] for t in toks]
        dfs = [float(sum(1 for tf in tfs if tf[i] > 0)) for i in range(len(terms))]
        scored = []
        for doc_id, t, tf in zip(self.docs["doc_id"], toks, tfs):
            if sum(tf) == 0:
                continue
            norm = (1.0 - BM25_B) + BM25_B * float(len(t)) / avgdl
            s = 0.0
            for i, df in enumerate(dfs):
                idf = math.log((float(n) - df + 0.5) / (df + 0.5) + 1.0)
                s = s + idf * float(tf[i]) * (BM25_K1 + 1.0) / (float(tf[i]) + BM25_K1 * norm)
            score = float(Decimal(repr(s)).quantize(Decimal("0.0001"), ROUND_HALF_UP))
            scored.append((doc_id, score))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:BM25_TOPK]
