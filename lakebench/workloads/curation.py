"""The curation stage of lakehouse_cycle: LLM-data operators over stored tables.

Set-up writes a ``mock_documents`` table (every 20th doc is a planted
near-duplicate of its predecessor) and a ``mock_embeddings`` table. Each
pass scans them through ``exact_dedup``, ``minhash_lsh_pairs`` with
verification, ``quality_score``, ``cosine_topk(exact=False)`` and
``ivf_topk`` for a seeded query set, and
``extract_media_features(attach_media_assets(...))``, whose Python workers
run through ``mapInPandas``. Expected values come from ``model``; top-k
results are checked against a numpy brute force over the modelled vectors.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import table as lh_table
from pyiceberg_lakehouse_spark.operators import dedup, multimodal, similarity, text
from pyiceberg_lakehouse_spark.sources import synthetic

from lakebench import model
from lakebench.harness import CheckFailed, Run, expect

DOCS = 400
VECS = 1_000
QUERIES = 16
TOPK = 10
N_PROBE = 4
MIN_PLANTED_RECALL = 0.95  # LSH with 8 bands of 4 finds a 0.9-Jaccard pair w.p. > 0.999
MIN_IVF_RECALL = 0.8

SIZE = f"{DOCS} documents, {VECS} x 64 embeddings, {QUERIES} top-{TOPK} queries"


class CurationStage:
    def __init__(self, spark, rng: np.random.Generator) -> None:
        self.spark = spark
        self.doc_lo = 20 * int(rng.integers(0, 500))  # keeps planted pairs whole
        self.vec_lo = int(rng.integers(0, 10_000))
        vec_ids = np.arange(self.vec_lo, self.vec_lo + VECS)
        self.query_ids = sorted(int(v) for v in rng.choice(vec_ids, QUERIES, replace=False))

    # --------------------------------------------------------- inputs --

    def stage(self, workdir: str) -> None:
        """Write the document and embedding tables the operators read."""
        lh = lh_table.Lakehouse(self.spark, workdir)
        docs = synthetic.mock_documents(self.spark, self.doc_lo + DOCS).where(F.col("doc_id") >= self.doc_lo)
        embs = synthetic.mock_embeddings(self.spark, self.vec_lo + VECS).where(F.col("vec_id") >= self.vec_lo)
        self.docs = lh.create_table("cur.docs", docs.schema)
        self.docs.append(docs)
        self.embs = lh.create_table("cur.embs", embs.schema)
        self.embs.append(embs)

    def build_model(self) -> None:
        """Expected operator results, from the generator formulas."""
        doc_ids = np.arange(self.doc_lo, self.doc_lo + DOCS)
        texts = model.documents(doc_ids)
        by_text: dict[str, list[int]] = defaultdict(list)
        for d, t in zip(doc_ids.tolist(), texts):
            by_text[t].append(d)
        self.exact = sorted((min(ids), len(ids)) for ids in by_text.values() if len(ids) > 1)
        self.text_of = dict(zip(doc_ids.tolist(), texts))
        self.planted = {(d - 1, d) for d in doc_ids.tolist() if d % 20 == 1 and d - 1 >= self.doc_lo}
        n_tok = [len(t.split(" ")) for t in texts]
        ttr = [len(set(t.split(" "))) / n for t, n in zip(texts, n_tok)]
        self.quality = (DOCS, sum(n_tok), math.fsum(ttr))
        self.media = model.media_features(doc_ids, texts)

        vec_ids = np.arange(self.vec_lo, self.vec_lo + VECS)
        self.topk = model.cosine_topk(vec_ids, model.embeddings(vec_ids), self.query_ids, TOPK)
        self.centroids = model.cluster_centers().tolist()

    # --------------------------------------------------------- checks --

    def _check_pairs(self, rows) -> None:
        for r in rows:
            want = model.jaccard(self.text_of[r.id_a], self.text_of[r.id_b])
            if abs(r.jaccard - want) > 1e-12 or want < 0.5:
                raise CheckFailed(f"pair ({r.id_a}, {r.id_b}): jaccard {r.jaccard}, model {want}")
        found = {(r.id_a, r.id_b) for r in rows}
        recall = len(found & self.planted) / len(self.planted)
        if recall < MIN_PLANTED_RECALL:
            raise CheckFailed(f"planted-pair recall {recall:.3f} < {MIN_PLANTED_RECALL}")

    def _check_topk(self, rows, exact: bool) -> float:
        """Scores must be the true cosines; exact top-k must equal the brute
        force. Returns recall against the brute force."""
        got: dict[int, list[tuple[int, float]]] = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r.qid, r.rank)):
            got[r.qid].append((r.vid, r.score))
        hits = 0
        for q, want in self.topk.items():
            true = dict(want)
            for vid, score in got.get(q, []):
                if vid in true:
                    hits += 1
                    if abs(score - true[vid]) > 1e-6:
                        raise CheckFailed(f"query {q} vid {vid}: score {score}, model {true[vid]}")
            if exact and [v for v, _ in got.get(q, [])] != [v for v, _ in want]:
                raise CheckFailed(f"query {q}: top-{TOPK} {got.get(q)} != model {want}")
        return hits / (TOPK * len(self.topk))

    # ----------------------------------------------------------- pass --

    def run_ops(self, run: Run) -> dict[str, float]:
        """Run the stage's operations; returns its per-pass counts."""
        docs, embs = self.docs.scan(), self.embs.scan()
        found = {}

        run.op("read", "operators.dedup", "exact_dedup",
               lambda: sorted((r.keeper_id, r.n_dups) for r in
                              dedup.exact_dedup(docs).filter("n_dups > 1").collect()),
               lambda got: expect("exact duplicate groups", got, self.exact))
        pairs = run.op("read", "operators.dedup", "minhash_lsh",
                       lambda: dedup.minhash_lsh_pairs(docs).collect(), self._check_pairs)
        self.verified = len(pairs) if pairs is not None else 0
        run.op("read", "operators.text", "quality_score",
               lambda: tuple(text.quality_score(docs).agg(
                   F.count("*"), F.sum("n_tokens"), F.sum("type_token_ratio")).collect()[0]),
               lambda got: (expect("quality rows, tokens", got[:2], self.quality[:2]),
                            _close("type-token ratio sum", got[2], self.quality[2])))
        queries = embs.where(F.col("vec_id").isin(self.query_ids))

        def topk(name, call, exact):
            def check(rows):
                found[name] = self._check_topk(rows, exact)
                if found[name] < MIN_IVF_RECALL:
                    raise CheckFailed(f"{name} recall {found[name]:.3f} < {MIN_IVF_RECALL}")
            run.op("read", "operators.similarity", name, lambda: call().collect(), check)

        topk("cosine_topk", lambda: similarity.cosine_topk(embs, queries, k=TOPK, exact=False), True)
        topk("ivf_topk", lambda: similarity.ivf_topk(
            embs, queries, self.centroids, k=TOPK, n_probe=N_PROBE), False)
        media = run.op("read", "operators.multimodal", "media_features", lambda: self._media(docs),
                       lambda got: expect("media features", got, self.media))

        return {
            "operators.similarity.recall": found.get("ivf_topk", 0.0),
            "operators.multimodal.rows": float(DOCS if media is not None else 0),
        }

    def trace_counts(self) -> dict[str, float]:
        """LSH candidate pairs before verification: counted after a traced
        pass, outside its timing, so untraced and traced passes run the
        same operations."""
        cand = dedup.minhash_lsh_pairs(self.docs.scan(), verify_threshold=None).count()
        if cand < self.verified:
            raise CheckFailed(f"{cand} LSH candidates < {self.verified} verified pairs")
        return {
            "operators.dedup.candidates": float(cand),
            "operators.dedup.verified_ratio": self.verified / cand if cand else 0.0,
        }

    def _media(self, docs) -> dict[str, int]:
        feats = multimodal.extract_media_features(multimodal.attach_media_assets(docs))
        r = feats.agg(
            *[F.count(F.when(F.col("mime") == m, 1)).alias(f"n_{m}")
              for m in ("text/plain", "image/bmp", "audio/wav")],
            *[F.sum(c).alias(c) for c in ("n_bytes", "width", "height", "sample_rate", "n_samples")],
        ).collect()[0]
        return {k: int(v or 0) for k, v in r.asDict().items()}


def _close(name: str, got: float, want: float) -> None:
    if abs(got - want) > 1e-9 * max(1.0, abs(want)):
        raise CheckFailed(f"{name}: got {got!r}, expected {want!r}")
