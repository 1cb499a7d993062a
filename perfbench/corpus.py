"""One fixed-order pass of the compute-heavy corpus operators.

Inputs: ``gen_sf`` at ``CORPUS_GEN_SF`` for the co-purchase graph and the
embeddings, with the documents table cut to the first ``CORPUS_DOCS``
documents (the corpus is sized by document count: ``gen_sf`` makes
500 documents per 0.001 of scale, and the dedup cost grows with it much
faster than the graph's).  ``corpus.corpus_prep`` is not run: ``gen_sf``
documents have no stopwords, so it keeps no rows.

Checks: every call returns rows, and each call's row count and
order-insensitive digest equal those of the warm-up pass.
"""

from __future__ import annotations

import contextlib
import os
import sys

from common import Recorder, reset_engine_caches, rows_digest

CORPUS_GEN_SF = 0.001  # 200 parts / 1,500 orders / 6,000 line items, 500 vectors
CORPUS_DOCS = 300


def generate(root: str, seed: int) -> str:
    import pyarrow.parquet as pq
    from gen_testdata import gen_sf

    with contextlib.redirect_stdout(sys.stderr):
        gen_sf(root, CORPUS_GEN_SF, seed)
    sf_dir = os.path.join(root, f"sf{CORPUS_GEN_SF:g}")
    docs = f"{sf_dir}/documents.parquet"
    pq.write_table(pq.read_table(docs).slice(0, CORPUS_DOCS), docs)
    return sf_dir


def _ops():
    from spotify_tracks_spark.operators import dedup, graph, similarity

    return (
        ("operators.dedup.dedup_minhash_lsh", dedup.dedup_minhash_lsh),
        ("operators.dedup.dedup_clusters", dedup.dedup_clusters),
        ("operators.similarity.ann_topk_ivf", similarity.ann_topk_ivf),
        ("operators.graph.parts_copurchase_pagerank", graph.parts_copurchase_pagerank),
        ("operators.graph.parts_copurchase_communities", graph.parts_copurchase_communities),
    )


class Corpus:
    def __init__(self, spark, tracer, rec: Recorder, run_dir: str, seed: int):
        self.spark, self.tracer, self.rec = spark, tracer, rec
        self.sf_dir = generate(os.path.join(run_dir, "corpus"), seed)
        self.pass_s: list[float] = []
        self.reference: dict[str, tuple[int, str]] = {}

    def run_pass(self, timed: bool) -> None:
        spark, tr = self.spark, self.tracer
        reset_engine_caches(spark)
        total, ok = 0.0, True
        with tr.span("corpus_pass"):
            for name, op in _ops():
                with self.rec.call(name, timed) as call:
                    with tr.span(name, jobs=True):
                        rows = op(spark, self.sf_dir).collect()
                    call.done()
                    tr.unit_count(f"{name}.rows", len(rows))
                    got = (len(rows), rows_digest(rows))
                    ref = self.reference.setdefault(name, got)
                    call.check(len(rows) > 0, f"{name}: no rows")
                    call.check(got == ref, f"{name}: {got} differs from first pass {ref}")
                ok &= call.seconds is not None
                total += call.seconds or 0.0
        if timed and ok:
            self.pass_s.append(total)
