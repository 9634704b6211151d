"""``text_dedup``: the text and dedup pipeline operators.

MinHash LSH, substring-span dedup and cutting, n-gram novelty, BM25,
the quality scores (SQL and pandas-UDF forms), the full curation
pipeline, brute-force kNN, and the SemDeDup report (k-means centroids
plus the Arrow report) over a seeded embedding corpus. The Python
worker boundary (Arrow and pandas UDFs) and the shuffles of text
windows carry the work; the catalog and the TPC joins are not used.

A run warms every operation up, untimed, then runs them in a new
seeded order per pass, one after another, until ``--seconds`` have
passed. Registry queries are checked against their DuckDB oracle; the
SemDeDup report must cover every vector in at most K clusters.
"""

from __future__ import annotations

import os
import time

from . import inputs
from .queries import QueryOps, run_passes

# 250 documents: the DuckDB oracle of dedup_minhash_lsh is an all-pairs
# self-join, 4 s here and 15 s at 500 documents
SF = 0.005
SEMDEDUP = "semdedup_report"
SEM_ROWS = 20_000
SEM_K = max(16, SEM_ROWS // 1000)
SEM_TAU = 0.9
OPS = [
    "dedup_minhash_lsh", "dedup_substring_spans", "dedup_substring_cut",
    "corpus_ngram_novelty", "text_bm25_keyword_search", "text_quality_scores",
    "text_quality_pandas_udf", "pipeline_curate_full", "knn_brute_force", SEMDEDUP,
]


class TextOps(QueryOps):
    """Registry queries plus the SemDeDup report as one operation."""

    def __init__(self, run, sf_dir: str, corpus):
        super().__init__(run, sf_dir)
        self.corpus = corpus
        self.reports: list[list] = []

    def semdedup(self):
        from iceberg_catalog_bench_spark.operators.dedup import (
            semdedup_centroids, semdedup_report_arrow)

        tr = self.run.tracer
        # k-means runs its Spark jobs eagerly, inside this call
        with tr.span("centroids", "operators.exec"):
            cents = semdedup_centroids(self.run.spark, self.corpus, SEM_K, method="kmeans")
        with tr.span("build", "operators.build"):
            df = semdedup_report_arrow(self.corpus, cents, SEM_TAU)
        if tr.enabled:
            with tr.span("plan", "operators.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec", "operators.exec"):
            return df.collect()

    def warm(self, name: str) -> None:
        if name == SEMDEDUP:
            self.semdedup()
        else:
            super().warm(name)

    def execute(self, name: str) -> None:
        if name != SEMDEDUP:
            return super().execute(name)
        ok, rows = self.run.op(name, name, self.semdedup)
        if ok:
            self.reports.append(rows)

    def check(self, names: list[str]) -> None:
        super().check([n for n in names if n != SEMDEDUP])
        for rows in self.reports:
            self.run.check(
                sum(r["n_vectors"] for r in rows) == SEM_ROWS and 0 < len(rows) <= SEM_K,
                f"{SEMDEDUP}: report must cover {SEM_ROWS} vectors in <= {SEM_K} clusters")


def main(run) -> dict[str, float]:
    t0 = time.perf_counter()
    sf_dir = os.path.join(run.work, "tables")
    inputs.write_tables(sf_dir, run.seed, SF)
    corpus_path = os.path.join(run.work, "semdedup.parquet")
    inputs.write_semdedup_corpus(corpus_path, run.seed, SEM_ROWS)
    corpus = run.spark.read.parquet(corpus_path).cache()
    corpus.count()
    ops = TextOps(run, sf_dir, corpus)
    inputs_s = time.perf_counter() - t0
    warm_s = ops.warm_all(OPS)
    run.setup_s += inputs_s + warm_s
    passes = run_passes(run, ops, OPS)
    ops.check(OPS)
    corpus.unpersist()
    return {**ops.layer_metrics(), "passes": passes,
            "setup.inputs_s": inputs_s, "setup.warm_s": warm_s}
