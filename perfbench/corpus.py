"""``corpus_curation``: LLM-data curation and search queries from the
registry over a generated documents/embeddings corpus.

The plans are iterative and job-heavy (eager connected-components rounds
in ``curation_pipeline_e2e``, k-means rounds in ``ann_ivf``) and go
through ``catalog.spread_scan``. Only the plan modules these queries
live in are imported: importing ``geo_queries`` (and the multimodal and
maintenance modules) builds fixtures from reference files at import time.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

import inputs
from harness import Harness

# bm25_topk and semantic_dedup are left out: a run must fit the time
# budget of the benchmark, and the layers they reach are reached here too.
QUERY_NAMES = [
    "minhash_lsh_pairs", "dedup_exact", "text_quality",
    "curation_pipeline_e2e", "ann_ivf", "ann_pq",
]
# The corpus is the same in every run, so every run does the same work;
# the run's seed sets the query order within each pass.
CORPUS_SEED = 20251018


class Workload:
    def __init__(self, h: Harness, seed: int, smoke: bool):
        self.h = h
        perm = np.random.default_rng(seed).permutation(len(QUERY_NAMES))
        self.order = [QUERY_NAMES[i] for i in perm]
        self.n_docs, self.n_vecs = (120, 100) if smoke else (300, 300)

    def run(self) -> None:
        h = self.h
        h.start_session()
        from gee_datapipeline_spark.plans import (  # noqa: F401
            curation_queries, search_queries, selection_queries,
            similarity_queries, text_queries)
        from gee_datapipeline_spark.plans.registry import QUERIES

        self.queries = QUERIES
        self.dir = os.path.join(h.work, "corpus")
        inputs.corpus(self.dir, CORPUS_SEED, self.n_docs, self.n_vecs)
        self.duck = duckdb.connect()
        for t in ("documents", "embeddings"):
            path = os.path.join(self.dir, f"{t}.parquet")
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        h.run_batch(
            {n: (lambda check, n=n: self.query(n, check)) for n in self.order},
            {n: (lambda got, n=n: self.check(n, got)) for n in self.order},
            self.order)
        self.duck.close()

    def query(self, name: str, check: bool):
        df = self.h.build(lambda: self.queries[name].spark(self.h.spark,
                                                           self.dir))
        if check:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, name: str, got: pd.DataFrame) -> list[str]:
        """Order-insensitive exact match against the registry's DuckDB
        oracle, computed fresh in every run."""
        want = self.duck.execute(self.queries[name].oracle).fetchdf()
        if sorted(got.columns) != sorted(want.columns):
            return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
        if len(got) != len(want):
            return [f"{len(got)} rows, oracle {len(want)}"]
        if not _canonical(got).equals(_canonical(want)):
            return ["values differ from the DuckDB oracle"]
        return []


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if not isinstance(v, (list, np.ndarray)) and pd.isna(v):
            return "<null>"
        if isinstance(v, float):
            return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)
        return str(v)

    out = df.map(cell)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)
