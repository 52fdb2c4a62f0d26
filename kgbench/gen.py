"""Seeded input generator for the kgspark benchmark.

kgspark receives only the data directory a workload's inputs are
written to:

* resume: ``documents.parquet``, the repo's 500-document test corpus
  (sf0.001) kept in ``corpus/``. ``checkpoint.run_pipeline(sf_dir=...)``
  reads the documents from there.
* detect: the noisy KG that kgspark builds from that corpus, one parquet
  directory per table (``graph/*.csv.gz``, written by ``record.py``).

``--seed`` chooses the order in which the rows are written (a
permutation of the ids over the file and its row groups), so the same
seed gives byte-identical files while every correct output stays the
same for every seed. That is what lets one set of expected values check
every run.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS_DIR = os.path.join(HERE, "corpus")
GRAPH_DIR = os.path.join(HERE, "graph")
ROW_GROUP = 128  # several row groups per file, so the order is visible

# the detect snapshot's tables and their Spark column types
GRAPH_SCHEMA = {
    "noisy": {"s": "int64", "p": "int32", "o": "int64", "is_error": "bool"},
    "types": {"e": "int64", "t": "int32"},
    "entities": {"id": "int64", "name": "str"},
    "relations": {"id": "int64", "name": "str"},
}


def _shuffled(df: pd.DataFrame, rng) -> pd.DataFrame:
    return df.iloc[rng.permutation(len(df))].reset_index(drop=True)


def write_corpus(out_dir: str, seed: int) -> dict:
    """Write the corpus into ``out_dir``, rows in the seed's order."""
    df = _shuffled(pd.read_parquet(
        os.path.join(CORPUS_DIR, "documents.parquet")),
        np.random.default_rng(seed))
    os.makedirs(out_dir, exist_ok=True)
    df.to_parquet(os.path.join(out_dir, "documents.parquet"), index=False,
                  row_group_size=ROW_GROUP)
    return {"documents": len(df)}


def write_graph(out_dir: str, seed: int) -> dict:
    """Write the detect workload's graph, rows in the seed's order.

    The graph is the noisy KG (kind-1 errors, p_error 0.05) that kgspark
    builds from the corpus; ``record.py`` stores it as CSV."""
    rng = np.random.default_rng(seed)
    counts = {}
    for name, dtypes in GRAPH_SCHEMA.items():
        df = _shuffled(pd.read_csv(os.path.join(GRAPH_DIR, f"{name}.csv.gz"),
                                   dtype=dtypes, keep_default_na=False), rng)
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        df.to_parquet(os.path.join(out_dir, name, "part-0.parquet"),
                      index=False, row_group_size=ROW_GROUP * 4)
        counts[name] = len(df)
    return counts
