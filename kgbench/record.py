#!/usr/bin/env python3
"""Record the benchmark's fixed data: the detect graph and the expected outputs.

    python3 kgbench/record.py

1. Builds the noisy KG of the corpus in ``corpus/`` with kgspark's
   construction chain, forced at the boundaries ``pipeline.build_graph``
   uses, and stores its tables in ``graph/*.csv.gz``.
2. Runs each workload once on seed 0 and keeps its outputs.
3. Cross-checks them against the repo's DuckDB oracle builders over the
   same corpus: ``patybred.metrics_oracle_sql`` gives the evaluation
   metrics of detect's LR and DT rankings, and
   ``pipeline.flagship_metrics_sql`` the SDValidate metrics row of both
   resume calls. It also checks that SDValidate over the graph built in
   memory (step 1) gives the metrics row of ``checkpoint.run_pipeline``,
   and that the resumed call resumed exactly the construction stages. It
   writes ``expected.json`` only if every check passes.

Every correct output is the same for every seed (the seed only reorders
rows), so the seed-0 values check all runs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from kgspark import (encode, extract, link, pipeline, rank,  # noqa: E402
                     scoring, synth, typesys)
from kgspark import patybred as pb  # noqa: E402
from kgspark.dialect import materialize_ctes  # noqa: E402
from kgspark.util import materialize  # noqa: E402

from kgbench import gen, run, spans, workloads  # noqa: E402

RESUMED_STAGES = 7  # repo_files … types; noisy_facts, scores, ranked rerun


def build_graph(spark, corpus_dir: str) -> dict[str, pd.DataFrame]:
    rf = synth.repo_files(spark, corpus_dir)
    tr_raw = materialize(extract.extract_triples(rf, file_mentions=False))
    tr = materialize(link.canonicalize_triples(tr_raw))
    ents, rels = encode.build_dims(tr)
    ents, rels = materialize(ents), materialize(rels)
    enc = materialize(encode.encode_triples(tr, ents, rels))
    types, tnames = typesys.build_types(ents, enc, rels)
    types = materialize(types)
    g = pipeline.Graph(rf, tr_raw, tr, ents, rels, enc, types, tnames,
                       ents.count())
    noisy = pipeline.noisy_facts(g, workloads.P_ERROR)
    tables = {"noisy": noisy, "types": types, "entities": ents,
              "relations": rels}
    return {n: tables[n].toPandas().sort_values(list(cols)).astype(cols)
            for n, cols in gen.GRAPH_SCHEMA.items()}


class Oracle:
    """DuckDB over the corpus, with the oracle dialect rewrite applied."""

    def __init__(self, corpus_dir: str):
        self.corpus_dir = corpus_dir
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET memory_limit = '2GB'")
        self.con.execute("CREATE TABLE documents AS SELECT * FROM "
                         f"read_parquet('{corpus_dir}/documents.parquet')")
        self.raw = extract.triples_raw_sql(synth.repo_files_sql("duckdb"))

    def df(self, sql: str) -> pd.DataFrame:
        return self.con.execute(materialize_ctes(sql)).df()

    def metrics(self, sql: str) -> dict:
        return self.df(sql).iloc[0].to_dict()


def metric_diffs(what: str, ours: dict, want: dict) -> list[str]:
    return [f"{what} {k}: {ours.get(k)} vs oracle {v}" for k, v in want.items()
            if ours.get(k) is None or abs(ours[k] - v) > 2e-6]


def metrics_row(scores, noisy) -> dict:
    """``rank.evaluate`` of a score table ranked as ``run_pipeline`` ranks."""
    ranked = rank.rank_facts(scores).join(noisy, ["s", "p", "o"])
    return rank.evaluate(ranked).first().asDict()


def check_detect(ctx, orc: Oracle) -> tuple[list[str], dict]:
    """The LR and DT rankings of the detect graph against the PaTyBRED
    oracle. Also → the SDValidate metrics row of the same graph, which
    must equal ``run_pipeline``'s."""
    g = workloads.read_graph(ctx.spark, ctx.data_dir)
    tables = workloads.detect_chain(ctx.tracer, g, lambda df: df)
    fails = []
    for clf, name in (("lgr", "lr"), ("dt", "dt")):
        want = orc.metrics(pb.metrics_oracle_sql(
            orc.raw, workloads.P_ERROR, sf_dir=orc.corpus_dir, clf=clf))
        fails += metric_diffs(f"detect {name}_scores", metrics_row(
            tables[f"{name}_scores"], g["noisy"]), want)
    facts = g["noisy"].select("s", "p", "o")
    sd = scoring.sdvalidate_scores(facts, g["types"]) \
        .withColumn("score", F.round("score", 6))
    return fails, metrics_row(sd, g["noisy"])


def check_resume(orc: Oracle, got: dict, detect_sd: dict) -> list[str]:
    fails = []
    for key, p in (("fresh_metrics", workloads.P_ERROR),
                   ("resume_metrics", workloads.P_ERROR_RESUME)):
        fails += metric_diffs(f"resume {key}", got[key], orc.metrics(
            pipeline.flagship_metrics_sql(orc.raw, p)))
    fails += metric_diffs("resume fresh_metrics vs the in-memory chain",
                          got["fresh_metrics"], detect_sd)
    if got["resume_actions"].count("resume") != RESUMED_STAGES:
        fails.append(f"resume actions: {got['resume_actions']}")
    return fails


def main() -> int:
    work = os.path.join(ROOT, ".kgbench_work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spark = run.start_session(work, len(os.sched_getaffinity(0)), None)
    ctx = run.Ctx(spark, spans.Tracer(spark.sparkContext, False), "", work)
    corpus = os.path.join(work, "corpus")
    gen.write_corpus(corpus, 0)
    os.makedirs(gen.GRAPH_DIR, exist_ok=True)
    for name, df in build_graph(spark, corpus).items():
        df.to_csv(os.path.join(gen.GRAPH_DIR, f"{name}.csv.gz"), index=False,
                  compression={"method": "gzip", "mtime": 0})

    expected = {}
    for name, (inputs_fn, run_fn) in workloads.WORKLOADS.items():
        ctx.data_dir = os.path.join(work, name)
        inputs_fn(ctx.data_dir, 0)
        expected[name] = run_fn(ctx)[0]
        print(name, json.dumps(expected[name]), flush=True)

    orc = Oracle(corpus)
    ctx.data_dir = os.path.join(work, "detect")
    failures, detect_sd = check_detect(ctx, orc)
    failures += check_resume(orc, expected["resume"], detect_sd)
    orc.con.close()
    spark.stop()
    shutil.rmtree(work)
    if failures:
        print("\n".join(failures), file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
