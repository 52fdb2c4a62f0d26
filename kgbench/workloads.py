"""The workloads: their inputs, one measured run, and the run's outputs.

Each run calls kgspark's public functions the way a KG curator's batch
job does and returns ``(outputs, stats)``: the outputs are compared with
``expected.json`` by :func:`check`; the stats are per-layer figures that
the event log does not hold. Spans name the layer of each call; they tag
Spark jobs only when the run is traced.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import functions as F

from kgspark import checkpoint, rank
from kgspark import patybred as pb

from kgbench import gen

P_ERROR = 0.05  # kind-1 errors in the detect graph and the fresh pipeline
P_ERROR_RESUME = 0.1  # the resumed pipeline's changed parameter


# ------------------------------------------------------------------ outputs

def digest(df) -> dict:
    """Order-insensitive row count and hash sum of a result table, in one
    Spark job. Doubles are hashed as their 6-decimal text."""
    cols = [F.format_string("%.6f", f.name)
            if f.dataType.typeName() in ("double", "float") else F.col(f.name)
            for f in df.schema.fields]
    row = df.select(F.pmod(F.xxhash64(*cols), F.lit(2**31)).alias("h")) \
        .agg(F.count("*").alias("rows"), F.sum("h").alias("hash")).first()
    return {"rows": row["rows"], "hash": row["hash"] or 0}


def check(outputs: dict, expected: dict) -> list[str]:
    """→ the output names that differ from the expected ones."""
    return [k for k, want in expected.items() if outputs.get(k) != want]


# ------------------------------------------------------------------ detect

SPARK_TYPE = {"int64": "bigint", "int32": "int", "bool": "boolean",
              "str": "string"}


def detect_inputs(data_dir: str, seed: int) -> dict:
    counts = gen.write_graph(data_dir, seed)
    return {**counts, "rows": counts["noisy"]}


def read_graph(spark, data_dir: str) -> dict:
    """The graph tables, read with their schema given so that reading
    launches no Spark job outside a layer span."""
    return {n: spark.read.schema(", ".join(
                f"{c} {SPARK_TYPE[t]}" for c, t in cols.items()))
            .parquet(os.path.join(data_dir, n))
            for n, cols in gen.GRAPH_SCHEMA.items()}


def detect_chain(T, g: dict, keep) -> dict:
    """PaTyBRED path enumeration, then fit and scoring with the LR and the
    DT classifier, over the graph ``g``.

    ``keep(df)`` turns each score table into an output inside the span
    that made it, so every job of the chain falls in a layer span. The
    scores fix the ranking (ties break on s, p, o) and so every
    evaluation metric; ``record.py`` checks those against the oracle."""
    facts, types = g["noisy"].select("s", "p", "o"), g["types"]
    out = {}
    with T.span("patybred.paths"):
        n_entities = g["entities"].count()
        idx = pb.enumerate_paths(facts, g["relations"].count())
    for clf, fit, score in (("lr", pb.fit_models, pb.score_facts),
                            ("dt", pb.fit_models_dt, pb.score_facts_dt)):
        with T.span(f"patybred.fit_{clf}"):
            models = fit(facts, idx, types, n_entities)
        with T.span(f"patybred.score_{clf}"):
            out[f"{clf}_scores"] = keep(
                score(facts, idx, types, models)
                .withColumn("score", F.round("score", 6)))
    return out


def detect_run(ctx) -> tuple[dict, dict]:
    """The graph is read again each run, so no memo keyed by DataFrame
    identity (``patybred._PATHS_MEMO``) can hit across runs."""
    g = read_graph(ctx.spark, ctx.data_dir)
    return detect_chain(ctx.tracer, g, digest), {}


# ------------------------------------------------------------------ resume

# Checkpointer stage → the layer whose module computes it
STAGE_LAYER = {
    "repo_files": "extract", "triples_raw": "extract",
    "triples_canonical": "link",
    "entities": "encode", "relations": "encode", "triples": "encode",
    "types": "typesys", "noisy_facts": "errorsgen", "scores": "scoring",
    "ranked": "rank",
}


@contextmanager
def stage_spans(T):
    """Open a layer span around each ``Checkpointer.stage`` call and each
    ``rank.evaluate`` call that ``run_pipeline`` makes. The stage's own
    build, write and read-back jobs then fall in the layer; the
    checkpoint span keeps the manifests and the calls between stages."""
    stage, evaluate = checkpoint.Checkpointer.stage, rank.evaluate

    def traced_stage(self, name, *a, **kw):
        if name not in STAGE_LAYER:  # a new stage stays in the checkpoint span
            return stage(self, name, *a, **kw)
        with T.span(STAGE_LAYER[name]):
            return stage(self, name, *a, **kw)

    def traced_evaluate(*a, **kw):
        with T.span("rank"):
            return evaluate(*a, **kw)

    checkpoint.Checkpointer.stage, rank.evaluate = traced_stage, traced_evaluate
    try:
        yield
    finally:
        checkpoint.Checkpointer.stage, rank.evaluate = stage, evaluate


def resume_inputs(data_dir: str, seed: int) -> dict:
    counts = gen.write_corpus(data_dir, seed)
    return {**counts, "rows": counts["documents"]}


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / 2**20


def resume_run(ctx) -> tuple[dict, dict]:
    """``checkpoint.run_pipeline`` (SDValidate) into a fresh workdir, then
    again into the same workdir with ``p_error`` changed: the construction
    stages resume and the noisy facts, scores and ranking recompute."""
    T = ctx.tracer
    wd = os.path.join(ctx.work, "pipeline")
    shutil.rmtree(wd, ignore_errors=True)
    with stage_spans(T):
        with T.span("checkpoint.fresh"):
            fresh = checkpoint.run_pipeline(ctx.spark, ctx.data_dir, wd,
                                            "sdvalidate", P_ERROR)
        write_mb = dir_mb(wd)
        with T.span("checkpoint.resume"):
            again = checkpoint.run_pipeline(ctx.spark, ctx.data_dir, wd,
                                            "sdvalidate", P_ERROR_RESUME)
    shutil.rmtree(wd, ignore_errors=True)
    actions = [e["action"] for e in again["events"]]
    out = {"fresh_metrics": fresh["metrics"],
           "resume_metrics": again["metrics"],
           "resume_actions": actions}
    stats = {"checkpoint.write_mb": write_mb,
             "checkpoint.resumed_frac": actions.count("resume") / len(actions)}
    return out, stats


# name → (write the seed's inputs, one run); the rows counted in
# input_rows_per_s are the noisy facts (detect) and documents (resume)
WORKLOADS = {
    "detect": (detect_inputs, detect_run),
    "resume": (resume_inputs, resume_run),
}
