"""Embedding-model scoring surfaces and one margin-ranking trainer (M9).

Scoring. The reference's embeddings.py scores triples with four
embedding families: HolE ``sum(R[p] * ccorr(E[s], E[o]))``
(embeddings.py:636), RESCAL eₛᵀ·W_p·e_o, ProjE 'simple'
(embeddings.py:404-448) and TransE −‖E[s]+R[p]−E[o]‖². Every score is
pure column algebra here — circular correlation via
kgspark.simsearch.ccorr_col or its unrolled :func:`ccorr_fast`,
sequential dot folds bit-identical to DuckDB's list_dot_product, so the
oracles reconstruct exact values. ``hole_scores``/``rescal_scores``/
``proje_scores`` score DETERMINISTIC hash-derived parameters (the
portable md5 substrate, kgspark.hashing — a single narrow projection
with zero joins or shuffles); ``transe_scores``/``hole_trained_scores``/
``rescal_trained_scores``/``proje_scores_trained`` take trained
(id, vec) tables as joins without changing the composition.

Training. The reference trains through skge/TF (embeddings.py:24-60,
565-600): pairwise margin ranking with corrupt-object negatives. Here
one distributed DataFrame-SGD trainer (:func:`fit`, :func:`train_epoch`,
:func:`init_params`) runs every family, driven by a small
:class:`Family` record — ``fit(TRANSE | HOLE | RESCAL, triples, n)``.
The numpy replicas (``numpy_transe``/``numpy_hole``/``numpy_rescal``)
re-train Spark-free with identical float-op order; the ``*_oracle_sql``
builders embed their tables, so trained scores are checked exactly.
ProjE's TF trainer stays out; :func:`numpy_proje_fit` is a driver-side
stand-in.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgspark.hashing import phash32, sql_phash32
from kgspark.simsearch import _DOT, ccorr_col, _dot

DIM_EMB = 16


def hash_embedding(id_col: Column, salt: str, d: int = DIM_EMB) -> Column:
    """Deterministic embedding: vec[i] = (h(salt|id|i) % 1000)/1000 − 0.5."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda i: (phash32([id_col, i], salt) % 1000) / 1000.0 - 0.5,
    )


def hole_scores(triples: DataFrame, d: int = DIM_EMB) -> DataFrame:
    """→ (s, p, o, score): the reference's HolE triple score
    (embeddings.py:636) over hash-derived vectors — one narrow
    projection, no shuffle; at 100 TB this is embarrassingly parallel."""
    es = hash_embedding(F.col("s"), "he", d)
    eo = hash_embedding(F.col("o"), "he", d)
    rp = hash_embedding(F.col("p"), "hr", d)
    score = F.round(_dot(rp, ccorr_col(es, eo, d)), 6)
    return triples.select("s", "p", "o", score.alias("score"))


def proje_scores(triples: DataFrame, d: int = DIM_EMB) -> DataFrame:
    """→ (s, p, o, score): ProjE 'simple'-mode triple score — the fourth
    of the reference's embedding-model families (embeddings.py:404-448
    test/predict_proba: hr = h⊙w₁ + r⊙w₂, score = (tanh(hr)·h +
    tanh(hr)·o)/2 with zero-init combination bias). The TF trainer
    (embeddings.py:164-400) needs TensorFlow (absent), so like RESCAL
    this is the SCORING surface over deterministic hash-derived
    parameters: pure column algebra, zero joins/shuffles, with the
    global combination weights as hash vectors. Trained parameters slot
    in as a broadcast (p-independent) weight row without changing the
    composition."""
    es = hash_embedding(F.col("s"), "pe", d)
    eo = hash_embedding(F.col("o"), "pe", d)
    rp = hash_embedding(F.col("p"), "pr", d)
    w1 = hash_embedding(F.lit(0), "pw1", d)
    w2 = hash_embedding(F.lit(0), "pw2", d)
    hr = F.zip_with(F.zip_with(es, w1, lambda a, b: a * b),
                    F.zip_with(rp, w2, lambda a, b: a * b),
                    lambda a, b: a + b)
    # tanh via the exp identity — the same formula the DuckDB oracle
    # evaluates (its build has no tanh), keeping both sides' float ops
    # aligned like the sigmoid in the LR scoring oracles
    c = F.transform(hr, lambda x: 1.0 - 2.0 / (F.exp(2.0 * x) + 1.0))
    score = F.round((_dot(c, es) + _dot(c, eo)) / 2.0, 6)
    return triples.select("s", "p", "o", score.alias("score"))


def proje_scores_trained(triples: DataFrame, E: DataFrame, R: DataFrame,
                         w1: list[float], w2: list[float],
                         d: int = DIM_EMB) -> DataFrame:
    """→ (s, p, o, score): ProjE 'simple' scoring with TRAINED
    parameters slotted in — entity/relation tables joined (R
    broadcast), the global combination weights w1/w2 as literal arrays
    (a broadcast parameter row: p-independent, so it never shuffles).
    Same composition as :func:`proje_scores`, exercising the documented
    claim that trained parameters drop into the hash-substrate surface
    unchanged. The full TF trainer (reference embeddings.py:164-400) is
    TF-bound; :func:`numpy_proje_fit` provides a driver-side
    margin-SGD fit for fixture-scale parameters."""
    w1c = F.array(*[F.lit(float(x)) for x in w1])
    w2c = F.array(*[F.lit(float(x)) for x in w2])
    t = (
        triples
        .join(E.select(F.col("e").alias("s"), F.col("vec").alias("es")), "s")
        .join(E.select(F.col("e").alias("o"), F.col("vec").alias("eo")), "o")
        .join(F.broadcast(R.select("p", F.col("vec").alias("rp"))), "p")
    )
    hr = F.zip_with(F.zip_with(F.col("es"), w1c, lambda a, b: a * b),
                    F.zip_with(F.col("rp"), w2c, lambda a, b: a * b),
                    lambda a, b: a + b)
    c = F.transform(hr, lambda x: 1.0 - 2.0 / (F.exp(2.0 * x) + 1.0))
    t = t.select("s", "p", "o", "es", "eo", c.alias("_c"))
    score = F.round((_dot(F.col("_c"), F.col("es"))
                     + _dot(F.col("_c"), F.col("eo"))) / 2.0, 6)
    return t.select("s", "p", "o", score.alias("score"))


def numpy_proje_fit(rows: list[tuple[int, int, int]], n_entities: int,
                    d: int = DIM_EMB, epochs: int = 2, lr: float = 0.1,
                    margin: float = 1.0):
    """Driver-side margin-SGD fit of the ProjE 'simple' parameters
    (E, R, w1, w2) — the fixture-scale stand-in for the reference's TF
    trainer (embeddings.py:164-400; TF absent here). Same recipe as the
    other replicas: hash-substrate init, content-keyed corrupt-object
    negatives (salt ``pjneg``), pairwise hinge on the raw score. This
    is a small dense model (entities on the fixture KG), so a
    distributed fit buys nothing — the trained params broadcast into
    :func:`proje_scores_trained`."""
    import math

    from kgspark.simsearch import _py_phash32

    def vec(salt: str, ident) -> list[float]:
        return [(_py_phash32(f"{salt}|{ident}|{i}") % 1000) / 1000.0 - 0.5
                for i in range(d)]

    def tanh(x):
        return 1.0 - 2.0 / (math.exp(2.0 * x) + 1.0)

    ents = sorted({r[0] for r in rows} | {r[2] for r in rows})
    E = {e: vec("pe", e) for e in ents}
    R = {p: vec("pr", p) for p in sorted({r[1] for r in rows})}
    w1, w2 = vec("pw1", 0), vec("pw2", 0)

    def fgrad(h, r, o):
        """score + gradients wrt (h, r, o, w1, w2)."""
        hr = [h[i] * w1[i] + r[i] * w2[i] for i in range(d)]
        c = [tanh(x) for x in hr]
        f = sum(c[i] * (h[i] + o[i]) for i in range(d)) / 2.0
        gh, gr, go, g1, g2 = [], [], [], [], []
        for i in range(d):
            dci = (1.0 - c[i] * c[i]) * (h[i] + o[i]) / 2.0
            gh.append(c[i] / 2.0 + dci * w1[i])
            go.append(c[i] / 2.0)
            gr.append(dci * w2[i])
            g1.append(dci * h[i])
            g2.append(dci * r[i])
        return f, gh, gr, go, g1, g2

    for ep in range(epochs):
        for s, p, o in rows:
            oneg = (_py_phash32(f"pjneg|{s}|{p}|{o}|{ep}") % n_entities) + 1
            if oneg not in E:
                continue
            fp, ghp, grp, gop, g1p, g2p = fgrad(E[s], R[p], E[o])
            fn, ghn, grn, gon, g1n, g2n = fgrad(E[s], R[p], E[oneg])
            if margin - fp + fn <= 0:
                continue
            # descend the hinge: +∂f_pos, −∂f_neg
            E[s] = [v + lr * (a - b) for v, a, b in zip(E[s], ghp, ghn)]
            E[o] = [v + lr * a for v, a in zip(E[o], gop)]
            E[oneg] = [v - lr * a for v, a in zip(E[oneg], gon)]
            R[p] = [v + lr * (a - b) for v, a, b in zip(R[p], grp, grn)]
            w1 = [v + lr * (a - b) for v, a, b in zip(w1, g1p, g1n)]
            w2 = [v + lr * (a - b) for v, a, b in zip(w2, g2p, g2n)]
    return E, R, w1, w2


def rescal_w(p_col: Column, d: int = DIM_EMB) -> Column:
    """Deterministic d×d relation matrix W_p (row-major nested arrays)
    from the hash substrate: W[i][j] = (h('rw'|p|i|j) % 1000)/1000 − 0.5."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda i: F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda j: (phash32([p_col, i, j], "rw") % 1000) / 1000.0 - 0.5))


def rescal_scores(triples: DataFrame, d: int = DIM_EMB) -> DataFrame:
    """→ (s, p, o, score): RESCAL bilinear triple score
    eₛᵀ · W_p · e_o — the third of the reference's four embedding-model
    families (embeddings.py drives skge's RESCAL the same way it drives
    HolE; TF-ProjE is the only family left unported — no TF here).

    Pure column algebra like :func:`hole_scores`: W_p·e_o first (d
    sequential row dots), then eₛ against that — both folds are the
    JVM sequential _dot, bit-identical to DuckDB's list_dot_product,
    so the oracle reconstructs exact values. Zero joins / shuffles —
    embarrassingly parallel at any scale. With TRAINED parameters the
    same contraction applies after a broadcast join of a (p, W) table
    (R relations × d² floats — a broadcast dim at any realistic R).
    """
    es = hash_embedding(F.col("s"), "re", d)
    eo = hash_embedding(F.col("o"), "re", d)
    wv = F.transform(rescal_w(F.col("p"), d), lambda row: _dot(row, eo))
    return triples.select(
        "s", "p", "o", F.round(_dot(es, wv), 6).alias("score"))


# -------------------------------------------- margin-ranking training (M9)

TE_DIM = 16
TE_LR = 0.1
TE_MARGIN = 1.0
TE_EPOCHS = 2
HO_MARGIN = 0.2  # skge default (reference embeddings.py:566 margin=0.2)
HO_LR = 0.1
HO_EPOCHS = 2
RS_LR = 0.1
RS_MARGIN = 1.0
RS_EPOCHS = 2


@dataclass(frozen=True)
class Family:
    """One margin-ranking embedding family for :func:`fit`.

    Holds the hash-substrate salts of the entity/relation tables and of
    the corrupt-object negatives, the default hyper-parameters, whether
    the relation parameter is a row-major-flattened d×d matrix (width d²)
    rather than a d-vector, and the gradient stage
    ``grads(t, margin, deterministic)``: it maps the joined per-triple
    rows (s, _tp, o, o_neg, es, eo, en, rp) to the ACTIVE rows (hinge
    satisfied) with their gradients (s, _tp, o, o_neg, g_s, g_o, g_n,
    g_r). Everything else — init, negatives, joins, the gradient fold
    and the update — is shared."""

    ent_salt: str
    rel_salt: str
    neg_salt: str
    lr: float
    margin: float
    epochs: int
    grads: Callable[[DataFrame, float, bool], DataFrame]
    rel_matrix: bool = False

    def rel_width(self, d: int) -> int:
        return d * d if self.rel_matrix else d


def _l2norm_rows(tab: DataFrame, vec: str = "vec") -> DataFrame:
    n = F.sqrt(_dot(F.col(vec), F.col(vec)))
    n = F.when(n == 0, F.lit(1.0)).otherwise(n)
    return tab.withColumn(vec, F.transform(F.col(vec), lambda x: x / n))


def init_params(fam: Family, triples: DataFrame, d: int = TE_DIM
                ) -> tuple[DataFrame, DataFrame]:
    """Deterministic initial (entity, relation) parameter tables from the
    hash substrate — identical in the family's numpy oracle replica."""
    ents = (triples.select(F.col("s").alias("e"))
            .unionByName(triples.select(F.col("o").alias("e"))).distinct())
    rels = triples.select(F.col("p")).distinct()
    E = ents.select("e", hash_embedding(F.col("e"), fam.ent_salt, d)
                    .alias("vec"))
    R = rels.select("p", hash_embedding(F.col("p"), fam.rel_salt,
                                        fam.rel_width(d)).alias("vec"))
    return E, R


def train_epoch(fam: Family, triples: DataFrame, E: DataFrame,
                R: DataFrame, n_entities: int, epoch: int, d: int = TE_DIM,
                lr: float | None = None, margin: float | None = None,
                deterministic: bool = True
                ) -> tuple[DataFrame, DataFrame]:
    """One distributed SGD epoch of margin-ranking training.

    Reference analog: the skge/TF trainers behind embeddings.py:24-60
    and 565-600 (pairwise margin ranking with corrupt-object negatives).
    Spark-first shape: entity vectors are normalized, per-triple
    gradient contributions come from joins against the (entity|relation,
    vec) tables, then summed per parameter. Negatives are content-keyed
    corrupt-objects (epoch-salted), the reference's corruption scheme
    without rejection (documented simplification). ``lr``/``margin``
    default to the family's.

    Two gradient-accumulation modes:

    * ``deterministic=True`` (fixture/oracle mode): the per-parameter
      sum folds a SORTED ``collect_list`` — order-deterministic float
      addition, bit-identical to the numpy oracle replica. The list per
      entity grows with entity DEGREE, which on a real KG is unbounded
      (a hub entity collects millions of structs into one row), so this
      mode is for corpora small enough to oracle.
    * ``deterministic=False`` (scale mode, the large-corpus default via
      :func:`fit`): plain per-slot ``F.sum`` partial aggregation —
      map-side combine, no per-entity array, hub entities cost O(d)
      state per partition instead of O(degree·d) in one row. Float sums
      are partition-order-dependent (≈1 ulp noise), which SGD tolerates.
    """
    from kgspark.hashing import pick_mod
    from kgspark.util import materialize

    # checkpoint the normalized table: it is joined three times below
    # (s / o / corrupt-o sides), and the normalization's nested
    # higher-order expression must not be re-bound per alias
    E = materialize(_l2norm_rows(E))
    # rename the relation key on the fact side: a shared column name
    # across the broadcast build side trips attribute dedup in the
    # composed per-epoch plan (p of the triples mis-binds into the R
    # scan) — distinct names keep resolution unambiguous
    t = triples.select("s", F.col("p").alias("_tp"), "o").withColumn(
        "o_neg",
        pick_mod([F.col("s"), F.col("_tp"), F.col("o"), F.lit(epoch)],
                 n_entities, fam.neg_salt) + 1)
    t = (
        t.join(E.select(F.col("e").alias("s"), F.col("vec").alias("es")), "s")
        .join(E.select(F.col("e").alias("o"), F.col("vec").alias("eo")), "o")
        .join(E.select(F.col("e").alias("o_neg"),
                       F.col("vec").alias("en")), "o_neg", "left")
        .join(F.broadcast(R.withColumnRenamed("vec", "rp")),
              F.col("_tp") == F.col("p"))
        .drop("p")
    )
    g = fam.grads(t, fam.margin if margin is None else margin,
                  deterministic)
    return _apply_grads(E, R, g, d, fam.lr if lr is None else lr,
                        deterministic, d_r=fam.rel_width(d))


def _apply_grads(E: DataFrame, R: DataFrame, t: DataFrame, d: int,
                 lr: float, deterministic: bool, d_r: int | None = None
                 ) -> tuple[DataFrame, DataFrame]:
    """Shared SGD-update machinery: fold the per-triple gradient table
    ``t`` (s, _tp, o, o_neg, g_s, g_o, g_n, g_r) per entity/relation and
    apply ``x ← x − lr·Σg`` — the deterministic sorted fold or the
    hub-safe partial-sum aggregate (see :func:`train_epoch`).

    ``d_r`` is the relation-parameter width when it differs from the
    entity width ``d`` (RESCAL folds a row-major-flattened d×d matrix,
    so d_r = d²)."""
    d_r = d if d_r is None else d_r
    # role index (0=subject, 1=object, 2=corrupt object) disambiguates
    # multiple same-triple contributions to one entity (s == o self-loops)
    contrib = t.select(
        F.explode(F.array(
            F.struct(F.lit(0).alias("i"), F.col("s").alias("e"),
                     F.col("g_s").alias("g")),
            F.struct(F.lit(1).alias("i"), F.col("o").alias("e"),
                     F.col("g_o").alias("g")),
            F.struct(F.lit(2).alias("i"), F.col("o_neg").alias("e"),
                     F.col("g_n").alias("g")),
        )).alias("c"),
        F.concat_ws("|", "s", "_tp", "o").alias("_k"),
    ).select(F.col("c.e").alias("e"), F.col("c.i").alias("_i"),
             F.col("c.g").alias("g"), "_k")

    if deterministic:
        def folded(grp: DataFrame, key: str, width: int) -> DataFrame:
            zero = F.array(*[F.lit(0.0) for _ in range(width)])
            lst = F.array_sort(F.collect_list(F.struct(
                F.col("_k").alias("k"), F.col("_i").alias("i"),
                F.col("g").alias("g"))))
            acc = F.aggregate(
                lst, zero,
                lambda a, s: F.zip_with(a, s["g"], lambda x, y: x + y))
            return grp.groupBy(key).agg(acc.alias("grad"))

        ge = folded(contrib, "e", d)
        gr = folded(
            t.select(F.col("_tp").alias("p"), F.lit(0).alias("_i"),
                     F.col("g_r").alias("g"),
                     F.concat_ws("|", "s", "_tp", "o").alias("_k")),
            "p", d_r)
    else:
        # scale mode: per-slot partial sums — a plain hash aggregate
        # with map-side combine; no collect_list, no per-entity array
        def summed(grp: DataFrame, key: str, width: int) -> DataFrame:
            agg = grp.groupBy(key).agg(
                *[F.sum(F.col("g")[i]).alias(f"_g{i}")
                  for i in range(width)])
            return agg.select(
                key, F.array(*[F.col(f"_g{i}") for i in range(width)])
                .alias("grad"))

        ge = summed(contrib, "e", d)
        gr = summed(
            t.select(F.col("_tp").alias("p"), F.col("g_r").alias("g")),
            "p", d_r)

    # gradient tables derive FROM E/R, so rename their keys before the
    # self-join (attribute-lineage disambiguation)
    ge = ge.select(F.col("e").alias("_ge"), "grad")
    gr = gr.select(F.col("p").alias("_gp"), "grad")
    E2 = E.join(ge, F.col("e") == F.col("_ge"), "left").select(
        "e",
        F.when(F.col("grad").isNull(), F.col("vec")).otherwise(
            F.zip_with("vec", "grad", lambda v, g: v - lr * g)).alias("vec"))
    R2 = R.join(gr, F.col("p") == F.col("_gp"), "left").select(
        "p",
        F.when(F.col("grad").isNull(), F.col("vec")).otherwise(
            F.zip_with("vec", "grad", lambda v, g: v - lr * g)).alias("vec"))
    return E2, R2


# Above this entity count fit defaults to the scale-mode (partial-sum)
# gradient aggregation: entity degree — the sorted fold's per-row
# memory — is unbounded on real KGs, and a corpus this large is past
# oracle scale anyway.
TE_DETERMINISTIC_MAX = 1_000_000

# The sorted fold's real cost is the largest per-key collect_list — the
# MAX entity degree, not the entity count: a sub-1M-entity KG with one
# 10⁶-degree hub would still blow an executor. The auto-switch therefore
# also bounds degree; above this the partial-sum mode is forced.
TE_DETERMINISTIC_MAX_DEGREE = 50_000


def _auto_deterministic(triples: DataFrame, n_entities: int) -> bool:
    """Pick the gradient path when the caller didn't: the
    bit-reproducible sorted fold only when BOTH the entity count and the
    max in/out-degree (one aggregate over ``triples``) are bounded —
    otherwise the hub-safe partial-sum mode."""
    if n_entities > TE_DETERMINISTIC_MAX:
        return False
    deg = (
        triples.select(F.col("s").alias("e"))
        .unionAll(triples.select(F.col("o").alias("e")))
        .groupBy("e").count()
        .agg(F.max("count").alias("m")).first()["m"]
    )
    return (deg or 0) <= TE_DETERMINISTIC_MAX_DEGREE


def fit(fam: Family, triples: DataFrame, n_entities: int, d: int = TE_DIM,
        epochs: int | None = None, lr: float | None = None,
        margin: float | None = None, deterministic: bool | None = None
        ) -> tuple[DataFrame, DataFrame]:
    """Distributed margin-ranking fit of ``fam`` → (E(e, vec), R(p, vec));
    each epoch is checkpointed (the iterative-algorithm
    lineage-truncation pattern). ``epochs``/``lr``/``margin`` default to
    the family's.

    ``deterministic=None`` auto-selects the gradient path: the
    bit-reproducible sorted fold (oracle parity) only when both the
    entity count (``TE_DETERMINISTIC_MAX``) and the max in/out-degree
    (``TE_DETERMINISTIC_MAX_DEGREE`` — the fold's actual per-key
    memory bound) are small; the hub-safe partial-sum aggregation
    otherwise (see :func:`train_epoch`); pass an explicit bool to
    force either."""
    from kgspark.util import materialize

    if deterministic is None:
        deterministic = _auto_deterministic(triples, n_entities)
    E, R = init_params(fam, triples, d)
    E, R = materialize(E), materialize(R)
    for ep in range(fam.epochs if epochs is None else epochs):
        E, R = train_epoch(fam, triples, E, R, n_entities, ep, d, lr,
                           margin, deterministic)
        E, R = materialize(E), materialize(R)
    return E, R


# ------------------------------------------------------- gradient stages

def _transe_grads(t: DataFrame, margin: float,
                  deterministic: bool) -> DataFrame:
    """Squared-L2 TransE hinge gradients as JVM column algebra (no
    Python UDF in the plan). With δ± = eₛ + r − e_o(') the active rows
    carry ∂/∂eₛ = ∂/∂r = 2δ⁺ − 2δ⁻, ∂/∂e_o = −2δ⁺, ∂/∂e_o' = 2δ⁻."""
    from kgspark.util import materialize

    # a corrupt id may miss the entity table (ids are dense 1..n so it
    # should not, but stay total): missing negative → inactive triple
    dp = F.zip_with(F.zip_with(F.col("es"), F.col("rp"),
                               lambda a, b: a + b),
                    F.col("eo"), lambda a, b: a - b)
    dn = F.zip_with(F.zip_with(F.col("es"), F.col("rp"),
                               lambda a, b: a + b),
                    F.coalesce(F.col("en"), F.col("eo")),
                    lambda a, b: a - b)
    act = (F.col("en").isNotNull()
           & (F.lit(margin) + _dot(dp, dp) - _dot(dn, dn) > 0))
    g_sp = F.zip_with(dp, dn, lambda a, b: 2.0 * a - 2.0 * b)  # ∂/∂es, ∂/∂rp
    g_o = F.transform(dp, lambda a: -2.0 * a)                  # ∂/∂eo
    g_n = F.transform(dn, lambda a: 2.0 * a)                   # ∂/∂en
    # checkpoint the per-triple gradient rows: the downstream fold +
    # parameter-update self-joins re-reference this subtree several
    # times, and truncating here keeps the per-epoch plan flat
    g = materialize(t.where(act).select(
        "s", "_tp", "o", "o_neg",
        g_sp.alias("g_s"), g_o.alias("g_o"), g_n.alias("g_n")))
    return g.withColumn("g_r", F.col("g_s"))


_KEY_COLS = ("s", "_tp", "o", "o_neg")
_EMB_COLS = ("es", "eo", "en", "rp")
_GRAD_SCHEMA = ("s long, _tp int, o long, o_neg long, "
                "g_s array<double>, g_o array<double>, "
                "g_n array<double>, g_r array<double>")


def _arrow_grads(seq: Callable, vec: Callable) -> Callable:
    """Gradient stage running a family's per-triple math in ONE
    Arrow-batched ``mapInPandas`` pass per epoch.

    HolE/RESCAL epochs are dense fixed-order linear algebra per triple
    (circular correlations, mat-vecs, outer products); expressing that
    in JVM column algebra is either interpreted per slot (higher-order
    lambdas) or a ~20k-node unrolled plan whose codegen compile
    dominates the epoch — exactly the case the Pandas-UDF escape hatch
    exists for. The joins and the gradient application stay JVM-side.

    ``seq`` and ``vec`` take (es, eo, en, rp) and return (f⁺, f⁻,
    grads): the raw scores and a thunk → the gradients of the hinge
    margin − f⁺ + f⁻ wrt (eₛ, e_o', r); wrt e_o it is the negated e_o'
    gradient for both families. ``seq`` works on one triple's
    python-float lists in the exact op order of the numpy replica
    (``deterministic=True``, oracle-bit-exact); ``vec`` on stacked n-row
    arrays with ``np.einsum`` (``deterministic=False``, order-free float
    sums, ~100× the throughput — the large-corpus default, pairing with
    the partial-sum fold downstream)."""

    def stage(t: DataFrame, margin: float,
              deterministic: bool) -> DataFrame:
        from kgspark.util import materialize

        def batches(it):
            import numpy as np
            import pandas as pd

            for pdf in it:
                # a corrupt id that missed the entity table → inactive
                pdf = pdf[pdf["en"].notna().to_numpy()]
                if not len(pdf):
                    continue
                if deterministic:
                    out = [seq(*[[float(x) for x in v] for v in row])
                           for row in zip(*(pdf[c] for c in _EMB_COLS))]
                    act = np.array([margin + fn - fp > 0
                                    for fp, fn, _ in out], dtype=bool)
                    if not act.any():
                        continue
                    g_s, g_n, g_r = (np.array(g) for g in zip(
                        *[grads() for (_, _, grads), a in zip(out, act)
                          if a]))
                else:
                    fp, fn, grads = vec(*[np.stack(pdf[c].to_numpy())
                                          for c in _EMB_COLS])
                    act = margin + fn - fp > 0
                    if not act.any():
                        continue
                    g_s, g_n, g_r = (g[act] for g in grads())
                sel = pdf[act]
                yield pd.DataFrame({
                    **{c: sel[c].tolist() for c in _KEY_COLS},
                    "g_s": list(g_s), "g_o": list(-g_n), "g_n": list(g_n),
                    "g_r": list(g_r)})

        return materialize(
            t.select(*_KEY_COLS, *_EMB_COLS)
            .mapInPandas(batches, _GRAD_SCHEMA))

    return stage


def _sdot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _hole_seq(es, eo, en, rp):
    """HolE, η = r·ccorr(s,o): ∂η/∂s = ccorr(r,o), ∂η/∂o = cconv(r,s),
    ∂η/∂r = ccorr(s,o); sequential folds in :func:`numpy_hole` order."""
    d = len(es)

    def cc(a, b):
        return [_sdot(a, [b[(i + k) % d] for i in range(d)])
                for k in range(d)]

    ccp, ccn = cc(es, eo), cc(es, en)
    return _sdot(rp, ccp), _sdot(rp, ccn), lambda: (
        [a - b for a, b in zip(cc(rp, en), cc(rp, eo))],
        [_sdot(rp, [es[(j - k) % d] for k in range(d)]) for j in range(d)],
        [a - b for a, b in zip(ccn, ccp)])


def _hole_vec(es, eo, en, rp):
    """Batched :func:`_hole_seq`: einsum over rolled index tensors."""
    import numpy as np

    d = es.shape[1]
    idx_cc = np.array([[(i + k) % d for i in range(d)] for k in range(d)])
    idx_cv = np.array([[(j - k) % d for k in range(d)] for j in range(d)])

    def cc(a, b):
        return np.einsum("ni,nki->nk", a, b[:, idx_cc])

    ccp, ccn = cc(es, eo), cc(es, en)
    return (np.einsum("nk,nk->n", rp, ccp), np.einsum("nk,nk->n", rp, ccn),
            lambda: (cc(rp, en) - cc(rp, eo),
                     np.einsum("nk,njk->nj", rp, es[:, idx_cv]),
                     ccn - ccp))


def _rescal_seq(es, eo, en, w):
    """RESCAL, f = eₛᵀ·W_p·e_o (W_p flattened row-major):
    ∂f/∂eₛ = W_p·e_o, ∂f/∂e_o = W_pᵀ·eₛ, ∂f/∂W_p = eₛ⊗e_o; sequential
    mat-vec folds in :func:`numpy_rescal` order."""
    d = len(es)

    def mv(v):  # W·v, sequential row folds
        return [_sdot(w[i * d:(i + 1) * d], v) for i in range(d)]

    wvp, wvn = mv(eo), mv(en)
    return _sdot(es, wvp), _sdot(es, wvn), lambda: (
        [a - b for a, b in zip(wvn, wvp)],
        [_sdot(w[j::d], es) for j in range(d)],  # Wᵀ·eₛ
        [es[i] * (en[j] - eo[j]) for i in range(d) for j in range(d)])


def _rescal_vec(es, eo, en, w):
    """Batched :func:`_rescal_seq`: einsum mat-vecs and outer products."""
    import numpy as np

    n, d = es.shape
    W3 = w.reshape(n, d, d)
    wvp = np.einsum("nij,nj->ni", W3, eo)
    wvn = np.einsum("nij,nj->ni", W3, en)
    return (np.einsum("ni,ni->n", es, wvp), np.einsum("ni,ni->n", es, wvn),
            lambda: (wvn - wvp, np.einsum("nij,ni->nj", W3, es),
                     np.einsum("ni,nj->nij", es, en - eo)
                     .reshape(n, d * d)))


# Squared-L2 TransE, score −‖eₛ + r − e_o‖².
TRANSE = Family("te", "tr", "teneg", TE_LR, TE_MARGIN, TE_EPOCHS,
                _transe_grads)
# HolE, skge's trainer behind the reference's SKGEWrapper
# (embeddings.py:565-600). The hinge is on the RAW composition η rather
# than skge's sigmoid activation (documented simplification — every
# gradient stays polynomial, so the numpy replica is bit-exact with no
# exp-implementation caveat).
HOLE = Family("hoe", "hor", "honeg", HO_LR, HO_MARGIN, HO_EPOCHS,
              _arrow_grads(_hole_seq, _hole_vec))
# RESCAL, which the reference drives through skge like HolE; the
# bilinear gradients are closed-form, so no TF/skge is needed.
RESCAL = Family("rse", "rsw", "rsneg", RS_LR, RS_MARGIN, RS_EPOCHS,
                _arrow_grads(_rescal_seq, _rescal_vec), rel_matrix=True)


# ------------------------------------------------ trained-parameter scoring


def transe_scores(triples: DataFrame, E: DataFrame, R: DataFrame) -> DataFrame:
    """→ (s, p, o, score): score = −‖E[s]+R[p]−E[o]‖² (higher = more
    plausible), the reference's TransE scoring surface."""
    t = (
        triples
        .join(E.select(F.col("e").alias("s"), F.col("vec").alias("es")), "s")
        .join(E.select(F.col("e").alias("o"), F.col("vec").alias("eo")), "o")
        .join(F.broadcast(R.select("p", F.col("vec").alias("rp"))), "p")
    )
    dv = F.zip_with(F.zip_with(F.col("es"), F.col("rp"), lambda a, b: a + b),
                    F.col("eo"), lambda a, b: a - b)
    return t.select("s", "p", "o",
                    F.round(-_dot(dv, dv), 6).alias("score"))


def _chain_dot(a: Column, b: Column, idxs: list[int]) -> Column:
    """Σ_i a[i]·b[idxs[i]] as a LEFT-ASSOCIATED plain-arithmetic chain —
    value-identical to the sequential HOF fold (0.0+p₀ ≡ p₀, then the
    same add order) but whole-stage-codegen-able: higher-order lambdas
    (aggregate/zip_with) evaluate interpreted per row, which made the
    HOF formulation of the HolE epoch ~35× slower than this unrolling
    at d=16."""
    expr = a[0] * b[idxs[0]]
    for i in range(1, len(idxs)):
        expr = expr + a[i] * b[idxs[i]]
    return expr


def ccorr_fast(a: Column, b: Column, d: int) -> Column:
    """Unrolled :func:`kgspark.simsearch.ccorr_col` (same values):
    ccorr(a,b)[k] = Σ_i a[i]·b[(i+k) mod d]."""
    return F.array(*[
        _chain_dot(a, b, [(i + k) % d for i in range(d)])
        for k in range(d)])


def hole_trained_scores(triples: DataFrame, E: DataFrame, R: DataFrame,
                        d: int = TE_DIM) -> DataFrame:
    """→ (s, p, o, score): η = R[p]·ccorr(E[s], E[o]) over TRAINED
    tables — the reference's HolE scoring surface (embeddings.py:636)
    with the fitted parameters joined in."""
    t = (
        triples
        .join(E.select(F.col("e").alias("s"), F.col("vec").alias("es")), "s")
        .join(E.select(F.col("e").alias("o"), F.col("vec").alias("eo")), "o")
        .join(F.broadcast(R.select("p", F.col("vec").alias("rp"))), "p")
    )
    cc = ccorr_fast(F.col("es"), F.col("eo"), d)
    t = t.select("s", "p", "o", cc.alias("_cc"), "rp")
    sc = _chain_dot(F.col("rp"), F.col("_cc"), list(range(d)))
    return t.select("s", "p", "o", F.round(sc, 6).alias("score"))


def rescal_trained_scores(triples: DataFrame, E: DataFrame, W: DataFrame,
                          d: int = TE_DIM) -> DataFrame:
    """→ (s, p, o, score): eₛᵀ·W_p·e_o over TRAINED tables — the RESCAL
    scoring surface with fitted parameters joined in (entity vectors as
    two hash joins, the R×d² relation-matrix table broadcast). The
    contraction is the unrolled left-associated chain (≡ the sequential
    fold, whole-stage-codegen-able — see :func:`_chain_dot`)."""
    t = (
        triples
        .join(E.select(F.col("e").alias("s"), F.col("vec").alias("es")), "s")
        .join(E.select(F.col("e").alias("o"), F.col("vec").alias("eo")), "o")
        .join(F.broadcast(W.select("p", F.col("vec").alias("wp"))), "p")
    )
    wv = F.array(*[
        _flat_row_dot(F.col("wp"), F.col("eo"), i, d) for i in range(d)])
    t = t.select("s", "p", "o", "es", wv.alias("_wv"))
    sc = _chain_dot(F.col("es"), F.col("_wv"), list(range(d)))
    return t.select("s", "p", "o", F.round(sc, 6).alias("score"))


def _flat_row_dot(w: Column, v: Column, i: int, d: int) -> Column:
    """Row ``i`` of the flattened d×d matrix ``w`` dotted with ``v`` as
    a left-associated chain — value-identical to the sequential fold."""
    expr = w[i * d] * v[0]
    for j in range(1, d):
        expr = expr + w[i * d + j] * v[j]
    return expr


def numpy_rescal(rows: list[tuple[int, int, int]], n_entities: int,
                 d: int = TE_DIM, epochs: int = RS_EPOCHS,
                 lr: float = RS_LR, margin: float = RS_MARGIN):
    """Spark-free replica of :func:`fit_rescal` with IDENTICAL float-op
    ORDER (sequential mat-vec folds, sorted gradient accumulation) —
    pytest parity reference and driver-oracle builder. Returns
    ({e: vec_d}, {p: flat_vec_d2})."""
    from kgspark.simsearch import _py_phash32

    def vec(salt: str, ident, width: int) -> list[float]:
        return [(_py_phash32(f"{salt}|{ident}|{i}") % 1000) / 1000.0 - 0.5
                for i in range(width)]

    def sdot(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def mv(w, v):
        out = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc += w[i * d + j] * v[j]
            out.append(acc)
        return out

    def mtv(w, v):
        out = []
        for j in range(d):
            acc = 0.0
            for i in range(d):
                acc += w[i * d + j] * v[i]
            out.append(acc)
        return out

    ents = sorted({r[0] for r in rows} | {r[2] for r in rows})
    E = {e: vec("rse", e, d) for e in ents}
    W = {p: vec("rsw", p, d * d) for p in sorted({r[1] for r in rows})}
    for ep in range(epochs):
        for e, v in E.items():
            n = sdot(v, v) ** 0.5 or 1.0
            E[e] = [x / n for x in v]
        ce: dict[int, list] = {}
        cw: dict[int, list] = {}
        for s, p, o in rows:
            oneg = (_py_phash32(f"rsneg|{s}|{p}|{o}|{ep}") % n_entities) + 1
            if oneg not in E:
                continue
            wvp, wvn = mv(W[p], E[o]), mv(W[p], E[oneg])
            if margin + sdot(E[s], wvn) - sdot(E[s], wvp) > 0:
                k = f"{s}|{p}|{o}"
                wt = mtv(W[p], E[s])
                ce.setdefault(s, []).append(
                    (k, 0, [a - b for a, b in zip(wvn, wvp)]))
                ce.setdefault(o, []).append((k, 1, [-x for x in wt]))
                ce.setdefault(oneg, []).append((k, 2, wt))
                cw.setdefault(p, []).append(
                    (k, 0, [E[s][i] * (E[oneg][j] - E[o][j])
                            for i in range(d) for j in range(d)]))
        for e, lst in ce.items():
            grad = [0.0] * d
            for _, _, g in sorted(lst, key=lambda x: (x[0], x[1])):
                grad = [a + b for a, b in zip(grad, g)]
            E[e] = [v - lr * g for v, g in zip(E[e], grad)]
        for p, lst in cw.items():
            grad = [0.0] * (d * d)
            for _, _, g in sorted(lst, key=lambda x: (x[0], x[1])):
                grad = [a + b for a, b in zip(grad, g)]
            W[p] = [v - lr * g for v, g in zip(W[p], grad)]
    return E, W


def numpy_transe(rows: list[tuple[int, int, int]], n_entities: int,
                 d: int = TE_DIM, epochs: int = TE_EPOCHS,
                 lr: float = TE_LR, margin: float = TE_MARGIN):
    """Spark-free replica of :func:`fit_transe` with IDENTICAL float-op
    ORDER (sequential dot folds, sorted gradient accumulation) — the
    pytest parity reference and the driver-oracle builder. Returns
    ({e: vec}, {p: vec}) as python float lists."""
    from kgspark.simsearch import _py_phash32

    def vec(salt: str, ident) -> list[float]:
        return [(_py_phash32(f"{salt}|{ident}|{i}") % 1000) / 1000.0 - 0.5
                for i in range(d)]

    def sdot(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    ents = sorted({r[0] for r in rows} | {r[2] for r in rows})
    E = {e: vec("te", e) for e in ents}
    R = {p: vec("tr", p) for p in sorted({r[1] for r in rows})}
    for ep in range(epochs):
        for e, v in E.items():
            n = sdot(v, v) ** 0.5 or 1.0
            E[e] = [x / n for x in v]
        ce: dict[int, list] = {}
        cr: dict[int, list] = {}
        for s, p, o in rows:
            oneg = (_py_phash32(f"teneg|{s}|{p}|{o}|{ep}") % n_entities) + 1
            if oneg not in E:
                continue
            dp = [(E[s][i] + R[p][i]) - E[o][i] for i in range(d)]
            dn = [(E[s][i] + R[p][i]) - E[oneg][i] for i in range(d)]
            if margin + sdot(dp, dp) - sdot(dn, dn) > 0:
                k = f"{s}|{p}|{o}"
                g_sp = [2.0 * a - 2.0 * b for a, b in zip(dp, dn)]
                ce.setdefault(s, []).append((k, 0, g_sp))
                ce.setdefault(o, []).append((k, 1, [-2.0 * a for a in dp]))
                ce.setdefault(oneg, []).append((k, 2, [2.0 * a for a in dn]))
                cr.setdefault(p, []).append((k, 0, g_sp))
        for e, lst in ce.items():
            grad = [0.0] * d
            for _, _, g in sorted(lst, key=lambda x: (x[0], x[1])):
                grad = [a + b for a, b in zip(grad, g)]
            E[e] = [v - lr * g for v, g in zip(E[e], grad)]
        for p, lst in cr.items():
            grad = [0.0] * d
            for _, _, g in sorted(lst, key=lambda x: (x[0], x[1])):
                grad = [a + b for a, b in zip(grad, g)]
            R[p] = [v - lr * g for v, g in zip(R[p], grad)]
    return E, R


def numpy_hole(rows: list[tuple[int, int, int]], n_entities: int,
               d: int = TE_DIM, epochs: int = HO_EPOCHS,
               lr: float = HO_LR, margin: float = HO_MARGIN):
    """Spark-free replica of :func:`fit_hole` with IDENTICAL float-op
    ORDER (sequential correlation/convolution folds, sorted gradient
    accumulation) — pytest parity reference and driver-oracle builder."""
    from kgspark.simsearch import _py_phash32

    def vec(salt: str, ident) -> list[float]:
        return [(_py_phash32(f"{salt}|{ident}|{i}") % 1000) / 1000.0 - 0.5
                for i in range(d)]

    def sdot(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def cc(a, b) -> list[float]:
        out = []
        for k in range(d):
            acc = 0.0
            for i in range(d):
                acc += a[i] * b[(i + k) % d]
            out.append(acc)
        return out

    def conv(a, b) -> list[float]:
        out = []
        for j in range(d):
            acc = 0.0
            for k in range(d):
                acc += a[k] * b[(j - k) % d]
            out.append(acc)
        return out

    ents = sorted({r[0] for r in rows} | {r[2] for r in rows})
    E = {e: vec("hoe", e) for e in ents}
    R = {p: vec("hor", p) for p in sorted({r[1] for r in rows})}
    for ep in range(epochs):
        for e, v in E.items():
            n = sdot(v, v) ** 0.5 or 1.0
            E[e] = [x / n for x in v]
        ce: dict[int, list] = {}
        cr: dict[int, list] = {}
        for s, p, o in rows:
            oneg = (_py_phash32(f"honeg|{s}|{p}|{o}|{ep}") % n_entities) + 1
            if oneg not in E:
                continue
            ccp, ccn = cc(E[s], E[o]), cc(E[s], E[oneg])
            if margin + sdot(R[p], ccn) - sdot(R[p], ccp) > 0:
                k = f"{s}|{p}|{o}"
                ccro, ccrn = cc(R[p], E[o]), cc(R[p], E[oneg])
                cv = conv(R[p], E[s])
                ce.setdefault(s, []).append(
                    (k, 0, [a - b for a, b in zip(ccrn, ccro)]))
                ce.setdefault(o, []).append((k, 1, [-x for x in cv]))
                ce.setdefault(oneg, []).append((k, 2, cv))
                cr.setdefault(p, []).append(
                    (k, 0, [a - b for a, b in zip(ccn, ccp)]))
        for e, lst in ce.items():
            grad = [0.0] * d
            for _, _, g in sorted(lst, key=lambda x: (x[0], x[1])):
                grad = [a + b for a, b in zip(grad, g)]
            E[e] = [v - lr * g for v, g in zip(E[e], grad)]
        for p, lst in cr.items():
            grad = [0.0] * d
            for _, _, g in sorted(lst, key=lambda x: (x[0], x[1])):
                grad = [a + b for a, b in zip(grad, g)]
            R[p] = [v - lr * g for v, g in zip(R[p], grad)]
    return E, R


# ---------------------------------------------------------------- SQL (oracle)


def _sql_num(x: float) -> str:
    return f"CAST('{float(x)!r}' AS DOUBLE)"  # repr round-trips exactly


def transe_scores_oracle_sql(raw_cte: str, d: int = TE_DIM,
                             epochs: int = TE_EPOCHS, lr: float = TE_LR,
                             margin: float = TE_MARGIN) -> str:
    """Exact oracle for fit_transe → transe_scores: the numpy replica
    (bit-identical float-op order, see numpy_transe) trains Spark-free on
    the SAME triples pulled from DuckDB, and the final embedding tables
    are embedded as VALUES (repr round-trip) — scores are then pure list
    arithmetic in SQL. Same pattern as the PaTyBRED classifier oracles."""
    import duckdb

    from kgspark.dialect import materialize_ctes
    from kgspark.typesys import kg_ctes
    from kgspark.util import oracle_sf_dir

    sf_dir = oracle_sf_dir()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{sf_dir}/documents.parquet')")
    base = kg_ctes(raw_cte)
    rows = con.execute(materialize_ctes(
        f"WITH {base} SELECT s, p, o FROM enc")).fetchall()
    n_ents = con.execute(materialize_ctes(
        f"WITH {base} SELECT count(*) FROM ent")).fetchone()[0]
    con.close()
    E, R = numpy_transe([(r[0], r[1], r[2]) for r in rows], n_ents,
                        d, epochs, lr, margin)

    def vals(tab) -> str:
        return ", ".join(
            f"({k}, [{', '.join(_sql_num(v) for v in vec)}])"
            for k, vec in sorted(tab.items()))

    return f"""
WITH {kg_ctes(raw_cte)},
teE(e, vec) AS (VALUES {vals(E)}),
teR(p, vec) AS (VALUES {vals(R)}),
tej AS (
  SELECT enc.s, enc.p, enc.o,
         es.vec AS esv, eo.vec AS eov, rp.vec AS rpv
  FROM enc
  JOIN teE es ON es.e = enc.s
  JOIN teE eo ON eo.e = enc.o
  JOIN teR rp ON rp.p = enc.p),
tedv AS (
  SELECT s, p, o,
         list_transform(generate_series(1, {d}),
                        i -> (esv[i] + rpv[i]) - eov[i]) AS dv
  FROM tej)
SELECT s, p, o, round(-list_dot_product(dv, dv), 6) AS score FROM tedv
"""


def hole_trained_scores_oracle_sql(raw_cte: str, d: int = TE_DIM,
                                   epochs: int = HO_EPOCHS,
                                   lr: float = HO_LR,
                                   margin: float = HO_MARGIN) -> str:
    """Exact oracle for fit_hole → hole_trained_scores: the numpy
    replica trains Spark-free on the same triples (bit-identical fold
    order, see numpy_hole), final tables embedded as VALUES, and the
    score is the list_dot_product ccorr chain (≡ the Spark folds)."""
    import duckdb

    from kgspark.dialect import materialize_ctes
    from kgspark.typesys import kg_ctes
    from kgspark.util import oracle_sf_dir

    sf_dir = oracle_sf_dir()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{sf_dir}/documents.parquet')")
    base = kg_ctes(raw_cte)
    rows = con.execute(materialize_ctes(
        f"WITH {base} SELECT s, p, o FROM enc")).fetchall()
    n_ents = con.execute(materialize_ctes(
        f"WITH {base} SELECT count(*) FROM ent")).fetchone()[0]
    con.close()
    E, R = numpy_hole([(r[0], r[1], r[2]) for r in rows], n_ents,
                      d, epochs, lr, margin)

    def vals(tab) -> str:
        return ", ".join(
            f"({k}, [{', '.join(_sql_num(v) for v in vec)}])"
            for k, vec in sorted(tab.items()))

    cc = (f"list_transform(generate_series(0, {d - 1}), "
          f"k -> list_dot_product(esv, "
          f"list_concat(list_slice(eov, k + 1, {d}), "
          f"list_slice(eov, 1, k))))")
    return f"""
WITH {kg_ctes(raw_cte)},
hoE(e, vec) AS (VALUES {vals(E)}),
hoR(p, vec) AS (VALUES {vals(R)}),
hoj AS (
  SELECT enc.s, enc.p, enc.o,
         es.vec AS esv, eo.vec AS eov, rp.vec AS rpv
  FROM enc
  JOIN hoE es ON es.e = enc.s
  JOIN hoE eo ON eo.e = enc.o
  JOIN hoR rp ON rp.p = enc.p)
SELECT s, p, o, round(list_dot_product(rpv, {cc}), 6) AS score FROM hoj
"""


def rescal_trained_scores_oracle_sql(raw_cte: str, d: int = TE_DIM,
                                     epochs: int = RS_EPOCHS,
                                     lr: float = RS_LR,
                                     margin: float = RS_MARGIN) -> str:
    """Exact oracle for fit_rescal → rescal_trained_scores: the numpy
    replica trains Spark-free on the same triples (bit-identical
    sequential mat-vec fold order, see numpy_rescal), final tables
    embedded as VALUES, and the score is a list_dot_product chain over
    row slices of the flattened W (≡ the Spark unrolled chains)."""
    import duckdb

    from kgspark.dialect import materialize_ctes
    from kgspark.typesys import kg_ctes
    from kgspark.util import oracle_sf_dir

    sf_dir = oracle_sf_dir()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{sf_dir}/documents.parquet')")
    base = kg_ctes(raw_cte)
    rows = con.execute(materialize_ctes(
        f"WITH {base} SELECT s, p, o FROM enc")).fetchall()
    n_ents = con.execute(materialize_ctes(
        f"WITH {base} SELECT count(*) FROM ent")).fetchone()[0]
    con.close()
    E, W = numpy_rescal([(r[0], r[1], r[2]) for r in rows], n_ents,
                        d, epochs, lr, margin)

    def vals(tab) -> str:
        return ", ".join(
            f"({k}, [{', '.join(_sql_num(v) for v in vec)}])"
            for k, vec in sorted(tab.items()))

    # W·e_o row-wise: row i of the flattened matrix is the 1-based
    # slice [i·d+1, i·d+d]; list_dot_product is the same sequential
    # fold as the Spark unrolled chain
    wv = (f"list_transform(generate_series(0, {d - 1}), "
          f"i -> list_dot_product("
          f"list_slice(wpv, i * {d} + 1, i * {d} + {d}), eov))")
    return f"""
WITH {kg_ctes(raw_cte)},
rsE(e, vec) AS (VALUES {vals(E)}),
rsW(p, vec) AS (VALUES {vals(W)}),
rsj AS (
  SELECT enc.s, enc.p, enc.o,
         es.vec AS esv, eo.vec AS eov, wp.vec AS wpv
  FROM enc
  JOIN rsE es ON es.e = enc.s
  JOIN rsE eo ON eo.e = enc.o
  JOIN rsW wp ON wp.p = enc.p)
SELECT s, p, o,
       round(list_dot_product(esv, {wv}), 6) AS score
FROM rsj
"""


def _ev_sql(id_expr: str, salt: str, d: int) -> str:
    key = f"concat_ws('|', '{salt}', CAST({id_expr} AS VARCHAR), CAST(i AS VARCHAR))"
    h = sql_phash32(key, "duckdb")
    return (f"list_transform(generate_series(0, {d - 1}), "
            f"i -> (({h} % 1000) / 1000.0 - 0.5))")


def proje_scores_sql(triples_cte: str, d: int = DIM_EMB) -> str:
    """Oracle for :func:`proje_scores`: identical hash-derived vectors,
    identical elementwise-combine → tanh → sequential-dot order."""
    from kgspark.typesys import kg_ctes

    es, eo, rp = (_ev_sql("s", "pe", d), _ev_sql("o", "pe", d),
                  _ev_sql("p", "pr", d))
    w1, w2 = _ev_sql("0", "pw1", d), _ev_sql("0", "pw2", d)
    return f"""
WITH {kg_ctes(triples_cte)},
pjv AS (SELECT s, p, o, {es} AS es, {eo} AS eo, {rp} AS rp,
               {w1} AS w1, {w2} AS w2 FROM enc),
pjc AS (
  SELECT s, p, o, es, eo,
         list_transform(generate_series(1, {d}),
                        i -> (1.0 - 2.0 / (exp(2.0 * (es[i] * w1[i]
                              + rp[i] * w2[i])) + 1.0))) AS c
  FROM pjv)
SELECT s, p, o,
       round((list_dot_product(c, es) + list_dot_product(c, eo)) / 2.0,
             6) AS score
FROM pjc
"""


def rescal_scores_sql(triples_cte: str, d: int = DIM_EMB) -> str:
    """Oracle for :func:`rescal_scores`: identical hash-derived eₛ/e_o
    and W_p, identical fold order (list_dot_product ≡ the Spark
    sequential _dot)."""
    from kgspark.typesys import kg_ctes

    es, eo = _ev_sql("s", "re", d), _ev_sql("o", "re", d)
    wkey = ("concat_ws('|', 'rw', CAST(p AS VARCHAR), "
            "CAST(i AS VARCHAR), CAST(j AS VARCHAR))")
    h = sql_phash32(wkey, "duckdb")
    w = (f"list_transform(generate_series(0, {d - 1}), i -> "
         f"list_transform(generate_series(0, {d - 1}), j -> "
         f"(({h} % 1000) / 1000.0 - 0.5)))")
    return f"""
WITH {kg_ctes(triples_cte)},
rsv AS (SELECT s, p, o, {es} AS es, {eo} AS eo, {w} AS w FROM enc),
rsw AS (
  SELECT s, p, o, es,
         list_transform(w, row -> list_dot_product(row, eo)) AS wv
  FROM rsv)
SELECT s, p, o, round(list_dot_product(es, wv), 6) AS score FROM rsw
"""


def hole_scores_sql(triples_cte: str, d: int = DIM_EMB) -> str:
    """Oracle: identical hash-derived vectors, rotation dot products via
    list_dot_product (bit-identical to the Spark sequential fold)."""
    from kgspark.typesys import kg_ctes

    es, eo, rp = (_ev_sql("s", "he", d), _ev_sql("o", "he", d),
                  _ev_sql("p", "hr", d))
    cc = (f"list_transform(generate_series(0, {d - 1}), "
          f"k -> list_dot_product(es, "
          f"list_concat(list_slice(eo, k + 1, {d}), list_slice(eo, 1, k))))")
    return f"""
WITH {kg_ctes(triples_cte)},
hv AS (SELECT s, p, o, {es} AS es, {eo} AS eo, {rp} AS rp FROM enc)
SELECT s, p, o,
       round(list_dot_product(rp, {cc}), 6) AS score
FROM hv
"""
