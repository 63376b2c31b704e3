"""Distributed logistic-regression quality classifier — the GPT-3 /
CCNet data-selection recipe (Brown et al. 2020 Appendix A: a linear
classifier trained to separate a trusted corpus from the raw pool,
whose score then gates or samples the pool).

The second member of this repo's ITERATIVE machine family (with
``kmeans.kmeans_embeddings``): the only state an epoch carries is the
hashed-vocabulary weight vector, so training never shuffles the
corpus —

  1. each epoch is ONE corpus pass: the per-document score is a pure
     whole-stage-codegen expression (``element_at`` lookups into the
     weight vector, which rides the plan as a single array LITERAL —
     no join, no broadcast variable),
  2. per-bucket gradient sums map-side partial-aggregate down to
     ≤ n_buckets skinny rows (the corpus's tokens explode, but the
     aggregate collapses them in-partition), and
  3. those rows collect to the driver (bounded: the hashed vocab is
     fixed-size at any corpus scale — Xie et al.'s hashing trick,
     shared with ``sampling.dsir_log_ratio``) to form the next
     weights.

Every arithmetic step is engine-portable so a SQL oracle replays the
exact training run (the kmeans/dsir float-determinism discipline):

  - weight lookups floor-quantize at 1e-6 and accumulate as DECIMAL —
    the per-document score is exact under any evaluation order;
  - the only transcendental, sigmoid's exp, is floor-quantized at
    1e-6 immediately ((p − y) → integer), the same guard dsir applies
    to ln — a last-ulp library difference is overwhelmingly unlikely
    to cross the 1e-6 grid (it CAN in principle: a sigmoid value
    within one ulp of a grid boundary could floor differently across
    engines and flip one gradient unit; see DIVERGENCES.md #25 for
    the residual-risk ledger entry that pre-diagnoses such a row);
  - gradient sums are exact BIGINT sums of qpy · (implicit token
    multiplicity via the explode);
  - the weight update w − lr · (g / (N · 1e6)) is evaluated in double
    with this exact parenthesization on both engines, then
    floor-quantized at 1e-6.

Full-batch gradient descent (not SGD): batch order cannot matter, so
the run is deterministic under any partitioning. Features are raw
hashed-token counts; NULL text is treated as empty (score exactly 0
at w = 0, no gradient mass). The published pipelines then keep a pool
document when ``pareto_draw < sigmoid(score)`` — compose the returned
score with this repo's deterministic hash-accept samplers for that.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _q6(x: float) -> float:
    return math.floor(x * 1_000_000.0 + 0.5) / 1_000_000.0


def train_quality_classifier(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    epochs: int = 2,
    lr: float = 1.0,
    salt: str = "clf",
) -> DataFrame:
    """Train the classifier on ``df`` with label 1 where ``target``
    holds (the trusted/high-quality side) and 0 elsewhere, then score
    EVERY row with the trained weights. Returns
    (id_col, label INT, clf_score DOUBLE, n_tokens BIGINT) —
    ``clf_score`` is the final linear score (monotone in the
    membership probability; apply sigmoid for the probability).
    Deterministic end to end; see the module docstring for the
    engine-portability construction."""
    if n_buckets <= 0:
        raise ValueError(f"need n_buckets > 0, got {n_buckets}")
    if epochs < 0:
        raise ValueError(f"need epochs >= 0, got {epochs}")
    from .text import WS

    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(F.trim(F.lower(text)), WS), lambda x: x != "")
    label = F.when(target, F.lit(1.0)).otherwise(F.lit(0.0))

    def bucket(t: Column) -> Column:
        return (
            F.conv(F.substring(F.md5(F.concat(t, F.lit(salt))), 1, 8), 16, 10)
            .cast("long")
            % n_buckets
        ).cast("int")

    def score_expr(weights: list[float]) -> Column:
        # evaluated over the PRE-HASHED bucket array (feats._bk): the
        # weight lookup is a plain element_at by stored index, so
        # epochs never re-tokenize or re-md5 the corpus
        w_lit = F.lit(weights)
        q6w = lambda b: (  # noqa: E731 — local expression builder
            F.floor(
                F.element_at(w_lit, b + F.lit(1)) * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).cast("decimal(28,6)")
        return F.aggregate(
            F.col("_bk"),
            F.lit(0).cast("decimal(28,6)"),
            lambda acc, b: (acc + q6w(b)).cast("decimal(28,6)"),
        )

    # Hash features ONCE (the label is materialized INTO the same
    # projection: the target expression may reference columns this
    # narrow select drops — it resolves against the caller's df,
    # once, here). Training is multi-pass by nature (one gradient
    # pass per epoch plus the final scoring pass), and every pass
    # previously re-tokenized the corpus and re-md5'd every token
    # TWICE (once inside the score aggregate, once in the gradient
    # explode) — ~2·(epochs+1) md5-per-token evaluations. The hashed
    # bucket array is the only feature any pass reads, so persist it
    # (int array ≈ 4 bytes/token vs the text + md5 chain; spills to
    # disk at corpus scale, the standard materialize-hashed-features
    # trade) and every epoch becomes a scan of pre-hashed ints.
    # Identical math: transform() preserves array order, so the
    # decimal score accumulates the same values in the same order.
    from ..core.caches import track
    from ._util import fan_out

    # fan_out before the hash pass: a small corpus arrives from the
    # scan as ONE split (one parquet file < maxPartitionBytes), which
    # serialized the entire md5-per-token feature build — and every
    # epoch's cached read after it — on a single core (measured at
    # sf0.1: every training stage ran (0+1)/1 tasks). At real scale
    # the scan has thousands of splits and fan_out is a no-op.
    feats = track(
        fan_out(df)
        .select(
            F.col(id_col),
            label.alias("_y"),
            F.transform(toks, bucket).alias("_bk"),
        )
        .persist()
    )
    n_train = feats.count()  # scalar, constant across epochs (also
    # materializes the persist so every epoch reads the cached ints)
    weights = [0.0] * n_buckets

    for _ in range(epochs):
        s = score_expr(weights).cast("double")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-s))
        qpy = F.floor((p - F.col("_y")) * F.lit(1e6) + F.lit(0.5))  # long
        # two selects: qpy's decimal aggregate must resolve in a
        # generator-free projection (DIVERGENCES #24); Catalyst
        # collapses them into one stage
        grads = (
            feats.select(qpy.alias("_qpy"), F.col("_bk").alias("_tk"))
            .select("_qpy", F.explode("_tk").alias("_b"))
            .groupBy("_b")
            .agg(F.sum("_qpy").alias("_g"))
            .collect()  # bounded: ≤ n_buckets skinny rows
        )
        for r in grads:
            b = r["_b"]
            weights[b] = _q6(
                weights[b] - lr * (r["_g"] / (n_train * 1_000_000.0))
            )

    return feats.select(
        F.col(id_col),
        F.col("_y").cast("int").alias("label"),
        score_expr(weights).cast("double").alias("clf_score"),
        F.size("_bk").cast("bigint").alias("n_tokens"),
    )


def _ipow(x: Column, n: int) -> Column:
    """x^n by LEFT-TO-RIGHT binary exponentiation with a fixed
    parenthesization, so every engine rounds the same doubles in the
    same order (an oracle must mirror this chain: for n = 9 it is
    ((x²)²)²·x, i.e. x2 = x·x, x4 = x2·x2, x8 = x4·x4, x9 = x8·x)."""
    r = x
    for bit in bin(n)[3:]:
        r = r * r
        if bit == "1":
            r = r * x
    return r


def pareto_keep(
    df: DataFrame,
    score_col: str = "clf_score",
    id_col: str = "doc_id",
    alpha: int = 9,
    salt: str = "clfkeep",
    p_col: str = "keep_p",
) -> DataFrame:
    """The GPT-3 keep rule (Brown et al. 2020 Appendix A): keep a
    document when ``pareto_draw(α) > 1 − sigmoid(score)`` — the
    stochastic acceptance that keeps high-score docs almost surely
    while low-score docs survive ∝ their score, preserving tail
    diversity. Returns the kept rows plus ``p_col`` (the quantized
    sigmoid membership probability).

    Deterministic, transcendental-minimal form: with u the repo's
    52-bit md5 uniform (the ``priority_sample`` derivation) and the
    Pareto draw its inverse-CDF u^(−1/α) − 1, the rule

        u^(−1/α) − 1 > 1 − p   ⟺   u < 1 / (2 − p)^α

    — so instead of evaluating a fractional pow per row, the engine
    evaluates an INTEGER power by a fixed multiplication chain
    (``_ipow``; IEEE-identical in every engine) and one division.
    ``p`` is the sigmoid floor-quantized at 1e-6 (the module's
    training discipline; exp's residual is DIVERGENCES #25). The
    published pipelines apply this to the unlabeled pool only — pass
    ``df.where(label == 0)``; trusted rows are kept by construction.
    """
    if alpha < 1:
        raise ValueError(f"need alpha >= 1, got {alpha}")
    s = F.col(score_col).cast("double")
    p = F.floor(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-s))) * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    x = F.lit(2.0) - p
    thresh = F.lit(1.0) / _ipow(x, alpha)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 13
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4503599627370496.0)
    return df.withColumn(p_col, p).where(u < thresh)


__all__ = ["pareto_keep", "train_quality_classifier"]
