"""Model-based quality scoring: character-bigram language model.

The heavier cousin of the heuristic quality_score — the standard
"perplexity filter" shape from training-data pipelines (score each
document by how probable its character stream is under a small LM
fitted on the corpus itself, or on a trusted reference corpus), kept
fully distributed:

fit:   explode char bigrams → two hash aggregates (bigram counts,
       prefix counts) — map-side partials, shuffle is vocab-sized
       (≤ |charset|² rows), NOT corpus-sized.
score: explode doc bigrams → broadcast-join the (tiny) count tables →
       per-doc mean log P(c2|c1) with add-one smoothing.

Everything is DataFrame algebra; no Python in the row path. The fit
output is a plain DataFrame you can persist/write and reuse, so at
100 TB you fit once on a sample (`deterministic_sample`) and score
the full corpus with one broadcast join pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _char_bigrams(text: Column) -> Column:
    # split once + zip adjacent — O(n) per doc. (substr(i, 2) per
    # position is O(i) on UTF8 strings → O(n²) per doc, measured 2x
    # slower end-to-end.) split('') yields CODE POINTS (Java regex
    # never splits a surrogate pair), so non-BMP text bigrams match a
    # codepoint-based SQL substr exactly — verified with emoji.
    chars = F.split(text, "")
    n = F.greatest(F.size(chars) - 1, F.lit(1))
    return F.zip_with(
        F.slice(chars, 1, n), F.slice(chars, 2, n), lambda a, b: F.concat(a, b)
    )


def fit_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Fit bigram log-probabilities with add-one smoothing. Returns
    (bigram, logp) — vocabulary-sized, broadcastable.

    ``logp`` is rounded to a FIXED scale (6 decimals) at fit time:
    downstream per-document aggregates can then sum it as an exact
    decimal, making scores independent of partial-aggregation order —
    the same float-determinism discipline as the engine's decimal-sum
    relational aggregates. 1e-6 quantization of a log-prob is far
    below any quality-gate resolution."""
    from ._util import fan_out

    grams = fan_out(df).select(
        F.explode(_char_bigrams(F.lower(F.col(text_col)))).alias("bigram")
    ).where(F.length("bigram") == 2)
    # ONE corpus pass: bigram counts are vocabulary-sized, so
    # materialize them to a local table instead of persist() — no
    # cache entry to leak, and the fit never recomputes the corpus
    # scan (the LM is reused via broadcast in score_bigram_lm)
    spark = df.sparkSession
    bi_local = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n_bi")).toPandas()
    from ._util import local_frame

    bi = local_frame(spark, bi_local, "bigram string, n_bi long")
    uni = (
        bi.groupBy(F.substring("bigram", 1, 1).alias("prefix"))
        .agg(F.sum("n_bi").alias("n_uni"))
    )
    vocab = uni.count() + 1  # smoothing denominator (reads the local table)
    return (
        bi.withColumn("prefix", F.substring("bigram", 1, 1))
        .join(uni, "prefix")
        .select(
            "bigram",
            # floor-based 6-decimal quantizer, NOT round(·, 6): the
            # same cross-engine round-tie divergence quantize4's
            # docstring records for 4 decimals applies here, and this
            # value feeds an exact-hash oracle gate (r7 review; the
            # oracle SQL mirrors this floor form)
            (
                F.floor(
                    F.log((F.col("n_bi") + 1) / (F.col("n_uni") + F.lit(vocab)))
                    * F.lit(1_000_000.0)
                    + F.lit(0.5)
                )
                / F.lit(1_000_000.0)
            ).alias("logp"),
        )
    )


def score_bigram_lm(
    df: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    floor_logp: float = -12.0,
) -> DataFrame:
    """Per-document mean log-probability under the fitted LM (higher =
    more typical text; gibberish and wrong-charset docs score low).
    Unseen bigrams take ``floor_logp``. One explode + one BROADCAST
    join + one aggregate — corpus scanned once. Documents too short to
    have a bigram (< 2 chars) still appear in the output with
    n_bigrams = 0 and NULL lm_logp — scores never silently drop rows.

    The mean is EXACT: per-doc log-probs (fixed 6-decimal scale from
    the fit) are summed as decimal(28,6) — associative, partial-agg-
    order-independent — and divided by the count once, at the end. The
    same score comes out of any engine that follows the definition,
    which is what lets the declared query hold this operator to a
    hash-checked SQL oracle."""
    from ._util import fan_out

    grams = fan_out(df).select(
        F.col(id_col),
        F.explode(_char_bigrams(F.lower(F.col(text_col)))).alias("bigram"),
    ).where(F.length("bigram") == 2)
    scored = grams.join(F.broadcast(lm), "bigram", "left").select(
        id_col, F.coalesce(F.col("logp"), F.lit(floor_logp)).alias("logp")
    )
    agg = scored.groupBy(id_col).agg(
        (
            F.sum(F.col("logp").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("lm_logp"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .withColumn("n_bigrams", F.coalesce(F.col("n_bigrams"), F.lit(0)))
    )


def lm_quality_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fit_on: DataFrame | None = None,
) -> DataFrame:
    """Convenience: fit on ``fit_on`` (default: the corpus itself) and
    score every document. At scale pass a deterministic_sample as
    fit_on."""
    lm = fit_bigram_lm(fit_on if fit_on is not None else df, text_col=text_col)
    return score_bigram_lm(df, lm, id_col=id_col, text_col=text_col)


def perplexity_buckets(
    df: DataFrame,
    buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    fit_on: DataFrame | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """CCNet-style per-language quality buckets (Wenzek et al. 2020):
    score every document under the bigram LM, then split each
    language's documents into ``buckets`` equal quality tiers by score
    rank — bucket 1 is the head (highest mean log-prob / lowest
    perplexity), bucket ``buckets`` the tail. The head/middle/tail
    labels are what the published recipe samples from (keep head+
    middle, downweight tail). Output: (id, lang, lm_logp, n_bigrams,
    ppl_bucket); documents too short to score (< 2 chars) keep NULL
    lm_logp AND NULL ppl_bucket — never silently dropped.

    Bucket assignment is EXACTLY SQL's
    ``ntile(b) OVER (PARTITION BY lang ORDER BY lm_logp DESC, id)``
    — the first (n mod b) tiers take the extra row — but it is NOT
    computed as that window: a per-language ntile sorts each entire
    language in ONE task (English = half a 100 TB corpus through a
    single straggler — the same skewed-key window line_dedup's
    keep-first was rewritten to avoid; AQE cannot split window
    sorts). Ranks come from the distributed exact-rank machine
    (``rank.grouped_rank``: explicit range partition + two-phase
    broadcast offsets, every task bounded by the range split size
    regardless of language skew) and the closed-form
    ``rank.ntile_expr`` maps (rank, language size) to the tier. At
    100 TB the corpus-wide exchanges are over skinny (id, lang,
    score) rows only: the explicit range shuffle, plus a hash
    exchange Catalyst plans for grouped_rank's (partition, group)
    local window — RangePartitioning doesn't satisfy that clustering
    requirement, so the rows move twice, but every task stays
    bounded by the range split size either way (the point of the
    machine is bounded tasks under skew, not exchange count). Fit
    on a sample via ``fit_on``."""
    if buckets <= 0:
        raise ValueError(f"need buckets > 0, got {buckets}")
    from ..core.caches import track
    from .rank import grouped_rank, ntile_expr

    scores = lm_quality_scores(df, id_col=id_col, text_col=text_col, fit_on=fit_on)
    base = track(
        df.select(id_col, lang_col).join(scores, id_col).persist()
    )  # two consumers: the ranked path and the NULL-score passthrough
    ranked = grouped_rank(
        base.where(F.col("lm_logp").isNotNull()),
        group_cols=[lang_col],
        order_cols=[F.col("lm_logp").desc(), F.col(id_col)],
        num_partitions=num_partitions,
        rank_col="_rank",
        count_col="_n",
    )
    out = ranked.select(
        id_col,
        lang_col,
        "lm_logp",
        "n_bigrams",
        ntile_expr(F.col("_rank"), F.col("_n"), buckets).alias("ppl_bucket"),
    )
    unscored = base.where(F.col("lm_logp").isNull()).select(
        id_col,
        lang_col,
        "lm_logp",
        "n_bigrams",
        F.lit(None).cast("long").alias("ppl_bucket"),
    )
    return out.unionByName(unscored)


__all__ = [
    "fit_bigram_lm",
    "score_bigram_lm",
    "lm_quality_scores",
    "perplexity_buckets",
]
