"""Deterministic sampling / splitting / profiling for training data.

`randomSplit` re-rolls on every run and every partitioning — useless
for reproducible train/val/test membership at 100 TB. Everything here
derives membership from a CONTENT hash (md5 of the key column + salt)
so the assignment is a pure function of the row: stable across runs,
cluster sizes, partitionings, and engines (md5 exists everywhere, so
the DuckDB oracle can replay the exact split).

The bucket is the first 8 hex chars of md5(key || salt) as an integer
modulo 10_000 — uniform enough for split fractions at 1e-4 precision.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence as Seq

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.errors import ERROR_COL, ensure_error_column, is_ok, null_error
from ..core.step import Step
from ..operators.processors import _guarded
from ._util import local_frame

_BUCKETS = 10_000


def hash_bucket(key: Column, salt: str = "split") -> Column:
    """Deterministic bucket in [0, 10000) from md5(key || salt) —
    reproducible in any engine with md5 + hex parsing. NULL keys get a
    sentinel so they bucket deterministically instead of evaluating to
    NULL (which would make a filter silently drop the row)."""
    key_str = F.coalesce(key.cast("string"), F.lit("__pipz_null__"))
    h = F.md5(F.concat(key_str, F.lit(salt)))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _BUCKETS).cast("int")


def deterministic_split(
    name: str,
    key_col: str,
    fractions: Mapping[str, float],
    salt: str = "split",
    output: str = "split",
) -> Step:
    """Assign each row a split label ('train'/'val'/'test'/...) from
    cumulative fraction ranges over the content-hash bucket. Rows with
    the same key always land in the same split — the property that
    prevents train/test leakage of duplicated or re-ingested records."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {total}")

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        bucket = hash_bucket(F.col(key_col), salt)
        labels = list(fractions.items())
        expr: Column = F.lit(labels[-1][0])
        if len(labels) > 1:
            chain = F
            cum = 0.0
            for label, frac in labels[:-1]:
                cum += frac
                chain = chain.when(bucket < int(round(cum * _BUCKETS)), F.lit(label))  # type: ignore[assignment]
            expr = chain.otherwise(expr)  # type: ignore[union-attr]
        return _guarded(df, {output: expr})

    return Step(
        name, fn, node_type="split", metadata={"fractions": dict(fractions)}
    )


def deterministic_sample(
    name: str,
    key_col: str,
    fraction: float,
    salt: str = "sample",
) -> Step:
    """Keep a content-stable ``fraction`` of rows: hash-bucket <
    fraction·10000. Re-running, re-partitioning, or re-ingesting
    produces the SAME sample — and a sample at a higher fraction is a
    superset of one at a lower fraction (nested samples for scaling
    experiments)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    cut = int(round(fraction * _BUCKETS))

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        keep = hash_bucket(F.col(key_col), salt) < cut
        return df.where(keep | F.col(ERROR_COL).isNotNull())

    return Step(name, fn, node_type="sample", metadata={"fraction": fraction})


def stratified_sample(
    name: str,
    key_col: str,
    strata_cols: Seq[str],
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
    salt: str = "strata",
) -> Step:
    """Per-stratum deterministic sampling (e.g. keep 100% of rare
    languages, 10% of English). The stratum value is the stringified
    strata column, or for multiple columns their '|'-joined
    concatenation (so ``fractions`` keys look like 'en|src0').
    Same content-hash stability guarantees as deterministic_sample."""

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        bucket = hash_bucket(F.col(key_col), salt)
        if len(strata_cols) == 1:
            stratum = F.col(strata_cols[0]).cast("string")
        else:
            stratum = F.concat_ws("|", *[F.col(c).cast("string") for c in strata_cols])
        default_keep = bucket < int(round(default_fraction * _BUCKETS))
        keep: Column = default_keep
        if fractions:
            chain = F
            for value, frac in fractions.items():
                cut = int(round(frac * _BUCKETS))
                chain = chain.when(stratum == value, bucket < cut)  # type: ignore[assignment]
            keep = chain.otherwise(default_keep)  # type: ignore[union-attr]
        return df.where(keep | F.col(ERROR_COL).isNotNull())

    return Step(name, fn, node_type="stratified_sample")


def temperature_resample(
    name: str,
    key_col: str,
    stratum_col: str,
    target_fraction: float,
    alpha: float = 0.5,
    salt: str = "temp",
) -> Step:
    """Temperature-flattened mixture resampling: per-stratum keep
    rates chosen so the SAMPLED mixture follows w_s ∝ n_s^alpha
    (alpha < 1 upweights rare strata — the standard rebalancing for
    multi-source/multi-lingual training corpora) at an overall target
    size of ``target_fraction`` × corpus. Rates are derived from the
    corpus itself (one count aggregate), capped at 1.0 (a stratum is
    never oversampled — membership stays deterministic), and applied
    through the same content-hash bucketing as deterministic_sample,
    so membership is a pure function of the row.

    Cross-engine exactness (the oracle replays this in SQL): the only
    irrational step, n^alpha, is pinned by routing alpha=0.5 through
    IEEE-correctly-rounded sqrt and snapping the weight to
    DECIMAL(28,10) BEFORE the weight-sum — decimal addition is exact,
    so partial-agg order cannot move the rates. Other alphas use
    pow(), whose last-ulp rounding is libm-specific; the declared
    query gates alpha=0.5.

    100 TB posture: two passes over the input (count + filter) with a
    |strata|-row broadcast in between — rates never shuffle the fact
    table.
    """
    if not 0.0 < target_fraction <= 1.0:
        raise ValueError("target_fraction must be in (0, 1]")
    # alpha ∈ (0, 1] is the flattening regime this operator exists
    # for (1 = proportional, →0 = uniform). alpha > 1 would also
    # overflow the DECIMAL(28,10) weight snap on large strata — the
    # non-ANSI cast then yields NULL and the stratum would be
    # SILENTLY dropped (rate coalesces to 0), so reject rather than
    # risk that failure mode.
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1] (temperature flattening)")

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        stratum = F.coalesce(
            F.col(stratum_col).cast("string"), F.lit("__pipz_null__")
        )
        weight = (
            F.sqrt(F.col("_n").cast("double"))
            if alpha == 0.5
            else F.pow(F.col("_n").cast("double"), F.lit(alpha))
        )
        counts = (
            df.where(is_ok())
            .groupBy(stratum.alias("_s"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .withColumn("_w", weight.cast("decimal(28,10)"))
        )
        totals = counts.agg(
            F.sum("_n").cast("double").alias("_tot"),
            F.sum("_w").cast("double").alias("_wsum"),
        )
        rates = (
            counts.crossJoin(F.broadcast(totals))
            .withColumn(
                "_keep",
                F.least(
                    F.lit(1.0),
                    F.lit(target_fraction)
                    * F.col("_tot")
                    * (F.col("_w").cast("double") / F.col("_wsum"))
                    / F.col("_n").cast("double"),
                ),
            )
            .select("_s", "_keep")
        )
        bucket = hash_bucket(F.col(key_col), salt)
        joined = df.join(F.broadcast(rates), stratum == F.col("_s"), "left")
        keep = bucket.cast("double") < F.coalesce(F.col("_keep"), F.lit(0.0)) * 10000.0
        return joined.where(keep | F.col(ERROR_COL).isNotNull()).drop("_s", "_keep")

    return Step(
        name,
        fn,
        node_type="temperature_resample",
        metadata={"alpha": alpha, "target_fraction": target_fraction},
    )


def deterministic_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    n_shards: int = 1024,
    salt: str = "shuffle",
) -> DataFrame:
    """Reproducible global shuffle for training export — adds
    ``shard`` (int in [0, n_shards)) and ``shuffle_rank`` (long,
    1-based within the shard). The global training order is
    ``(shard, shuffle_rank)``; writing one file per shard and reading
    shards in order replays the exact same example order on any run,
    cluster size, or engine.

    Both columns are pure functions of the row: shard comes from hex
    chars 9-16 of md5(key || salt) mod n_shards, the within-shard
    order from (full md5 hex, key) — md5 renders lowercase hex in
    every engine, so the DuckDB oracle replays the order exactly, and
    the (hash, key) pair is a total order (hash collisions tie-break
    on the key).

    Scale shape: this is the SHARDED form of a shuffle, not a global
    sort — one hash shuffle on ``shard`` (n_shards partitions of
    |corpus|/n_shards rows) and a within-partition sort. A single
    ``orderBy(hash)`` would range-partition and sort the whole corpus
    for a total order nobody consumes as one stream; per-shard order
    is what a data loader actually reads. NULL keys hash via the same
    sentinel as every sampler here.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    reserved = {"shard", "shuffle_rank", "_h"}.intersection(df.columns)
    if reserved:
        # withColumn would silently clobber these (r7 advisory);
        # matches the reserved-name contract of salted_join/_pipz_rank
        raise ValueError(
            "deterministic_shuffle: input already has reserved column(s) "
            f"{sorted(reserved)} — rename them before shuffling"
        )
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit("__pipz_null__"))
    h = F.md5(F.concat(key_str, F.lit(salt)))
    shard = (F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % n_shards).cast("int")
    from pyspark.sql import Window

    out = df.withColumn("shard", shard).withColumn("_h", h)
    w = Window.partitionBy("shard").orderBy(F.col("_h"), key_str)
    return out.withColumn(
        "shuffle_rank", F.row_number().over(w).cast("long")
    ).drop("_h")


def mixture_resample(
    name: str,
    key_col: str,
    stratum_col: str,
    target_shares: Mapping[str, float],
    token_col: str | None = None,
    salt: str = "mix",
) -> Step:
    """Resample to an EXPLICIT target mixture: per-stratum keep rates
    chosen so the kept corpus follows ``target_shares`` (by tokens
    when ``token_col`` is given, else by rows) — the static
    domain-mixing primitive of training recipes that prescribe e.g.
    40% web / 30% code / 20% books / 10% reference, where
    ``temperature_resample`` only FLATTENS the natural mixture.

    Pure downsampling: the achievable kept mass is
    T = min_s(mass_s / share_s) (the stratum that binds keeps rate
    1.0); every other stratum keeps T·share_s/mass_s of its mass in
    expectation. Strata absent from ``target_shares`` are DROPPED
    (share 0). The converse — a positive-share stratum with ZERO
    corpus mass — is excluded from the min-ratio computation and the
    realized mixture renormalizes among the strata actually present
    (r8 advisor): the prescribed share is unachievable by pure
    downsampling (the alternative, treating missing mass as binding,
    would force T = 0 and drop everything), and this operator stays
    lazy, so it cannot raise at compose time without running a job.
    Callers that must hard-fail on an absent stratum should assert
    ``df.where(col(stratum_col) == s).limit(1).count() > 0`` per
    prescribed stratum first. Shares are normalized once so callers
    may pass any positive weights. Membership is the same content-hash
    bucketing
    as every sampler here — a pure function of the row; errored rows
    pass through untouched.

    Cross-engine exactness: normalized shares embed as
    shortest-round-trip double literals on both sides, and every
    derived quantity (mass sums, the min ratio, the keep rates, the
    bucket compare) is computed ENGINE-SIDE with the identical IEEE
    double expression tree, so the oracle replays membership exactly.
    Hash realization vs expectation: rates are exact; the realized
    share differs from the target by the binomial noise of hash
    membership, exactly like every deterministic sampler here.

    100 TB posture: one aggregate over the input + a |strata|-row
    broadcast join — rates never shuffle the fact table.
    """
    if not target_shares:
        raise ValueError("target_shares must be non-empty")
    if any(v < 0 for v in target_shares.values()) or sum(target_shares.values()) <= 0:
        raise ValueError("target_shares must be non-negative with a positive sum")
    tot = float(sum(target_shares.values()))
    shares = {str(k): float(v) / tot for k, v in target_shares.items() if v > 0}

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        for c in ("_s", "_m", "_share", "_t", "_keep"):
            if c in df.columns:
                raise ValueError(
                    f"mixture_resample: input already has reserved column {c!r}"
                )
        stratum = F.coalesce(
            F.col(stratum_col).cast("string"), F.lit("__pipz_null__")
        )
        mass_expr = (
            F.count(F.lit(1)).cast("double")
            if token_col is None
            else F.sum(F.coalesce(F.col(token_col).cast("long"), F.lit(0))).cast(
                "double"
            )
        )
        mass = (
            df.where(is_ok()).groupBy(stratum.alias("_s")).agg(mass_expr.alias("_m"))
        )
        sh = local_frame(
            df.sparkSession, list(shares.items()), "_s string, _share double"
        )
        r = mass.join(F.broadcast(sh), "_s")
        tmin = r.agg(F.min(F.col("_m") / F.col("_share")).alias("_t"))
        rates = (
            r.crossJoin(F.broadcast(tmin))
            .withColumn(
                "_keep",
                F.least(
                    F.lit(1.0), F.col("_t") * F.col("_share") / F.col("_m")
                ),
            )
            .select("_s", "_keep")
        )
        bucket = hash_bucket(F.col(key_col), salt)
        joined = df.join(F.broadcast(rates), stratum == F.col("_s"), "left")
        keep = bucket.cast("double") < F.coalesce(F.col("_keep"), F.lit(0.0)) * 10000.0
        return joined.where(keep | F.col(ERROR_COL).isNotNull()).drop("_s", "_keep")

    return Step(
        name,
        fn,
        node_type="mixture_resample",
        metadata={"shares": shares, "by_tokens": token_col is not None},
    )




def doremi_weights(
    df: DataFrame,
    domain_col: str = "lang",
    loss_col: str = "loss",
    rounds: int = 3,
    eta: float = 1.0,
) -> DataFrame:
    """Domain-mixture reweighting by multiplicative weights — the
    Group-DRO weighting step of DoReMi (Xie et al. 2023 Algorithm 1;
    the update rule is Hedge / exponentiated-gradient, Freund &
    Schapire 1997): domains with higher reference loss earn larger
    mixture weights, the published signal for where a data mix
    under-serves the model. Returns one row per domain:
    (domain_col, mean_loss DOUBLE, weight DOUBLE), weights summing
    to <= 1 (integer-floor normalization; see below).

    SCOPE: full DoReMi RETRAINS a proxy model between rounds so the
    per-domain excess losses change; a relational engine sees fixed
    reference losses, so this is the weighting step given static
    losses — ``rounds`` then sharpens the mix toward the
    highest-loss domains (Hedge dynamics under a constant loss
    vector), and a pipeline that wants the full loop re-scores
    ``loss_col`` between calls.

    Shape at 100 TB: ONE corpus pass — a map-side-combined
    per-domain aggregate of quantized-integer loss sums — then the
    EG loop runs on the driver over |domains| numbers (a bounded
    driver materialization, the kmeans-centroid stance; domain
    counts are single digits to hundreds in every published mix).

    Engine-exact (the kmeans/dsir discipline): losses floor-quantize
    at 1e-6 into exact BIGINT sums (any aggregation order); the mean
    is one correctly-rounded double division; exp(eta * mean)
    floor-quantizes at 1e-6 (the suite's transcendental residual,
    DIVERGENCES #25); weights live as integers scaled 1e6 and each
    round renormalizes by integer floor division (w * 1e6 DIV
    total) - so every engine replays the identical weight integers,
    at the cost of the weight sum landing at most |domains| - 1
    millionths under 1.0. Driver-side Python holds the loop in
    arbitrary-precision ints; an SQL replay needs 128-bit arithmetic
    (DuckDB HUGEINT) for the w * factor * 1e6 intermediate."""
    if rounds < 0:
        raise ValueError(f"need rounds >= 0, got {rounds}")
    import math

    lq = F.floor(F.col(loss_col).cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    rows = (
        df.where(F.col(domain_col).isNotNull() & F.col(loss_col).isNotNull())
        .groupBy(domain_col)
        .agg(F.sum(lq).alias("_s"), F.count(F.lit(1)).alias("_n"))
        .collect()  # bounded: one skinny row per domain
    )
    if not rows:
        raise ValueError("doremi_weights: no rows with domain and loss")
    doms = sorted((r[domain_col], r["_s"], r["_n"]) for r in rows)
    scale = 1_000_000
    means = {d: s / (n * 1e6) for d, s, n in doms}
    factors = {
        d: math.floor(math.exp(eta * means[d]) * 1e6 + 0.5) for d, _, _ in doms
    }
    w = {d: scale // len(doms) for d, _, _ in doms}
    for _ in range(rounds):
        raw = {d: w[d] * factors[d] for d in w}  # python ints: no overflow
        total = sum(raw.values())
        w = {d: (raw[d] * scale) // total for d in w}
    return local_frame(
        df.sparkSession,
        [(d, means[d], w[d] / scale) for d, _, _ in doms],
        f"{domain_col} string, mean_loss double, weight double",
    )


def token_budget_cap(
    name: str,
    budget: int,
    token_col: str = "n_tokens",
    key_col: str = "doc_id",
    group_by: Seq[str] | None = None,
    salt: str = "budget",
) -> Step:
    """Deterministic token-budget selection: keep documents, in
    content-hash order, while the inclusive running token total stays
    ≤ ``budget`` (per group when ``group_by`` is given, else one
    global budget) — the "N tokens per corpus/domain" primitive every
    training-mix recipe needs. Adds ``token_cumsum`` (the kept row's
    inclusive running total; NULL on errored rows, which pass through
    untouched and consume no budget).

    Selection order is (md5(key || salt), key) — a pure function of
    the row, so membership is stable across runs, partitionings, and
    engines, and a budget INCREASE only ever ADDS documents (the
    hash order is fixed; prefixes nest). The running sum uses the
    default RANGE window frame deliberately: under a duplicated key
    the tied rows share one cumulative value on every engine, where
    a ROWS frame would order the tie arbitrarily.

    Scale shape: with ``group_by`` this is one hash shuffle on the
    group key + a per-group sort — same shape as the rank stage of
    ``deterministic_shuffle``. The GLOBAL form never sorts globally:
    rows hash into 256 buckets (the first two hex chars — bucket
    order IS hash-prefix order), per-bucket token totals (≤256 skinny
    rows) prefix-sum on the driver into bucket offsets, and the
    global running total is bucket offset + within-bucket window —
    the classic scalable global-cumsum plan, identical result to one
    global window."""
    if budget < 0:
        raise ValueError("budget must be >= 0")

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        from pyspark.sql import Window

        df = ensure_error_column(df)
        for c in ("token_cumsum", "_h", "_b", "_tok", "_off", "_cum"):
            if c in df.columns:
                raise ValueError(
                    f"token_budget_cap: input already has reserved column {c!r}"
                )
        key_str = F.coalesce(F.col(key_col).cast("string"), F.lit("__pipz_null__"))
        h = F.md5(F.concat(key_str, F.lit(salt)))
        tok = F.when(
            is_ok(), F.coalesce(F.col(token_col).cast("long"), F.lit(0))
        ).otherwise(F.lit(0))
        out = df.withColumn("_h", h).withColumn("_tok", tok)
        if group_by:
            w = Window.partitionBy(*group_by).orderBy(F.col("_h"), key_str)
            out = out.withColumn("_cum", F.sum("_tok").over(w))
        else:
            out = out.withColumn(
                "_b", F.conv(F.substring(F.col("_h"), 1, 2), 16, 10).cast("int")
            )
            # the global form is TWO passes (bucket totals, then the
            # main filter) — pin the hashed frame so the second pass
            # reads the cache instead of rescanning the whole
            # upstream (r8 review). Applying this step therefore RUNS
            # a Spark job, the same documented eager-pin trade as
            # near_dup_pairs; release via datapipe.release_caches().
            from ..core import caches as _caches

            out = _caches.track(out.persist())
            totals = (
                out.groupBy("_b").agg(F.sum("_tok").alias("_t")).collect()
            )  # ≤256 rows by construction — driver state is bounded
            offs, acc = [], 0
            for r in sorted(totals, key=lambda r: r["_b"]):
                offs.append((r["_b"], acc))
                acc += r["_t"] or 0
            off_df = local_frame(df.sparkSession, offs, "_b int, _off long")
            w = Window.partitionBy("_b").orderBy(F.col("_h"), key_str)
            out = out.join(F.broadcast(off_df), "_b", "left").withColumn(
                "_cum", F.coalesce(F.col("_off"), F.lit(0)) + F.sum("_tok").over(w)
            )
        keep = F.col("_cum") <= F.lit(int(budget))
        return (
            out.where(keep | F.col(ERROR_COL).isNotNull())
            .withColumn(
                "token_cumsum", F.when(is_ok(), F.col("_cum")).cast("long")
            )
            .drop("_h", "_b", "_tok", "_off", "_cum")
        )

    return Step(
        name,
        fn,
        node_type="token_budget_cap",
        metadata={"budget": budget, "group_by": list(group_by or [])},
    )


def dataset_profile(
    name: str,
    numeric_cols: Seq[str],
    group_by: Seq[str] | None = None,
) -> Step:
    """Dataset profiling: count / min / max / decimal-exact mean per
    numeric column (per group when ``group_by`` given). One hash
    aggregate with map-side partials — the cheap health check before
    an expensive training run."""

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        ok = ensure_error_column(df).where(is_ok()).drop(ERROR_COL)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in numeric_cols:
            aggs.extend(
                [
                    F.min(c).alias(f"{c}_min"),
                    F.max(c).alias(f"{c}_max"),
                    (
                        F.sum(F.col(c).cast("decimal(28,6)")).cast("double")
                        / F.count(F.col(c))
                    ).alias(f"{c}_mean"),
                ]
            )
        grouped = ok.groupBy(*group_by) if group_by else ok.groupBy()
        return grouped.agg(*aggs).withColumn(ERROR_COL, null_error())

    return Step(name, fn, node_type="profile")


def approx_dataset_profile(
    name: str,
    distinct_cols: Seq[str],
    quantile_cols: Seq[str] | None = None,
    group_by: Seq[str] | None = None,
    rsd: float = 0.05,
) -> Step:
    """Sketch-based profiling — the 100 TB face of ``dataset_profile``.

    Exact COUNT(DISTINCT) shuffles every distinct value to a single
    reducer per key; the HLL++ sketch behind
    ``approx_count_distinct`` shuffles a few KB per partition and
    merges associatively (map-side partials), so cardinality costs one
    scan at any scale. Quantiles likewise: ``approx_percentile``'s
    mergeable KLL-style sketch replaces the full sort an exact
    median needs. (For quantiles that must MERGE across days/shards
    and replay in an external oracle, the repo's own
    ``sketches.kll_sketch``/``kll_merge``/``kll_quantile`` is the
    engine-exact sibling — JVM-internal approx_percentile state
    cannot leave the session.) Accuracy is a parameter (``rsd``,
    default ±5% relative standard deviation), not a hope — use the
    exact profile when the corpus fits the budget, this one when it
    doesn't."""

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        ok = ensure_error_column(df).where(is_ok()).drop(ERROR_COL)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in distinct_cols:
            aggs.append(
                F.approx_count_distinct(c, rsd=rsd).alias(f"{c}_approx_distinct")
            )
        for c in quantile_cols or ():
            aggs.append(
                F.percentile_approx(c, [0.5, 0.9, 0.99], 10_000).alias(
                    f"{c}_approx_quantiles"
                )
            )
        grouped = ok.groupBy(*group_by) if group_by else ok.groupBy()
        return grouped.agg(*aggs).withColumn(ERROR_COL, null_error())

    return Step(name, fn, node_type="approx_profile")


def dsir_log_ratio(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every document in ``df`` by
    how much more likely its hashed-token profile is under the TARGET
    distribution (a trusted/high-quality corpus) than under the raw
    corpus distribution — the published recipe then samples training
    data proportionally to exp(weight). Output: (id, dsir_logratio,
    n_tokens) for every ``df`` row; a document with no tokens keeps
    NULL dsir_logratio and n_tokens 0 (rows are never silently
    dropped — the ``score_bigram_lm`` contract).

    dsir_logratio = mean over the doc's tokens of
    q(ln p_tgt(b)) − q(ln p_raw(b)), where b is the token's md5 hash
    bucket in [0, n_buckets), both distributions are add-one smoothed
    over the bucket space, and q floor-quantizes each log at 1e-6 so
    the per-document mean sums as an exact decimal (the repo's
    float-determinism discipline: partial-aggregation order cannot
    move a bit, and any engine with md5 + ln replays the score).

    100 TB posture: two vocabulary-sized hash aggregates (≤ n_buckets
    rows each — map-side partial agg, the corpus never shuffles), a
    broadcast of the n_buckets-row log-ratio table, and a broadcast-
    scored token explode + per-doc aggregate. ``df`` is tokenized
    TWICE (once for the raw distribution, once for scoring) and
    ``target`` once — deliberately: persisting the exploded token
    frame to save the re-scan would cache a corpus-sized
    intermediate, while re-reading the pruned (id, text) columns
    from parquet is the cheaper side at 100 TB. Hashing (Xie et
    al.'s trick) is what keeps the "vocab" fixed-size at any corpus
    scale."""
    if n_buckets <= 0:
        raise ValueError(f"need n_buckets > 0, got {n_buckets}")
    from ._util import fan_out
    from .text import WS

    def toks(frame: DataFrame, with_id: bool) -> DataFrame:
        t = F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), WS), lambda x: x != ""
        )
        cols = [F.col(id_col)] if with_id else []
        out = fan_out(frame).select(*cols, F.explode(t).alias("_t"))
        b = (
            F.conv(F.substring(F.md5(F.concat(F.col("_t"), F.lit(salt))), 1, 8), 16, 10)
            .cast("long")
            % n_buckets
        )
        return out.select(*([id_col] if with_id else []), b.alias("_b"))

    def q(c: Column) -> Column:
        return F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0)

    raw_counts = toks(df, with_id=False).groupBy("_b").agg(
        F.count(F.lit(1)).alias("_cr")
    )
    tgt_counts = toks(target, with_id=False).groupBy("_b").agg(
        F.count(F.lit(1)).alias("_ct")
    )
    raw_total = raw_counts.agg(F.coalesce(F.sum("_cr"), F.lit(0)).alias("_tr"))
    tgt_total = tgt_counts.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_tt"))
    # full outer over the ≤ n_buckets bucket rows: a bucket unseen on
    # one side still gets its smoothed mass; the scalar totals are
    # cross-joined in (one-row broadcasts), never ridden on one side
    # of the outer join where the other side's rows would see NULL
    merged = (
        raw_counts.join(tgt_counts, "_b", "full_outer")
        .select(
            "_b",
            F.coalesce("_cr", F.lit(0)).alias("_cr"),
            F.coalesce("_ct", F.lit(0)).alias("_ct"),
        )
        .crossJoin(F.broadcast(raw_total))
        .crossJoin(F.broadcast(tgt_total))
    )
    bl = F.lit(n_buckets).cast("long")
    logp_t = q(F.log((F.col("_ct") + 1) / (F.col("_tt") + bl)))
    logp_r = q(F.log((F.col("_cr") + 1) / (F.col("_tr") + bl)))
    table = merged.select("_b", (logp_t - logp_r).alias("_lr"))
    scored = toks(df, with_id=True).join(F.broadcast(table), "_b")
    agg = scored.groupBy(id_col).agg(
        (
            F.sum(F.col("_lr").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("dsir_logratio"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .withColumn("n_tokens", F.coalesce("n_tokens", F.lit(0)))
    )


def priority_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "priority",
    estimate: bool = False,
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of size
    ``n``: priority sampling (Duffield, Lund & Thorup, JACM 2007) —
    keep the n rows of largest priority w/u, u uniform on (0, 1].
    High-weight rows are near-certain picks, low-weight rows enter
    with probability ∝ w, and the kept set supports unbiased
    subset-sum estimation (each kept row weighted max(w, τ) for the
    (n+1)-th priority τ). The pipeline use: sample a corpus by token
    count / quality weight reproducibly.

    Priority sampling is chosen over the better-known
    Efraimidis–Spirakis exponential-key scheme DELIBERATELY: the ES
    key u^(1/w) needs pow/ln, whose last-ulp behavior is
    library-specific, so no SQL oracle could replay the selection
    exactly. The priority key is one IEEE division of two
    exactly-representable doubles — every engine computes the
    identical key, the identical order, the identical sample:

      u = (h + 1) / 2^52, h = first 13 hex chars of
      md5(id || salt) — 52 bits, exactly representable;
      priority = w / u, ordered (priority DESC, id ASC).

    Rows with NULL or non-positive weight are excluded (they have no
    sampling mass). Returns (id_col, weight_col, priority); the
    top-n is a TakeOrdered — no full sort at any scale.

    With ``estimate=True`` the output adds ``est_weight`` = max(w, τ)
    where τ is the (n + 1)-th priority (0 when the population has
    ≤ n rows) — the paper's whole point: Σ est_weight over the kept
    rows is an UNBIASED estimator of any subset's total weight
    (answer "how many tokens does the corpus hold per domain?" from
    the n-row sample). τ costs one extra TakeOrdered(n + 1) pass and
    rides back as a broadcast scalar; ties at the boundary are
    resolved by the same total order both engines share."""
    if n <= 0:
        raise ValueError(f"need n > 0, got {n}")
    w = F.col(weight_col).cast("double")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(2**52))
    # filter on the RAW column (not its double cast) so the predicate
    # reaches the parquet scan as a pushed filter
    keyed = df.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > F.lit(0))
    ).select(F.col(id_col), F.col(weight_col), (w / u).alias("priority"))
    top = keyed.orderBy(F.col("priority").desc(), F.col(id_col)).limit(n)
    if not estimate:
        return top
    # τ = the (n+1)-th priority: min over the TakeOrdered(n+1) frame
    # when the population reaches n+1 rows, else 0 — a one-row
    # broadcast, never a corpus-wide exchange
    aux = (
        keyed.orderBy(F.col("priority").desc(), F.col(id_col))
        .limit(n + 1)
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min("priority").alias("_minp"),
        )
        .select(
            F.when(F.col("_c") == n + 1, F.col("_minp"))
            .otherwise(F.lit(0.0))
            .alias("_tau")
        )
    )
    return top.crossJoin(F.broadcast(aux)).select(
        F.col(id_col),
        F.col(weight_col),
        F.col("priority"),
        F.greatest(F.col(weight_col).cast("double"), F.col("_tau")).alias(
            "est_weight"
        ),
    )


def exact_stratified_split(
    df: DataFrame,
    fractions: Mapping[str, float],
    group_cols: Seq[str] = ("lang",),
    id_col: str = "doc_id",
    salt: str = "xsplit",
    output: str = "split",
    num_partitions: int | None = None,
) -> DataFrame:
    """Split with EXACT per-group counts: every group (language,
    domain, ...) contributes floor(cum_frac · n_group + 0.5) rows to
    each successive split, in deterministic hash order — the
    guarantee ``deterministic_split``'s content-hash buckets cannot
    make (hash splits are only exact in expectation; a 300-doc
    low-resource language can easily land 75/25 under a nominal
    80/10/10). Rows are ordered within their group by
    md5(id || salt) — an unbiased deterministic shuffle — and ranked
    by the distributed exact-rank machine (``rank.grouped_rank``:
    range partition + broadcast offsets, NEVER a per-group window
    sort, so the biggest group costs the same per task as the
    smallest at 100 TB). Returns ``df`` plus ``output``.

    Cumulative fractions are rounded to 10 dp before the boundary
    expression floor(cum · n + 0.5) so both the engine and any SQL
    oracle evaluate the same double literal (0.8 + 0.1 in binary is
    not 0.9; round(·, 10) is)."""
    if not fractions:
        raise ValueError("need at least one split")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    if output in df.columns:
        raise ValueError(f"exact_stratified_split: column {output!r} exists")
    from .rank import grouped_rank

    order = [
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))).asc(),
        F.col(id_col).asc(),
    ]
    ranked = grouped_rank(
        df,
        group_cols=list(group_cols),
        order_cols=order,
        num_partitions=num_partitions,
        rank_col="_xrank",
        count_col="_xn",
    )
    labels = list(fractions.items())
    expr: Column = F.lit(labels[-1][0])
    if len(labels) > 1:
        chain = F
        cum = 0.0
        for label, frac in labels[:-1]:
            cum = round(cum + frac, 10)
            boundary = F.floor(F.lit(cum) * F.col("_xn") + F.lit(0.5))
            chain = chain.when(F.col("_xrank") <= boundary, F.lit(label))  # type: ignore[assignment]
        expr = chain.otherwise(expr)  # type: ignore[union-attr]
    return ranked.withColumn(output, expr).drop("_xrank", "_xn")


__all__ = [
    "hash_bucket",
    "deterministic_split",
    "deterministic_sample",
    "deterministic_shuffle",
    "stratified_sample",
    "temperature_resample",
    "dataset_profile",
    "approx_dataset_profile",
    "dsir_log_ratio",
    "priority_sample",
    "exact_stratified_split",
    "waterfill_allocation",
]


def waterfill_allocation(
    df: DataFrame,
    budget: int,
    domain_col: str = "lang",
    token_col: str | None = None,
) -> DataFrame:
    """Capped proportional (water-filling) budget allocation across
    domains — the max-min fair split of a token budget (Bertsekas &
    Gallager 1992 §6.5.2's max-min fairness; the data-mixing use:
    cap the biggest web domains at the water level L so no domain
    floods the mix, while every domain smaller than L keeps all of
    its supply). Returns one row per domain: (domain_col, supply
    BIGINT, allocation BIGINT) with Σ allocation = min(budget,
    Σ supply): allocation_i = supply_i below the level, = L or L+1
    at the level (the integer remainder goes one unit each to the
    lexicographically-first capped domains — deterministic).

    Fully RELATIONAL — the level derivation is window prefix sums
    over the |domains|-row aggregate, so there is no driver loop at
    all (contrast ``doremi_weights``'s EG iterations): one
    map-side-combined corpus aggregate, then window functions over a
    tiny frame, all exact BIGINT. Any engine replays it. Ascending
    (supply, domain) order makes the scan total; the first row whose
    supply exceeds the even split of the remaining budget pins
    L = (B − prefix) DIV slots and R = (B − prefix) % slots, and
    every capped domain's supply strictly exceeds L (the binding row
    is strict and supplies are sorted), so the +1 units always fit.

    ``token_col=None`` measures supply in rows; a column name
    measures it in that column's sum (NULLs count 0)."""
    if budget <= 0:
        raise ValueError(f"need budget > 0, got {budget}")
    from pyspark.sql import Window

    mass = (
        F.count(F.lit(1)).cast("long")
        if token_col is None
        else F.sum(F.coalesce(F.col(token_col).cast("long"), F.lit(0)))
    )
    sup = (
        df.where(F.col(domain_col).isNotNull())
        .groupBy(domain_col)
        .agg(mass.alias("supply"))
    )
    w = Window.orderBy("supply", domain_col)
    full = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = sup.select(
        domain_col,
        "supply",
        (F.sum("supply").over(w) - F.col("supply")).alias("prefix"),
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(full).alias("n"),
    )
    binds = F.col("supply") > F.expr(f"({budget}L - prefix) DIV (n - i + 1)")
    marked = ranked.select(
        domain_col,
        "supply",
        F.when(binds, F.col("i")).alias("_bi"),
        F.when(binds, F.expr(f"({budget}L - prefix) DIV (n - i + 1)")).alias("_l"),
        F.when(binds, F.expr(f"({budget}L - prefix) % (n - i + 1)")).alias("_r"),
    )
    # the FIRST binding row (min i) pins the level; min_by is exact
    # over the tiny frame. NULL level (no binding row) = budget
    # covers every supply.
    first_bind = Window.orderBy(F.col("_bi").asc_nulls_last()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    leveled = marked.select(
        domain_col,
        "supply",
        F.first("_l", ignorenulls=True).over(first_bind).alias("L"),
        F.first("_r", ignorenulls=True).over(first_bind).alias("R"),
    )
    capped_rank = F.row_number().over(
        Window.partitionBy(
            F.when(F.col("supply") > F.col("L"), F.lit(1)).otherwise(F.lit(0))
        ).orderBy(domain_col)
    )
    return leveled.select(
        domain_col,
        "supply",
        F.when(F.col("L").isNull() | (F.col("supply") <= F.col("L")), F.col("supply"))
        .otherwise(
            F.col("L")
            + F.when(capped_rank <= F.col("R"), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("allocation"),
    )
