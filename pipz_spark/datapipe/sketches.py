"""HyperLogLog distinct-count sketch — engine-exact by construction
(Flajolet et al. 2007; the practical corrections follow Heule et
al. 2013's reading of the small-range regime).

WHY a sketch when Spark has ``approx_count_distinct``: (a) Spark's
HLL++ register layout is JVM-internal, so no external oracle can
replay it — this one is built from the repo's md5 idiom and replays
bit-for-bit in DuckDB SQL; (b) the registers here are a first-class
DataFrame, so sketches MERGE across partitions, days, or datasets by
``max`` (the property that makes HLL the 100 TB tool: count distinct
users per day once, then union any date range without rescanning).

Scale shape: exact count-distinct shuffles every distinct value;
HLL shuffles at most m = 2^b register rows per group, map-side
combined (max is associative/commutative), so the exchange is
O(groups × m) regardless of corpus size.

Engine-exact construction (no float accumulation anywhere):

  - hash: md5(value || salt) — bucket = first b/4 hex chars, and the
    rank ρ (leading-zeros + 1 of the next 52 bits) is derived by
    STRING arithmetic on the hex (count leading '0' chars → 4 bits
    each; the first non-zero hex digit's value pins the remainder),
    so ρ is exact in any engine with md5 + substring — no log2, no
    bit intrinsics;
  - per-(group, bucket) register M_j = max(ρ) — BIGINT;
  - the harmonic denominator is held EXACTLY as the integer
    S = Σ_j 2^(50 − min(M_j, 50)) (empty buckets contribute 2^50):
    every term is a power of two ≤ 2^49, the sum is an exact BIGINT
    under any order. (Clamping ρ at 50 perturbs terms < 2^-50 —
    beyond double precision's contribution to the estimate anyway.)
  - raw estimate = α_m·m²·2^50 / S: the numerator is one double
    literal (computed once, embedded in both engines), S is an exact
    integer, and one IEEE division is correctly rounded everywhere —
    identical doubles, no quantization needed;
  - the small-range branch (raw ≤ 2.5m with empty buckets) is
    linear counting m·ln(m/V): ln is the suite's one transcendental,
    floor-quantized at 1e-6 (the dsir/classifier discipline,
    DIVERGENCES #25).

Output also carries ``hll_s`` (the exact integer S) and
``hll_empty`` (V) — the auditable register summary a red hash row
would be diagnosed from.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from collections.abc import Sequence as Seq


def _hll_alpha_numer(m: int) -> float:
    """α_m · m² · 2^50 as one double — embedded as the SAME literal
    in the Spark plan and any SQL oracle."""
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(2**50)


def _check_b(b: int) -> None:
    if b % 4 != 0 or not (4 <= b <= 16):
        raise ValueError(f"b must be a multiple of 4 in [4, 16], got {b}")


def hll_register_cols(col: Column, b: int = 12, salt: str = "hll") -> tuple:
    """(bucket, rho) expressions for one value — the projection half
    of the sketch, exposed so STREAMING aggregations can reuse it:
    project these statelessly, then ``groupBy(..., bucket).max(rho)``
    in update mode gives a bounded-state distinct-count over an
    unbounded stream (max is exactly the aggregation Spark's state
    store merges incrementally)."""
    _check_b(b)
    hb = b // 4  # hex chars consumed by the bucket
    h = F.md5(F.concat(col.cast("string"), F.lit(salt)))
    bucket = F.conv(F.substring(h, 1, hb), 16, 10).cast("long")
    hx = F.substring(h, hb + 1, 13)  # 52 bits of rank material
    stripped = F.regexp_replace(hx, "^0+", "")
    zhex = F.lit(13) - F.length(stripped)
    first = F.conv(F.substring(stripped, 1, 1), 16, 10).cast("int")
    extra = (
        F.when(first >= 8, F.lit(0))
        .when(first >= 4, F.lit(1))
        .when(first >= 2, F.lit(2))
        .otherwise(F.lit(3))
    )
    rho = (
        F.when(F.length(stripped) == 0, F.lit(53))
        .otherwise(zhex * F.lit(4) + extra + F.lit(1))
        .cast("long")
    )
    return bucket, rho


def hll_sketch(
    df: DataFrame,
    col: str,
    group_cols: Seq[str] = (),
    b: int = 12,
    salt: str = "hll",
) -> DataFrame:
    """The REGISTER stage of the HLL: one (*group_cols, hll_bucket,
    hll_rho) row per non-empty register. This frame is the sketch's
    merge currency — registers for the same (group, bucket) combine
    by MAX, so sketches written per day/partition/dataset union and
    re-aggregate without rescanning values (``hll_merge``), the
    property that makes HLL the 100 TB distinct-count tool.
    ``hll_estimate`` finalizes registers into a count."""
    gcols = list(group_cols)
    bucket, rho = hll_register_cols(F.col(col), b=b, salt=salt)
    return (
        df.where(F.col(col).isNotNull())
        .select(*gcols, bucket.alias("hll_bucket"), rho.alias("_rho"))
        .groupBy(*gcols, "hll_bucket")
        .agg(F.max("_rho").alias("hll_rho"))
    )


def hll_merge(sketches: DataFrame, group_cols: Seq[str] = ()) -> DataFrame:
    """Merge unioned ``hll_sketch`` frames: max per (group, bucket).
    Lossless — merging per-part sketches equals sketching the union
    of the parts (max is idempotent/associative/commutative)."""
    return sketches.groupBy(*group_cols, "hll_bucket").agg(
        F.max("hll_rho").alias("hll_rho")
    )


def hll_estimate(
    regs: DataFrame,
    group_cols: Seq[str] = (),
    b: int = 12,
    out_col: str = "hll_distinct",
) -> DataFrame:
    """Finalize an ``hll_sketch``/``hll_merge`` register frame into
    (*group_cols, out_col DOUBLE, hll_s BIGINT, hll_empty BIGINT).
    ``b`` must match the sketch's."""
    _check_b(b)
    m = 1 << b
    numer = _hll_alpha_numer(m)
    gcols = list(group_cols)
    # pyspark's F.shiftleft only takes a literal shift; the SQL form
    # accepts an expression
    term: Column = F.expr("shiftleft(1L, cast(50 - least(hll_rho, 50) as int))")
    per_group = regs.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("_seen"),
        # coalesce: a GLOBAL aggregate over an empty frame yields one
        # row with SUM = NULL; the sketch of nothing is 0 distinct
        # (all m buckets empty -> linear counting m*ln(m/m) = 0),
        # not NULL
        F.coalesce(F.sum(term), F.lit(0).cast("long")).alias("_sp"),
    )
    v = (F.lit(m) - F.col("_seen")).cast("long")
    s = (F.col("_sp") + v * F.lit(2**50).cast("long")).alias("hll_s")
    raw = F.lit(numer) / F.col("hll_s")
    lnq = (
        F.floor(F.log(F.lit(float(m)) / F.col("hll_empty").cast("double")) * F.lit(1e6) + F.lit(0.5))
        / F.lit(1e6)
    )
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("hll_empty") > 0), F.lit(float(m)) * lnq
    ).otherwise(raw)
    return per_group.select(
        *gcols, s, v.alias("hll_empty")
    ).select(*gcols, est.alias(out_col), "hll_s", "hll_empty")


def hll_distinct(
    df: DataFrame,
    col: str,
    group_cols: Seq[str] = (),
    b: int = 12,
    salt: str = "hll",
    out_col: str = "hll_distinct",
) -> DataFrame:
    """Estimate the distinct count of ``df[col]`` per ``group_cols``
    (global if empty) with a 2^b-register HLL — the one-shot
    composition ``hll_estimate(hll_sketch(...))``; use the stages
    directly to store and merge sketches incrementally. Returns one
    row per group: (*group_cols, out_col DOUBLE, hll_s BIGINT,
    hll_empty BIGINT). NULL values are ignored (COUNT DISTINCT
    semantics). Standard error ≈ 1.04/√(2^b) ≈ 1.6% at the default
    b=12. Deterministic and oracle-replayable — see module
    docstring."""
    return hll_estimate(
        hll_sketch(df, col, group_cols, b=b, salt=salt),
        group_cols,
        b=b,
        out_col=out_col,
    )


def hll_intersect_estimate(
    df: DataFrame,
    col: str,
    part_col: str,
    part_a,
    part_b,
    b: int = 12,
    salt: str = "hll",
) -> DataFrame:
    """Set-algebra over HLL sketches: estimate |A ∩ B| of the
    distinct ``col`` values of two partitions by inclusion-exclusion
    (Flajolet et al. 2007 §4 — HLLs support union NATIVELY via
    register max, so |A∩B| ≈ |A| + |B| − |A∪B| with no third scan).
    Returns ONE row: (hll_a, hll_b, hll_union, hll_overlap DOUBLE).

    The union sketch is DERIVED from the per-part register frames by
    ``hll_merge`` — the input is scanned once for the two part
    sketches and never again, which is the whole reason sketches are
    the merge currency: pre-computed per-partition registers answer
    any union/overlap question later. Inclusion-exclusion error
    compounds the individual standard errors (≈1.04/√2^b each), so
    small true overlaps need larger ``b`` — the published caveat,
    the caller's knob. Deterministic: every register replays
    engine-exactly, and the overlap is one IEEE sum of three
    replayed doubles."""
    gcol = F.when(F.col(part_col) == part_a, F.lit("a")).otherwise(F.lit("b"))
    regs = hll_sketch(
        df.where(F.col(part_col).isin([part_a, part_b])).select(
            gcol.alias("_g"), F.col(col)
        ),
        col,
        ["_g"],
        b=b,
        salt=salt,
    )
    per = hll_estimate(regs, ["_g"], b=b, out_col="_e")
    # GLOBAL aggregates (one row even when a part has no rows): an
    # empty partition's sketch is 0 distinct, and the single-row
    # contract must hold — a where+crossJoin shape would instead
    # collapse the whole result to zero rows on an empty part
    ea = per.select(
        F.coalesce(
            F.max(F.when(F.col("_g") == "a", F.col("_e"))), F.lit(0.0)
        ).alias("hll_a")
    )
    eb = per.select(
        F.coalesce(
            F.max(F.when(F.col("_g") == "b", F.col("_e"))), F.lit(0.0)
        ).alias("hll_b")
    )
    eu = hll_estimate(hll_merge(regs), [], b=b, out_col="hll_union").select(
        "hll_union"
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .select(
            "hll_a",
            "hll_b",
            "hll_union",
            (F.col("hll_a") + F.col("hll_b") - F.col("hll_union")).alias(
                "hll_overlap"
            ),
        )
    )


def _cms_pos(v: Column, j: int, width: int, salt: str) -> Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(v, F.lit(salt + str(j)))), 1, 13), 16, 10
        ).cast("long")
        % width
    )


def cms_sketch(
    df: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 3,
    group_cols: Seq[str] = (),
    salt: str = "cms",
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min frequency sketch (Cormode & Muthukrishnan 2005):
    ``depth`` hash rows × ``width`` counters per group. Returns one
    (*group_cols, cms_row, cms_pos, cms_count) row per non-zero
    counter — at most depth × width rows per group at ANY corpus
    size, map-side combined (exact integer sums), the third
    mergeable sketch next to HLL (cardinality) and Bloom
    (membership). Sketches over parts SUM to the sketch of the whole
    (``cms_merge``); ``cms_lookup`` answers point queries with
    est ≥ true (one-sided error ≤ e·N/width per row, ANDed across
    depth rows). No transcendental anywhere — an SQL oracle replays
    every counter and estimate exactly.

    ``weight_col`` switches from occurrence counting to WEIGHTED
    mass (exact BIGINT sum of the weight column — e.g. token counts
    per doc, so the sketch answers "how many TOKENS does source X
    contribute" without a doc-level explode): the estimate bound
    becomes est ≥ true weighted mass. Weights must be non-negative
    (a negative weight breaks the one-sided guarantee and is
    REJECTED at runtime — the plan raises on the first negative
    value it scans); non-integer weights are truncated toward zero
    by the BIGINT cast; NULL weights count 0."""
    if width <= 0 or depth <= 0:
        raise ValueError(f"need width > 0 and depth > 0, got {width}, {depth}")
    gcols = list(group_cols)
    v = F.col(col).cast("string")
    rows = F.array(
        *[
            F.struct(
                F.lit(j).alias("cms_row"), _cms_pos(v, j, width, salt).alias("cms_pos")
            )
            for j in range(depth)
        ]
    )
    mass = (
        F.count(F.lit(1))
        if weight_col is None
        else F.sum(F.coalesce(F.col("_wt"), F.lit(0).cast("long")))
    )
    # enforce the documented non-negativity IN the plan (distributed,
    # no extra pass): the guard rides the same projection as the cast
    wt = (
        []
        if weight_col is None
        else [
            F.when(
                F.col(weight_col) < 0,
                F.raise_error(
                    F.concat(
                        F.lit(f"cms_sketch: negative weight in '{weight_col}': "),
                        F.col(weight_col).cast("string"),
                    )
                ).cast("long"),
            )
            .otherwise(F.col(weight_col).cast("long"))
            .alias("_wt")
        ]
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(*gcols, *wt, F.explode(rows).alias("_rp"))
        .select(*gcols, *(["_wt"] if wt else []), "_rp.cms_row", "_rp.cms_pos")
        .groupBy(*gcols, "cms_row", "cms_pos")
        .agg(mass.alias("cms_count"))
    )


def cms_merge(sketches: DataFrame, group_cols: Seq[str] = ()) -> DataFrame:
    """Merge unioned ``cms_sketch`` frames: counters SUM per
    (group, row, pos). Lossless — addition commutes with sketching."""
    return sketches.groupBy(*group_cols, "cms_row", "cms_pos").agg(
        F.sum("cms_count").alias("cms_count")
    )


def cms_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 3,
    salt: str = "cms",
    out_col: str = "cms_est",
) -> DataFrame:
    """Point-query ``probes[col]`` against a ``cms_sketch`` frame
    (ungrouped): one row per DISTINCT probe row (the final per-probe
    min-aggregate dedups exact duplicates — callers joining results
    back do so by the probe columns, never by position) carrying
    ``out_col`` with est ≥ true count (the CMS one-sided guarantee;
    never under). ``width``/``depth``/``salt`` must match the
    sketch's. The sketch side is ≤ depth × width rows and broadcasts;
    the probe side never shuffles wider than its distinct rows."""
    if width <= 0 or depth <= 0:
        raise ValueError(f"need width > 0 and depth > 0, got {width}, {depth}")
    v = F.col(col).cast("string")
    rows = F.array(
        *[
            F.struct(
                F.lit(j).alias("cms_row"), _cms_pos(v, j, width, salt).alias("cms_pos")
            )
            for j in range(depth)
        ]
    )
    probe_cols = probes.columns
    exploded = probes.select(*probe_cols, F.posexplode(rows).alias("_i", "_rp")).select(
        *probe_cols, "_rp.cms_row", "_rp.cms_pos"
    )
    joined = exploded.join(
        F.broadcast(sketch.select("cms_row", "cms_pos", "cms_count")),
        ["cms_row", "cms_pos"],
        "left",
    )
    return joined.groupBy(*probe_cols).agg(
        F.min(F.coalesce(F.col("cms_count"), F.lit(0).cast("long"))).alias(out_col)
    )


def build_bloom(
    ref: DataFrame,
    col: str,
    n_words: int = 4096,
    k: int = 3,
    salt: str = "bloom",
) -> list[int]:
    """Build a Bloom bitmap (Bloom 1970) over the distinct values of
    ``ref[col]``: ``n_words`` 48-bit words (48, not 64, so the word
    arithmetic never touches the sign bit in ANY engine — DuckDB's
    BIGINT ``<<`` range-checks where the JVM wraps). Returns the
    word list — a bounded driver materialization by construction:
    the caller sizes ``n_words`` to the REFERENCE set (the eval
    benchmark, a blocklist), never the corpus, exactly the dsir-vocab
    stance. k hash positions per key come from independently salted
    md5s (the repo's engine-portable hash idiom).

    Sizing: false-positive rate ≈ (set_bits / (48·n_words))^k; for
    n distinct keys, set_bits ≤ k·n. The default 4096 words = 196k
    bits holds ~10k keys at k=3 under 0.4% FP."""
    if n_words <= 0 or k <= 0:
        raise ValueError(f"need n_words > 0 and k > 0, got {n_words}, {k}")
    m_bits = n_words * 48
    v = F.col(col).cast("string")
    positions = [
        F.conv(F.substring(F.md5(F.concat(v, F.lit(salt + str(i)))), 1, 13), 16, 10)
        .cast("long")
        % m_bits
        for i in range(k)
    ]
    rows = (
        ref.where(F.col(col).isNotNull())
        .select(F.explode(F.array(*positions)).alias("_p"))
        .select(F.expr("cast(_p DIV 48 as int)").alias("_w"),
                F.expr("shiftleft(1L, cast(_p % 48 as int))").alias("_b"))
        .groupBy("_w")
        .agg(F.expr("bit_or(_b)").alias("_bits"))
        .collect()  # bounded: <= n_words skinny rows by construction
    )
    words = [0] * n_words
    for r in rows:
        words[r["_w"]] = r["_bits"]
    return words


def bloom_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    n_words: int = 4096,
    k: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Benchmark decontamination via a Bloom membership sketch — the
    JOIN-FREE complement of ``dedup.contamination``: the eval side's
    distinct word n-grams build a ``build_bloom`` bitmap, the bitmap
    rides the TRAIN scan as one array literal (the classifier-weights
    stance), and a train gram is flagged when all k of its bits are
    set. Returns (id, n_flagged) for flagged docs — a deterministic
    SUPERSET of ``contamination``'s exact collisions (false positives
    over-remove, the safe direction for hygiene; rate set by
    ``n_words``/``k``).

    Shape at 100 TB: ``contamination`` already broadcasts the eval
    grams, but the broadcast is the gram STRINGS (tens of MB for a
    large suite) and membership is a hash join per gram row; here the
    corpus-side plan is scan → explode → pure-projection bit test →
    one per-doc count — no join operator at all, and the "broadcast"
    is n_words longs regardless of eval size. Same gram semantics as
    the contamination family (lowercased distinct word n-grams,
    short-doc fallback, blank docs excluded both sides).

    Engine-exact: md5 positions, integer word/bit arithmetic, BIT_OR
    aggregation — a SQL oracle replays the bitmap AND every false
    positive bit-for-bit."""
    from .dedup import word_ngrams
    from ._util import fan_out

    nonblank = F.trim(F.col(text_col)) != ""
    # no .distinct() before the bitmap build: BIT_OR is idempotent,
    # so duplicate gram instances set the same bits — the bitmap is
    # byte-identical and the dedup exchange bought nothing
    eg = eval_df.where(nonblank).select(
        F.explode(word_ngrams(F.col(text_col), n)).alias("_g")
    )
    words = build_bloom(eg, "_g", n_words=n_words, k=k, salt=salt)
    m_bits = n_words * 48

    tg = fan_out(train.where(nonblank)).select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("_g")
    )
    g = F.col("_g")
    probe = tg.withColumn("_bf", F.lit(words))
    cond = F.lit(True)
    for i in range(k):
        probe = probe.withColumn(
            f"_p{i}",
            F.conv(
                F.substring(F.md5(F.concat(g, F.lit(salt + str(i)))), 1, 13), 16, 10
            ).cast("long")
            % m_bits,
        )
        cond = cond & F.expr(
            f"(shiftright(element_at(_bf, cast(_p{i} DIV 48 as int) + 1),"
            f" cast(_p{i} % 48 as int)) & 1L) = 1L"
        )
    return (
        probe.where(cond)
        .groupBy(id_col)
        .agg(F.count_distinct(g).alias("n_flagged"))
    )


# --------------------------------------------------------------------
# KLL-style mergeable quantile sketch — the FOURTH sketch-family
# member (cardinality=HLL, frequency=CMS, membership=Bloom,
# DISTRIBUTION=this). Lineage: the deterministic even-rank compaction
# of Manku, Rajagopalan & Lindsay 1998 (MRL) / the compactor hierarchy
# of Karnin, Lang & Liberty 2016 (KLL), with one deliberate change:
# the randomized / insertion-order-dependent compactor is replaced by
# a MULTISET-CANONICAL rule — compact in sorted value order, keeping
# the rows whose cumulative weight first crosses each multiple of the
# stride s = ceil(W/k). That trades KLL's O((1/ε)·√log(1/δ)) space
# optimality for the repo's engine-exact discipline: the sketch is a
# pure function of the value multiset (no RNG, no order dependence),
# so a DuckDB window query replays it row-for-row, and partition
# layout can never change a byte of it.
#
# Contract (the quantile "merge currency", same shape as the other
# three): a sketch frame is (*group_cols, kll_value, kll_weight
# BIGINT) with the invariant that the cumulative weight of the
# sketch rows up to and including a row, in value order, equals an
# EXACT rank of that row's value in the summarized multiset. Build
# error ≤ ceil(n/k) ranks (ε ≈ 1/k); each merge+re-compact adds
# ≤ ceil(W/k) more (the MRL additive composition) — so day-sketches
# merged over a year answer any percentile at ~2/k relative rank
# error without ever rescanning or re-sorting the year.
#
# Scale shape: the BUILD pass rides ``rank.grouped_rank`` (range
# exchange + two-phase offsets — bounded tasks under any group skew,
# never a per-group window sort); kept rows and their weights are
# CLOSED FORM in (rank, n, s), so the build adds zero passes on top
# of the rank machine. Merge and quantile run window cumsums over
# SKETCH rows only — ≤ parts × (k+1) rows per group, driver-free.
# --------------------------------------------------------------------


def _iceil(a: str, b: str) -> str:
    """Integer ceil(a/b) as a SQL fragment — engine-portable (Spark
    DIV / DuckDB //) and exact for BIGINT, never a double."""
    return f"(({a}) + ({b}) - 1) DIV ({b})"


def kll_sketch(
    df: DataFrame,
    col: str,
    group_cols: Seq[str] = (),
    k: int = 256,
    id_col: str | None = None,
) -> DataFrame:
    """Build a ≤ k+1-row quantile sketch of ``df[col]`` per group
    (global if ``group_cols`` empty): keep the values at sorted ranks
    1, s+1, 2s+1, … and n (s = ceil(n/k)), each weighted by the ranks
    it absorbs, so cumulative sketch weight = exact rank. NULLs are
    ignored. ``id_col`` (optional) is only a rank tiebreaker — the
    output is value-deterministic with or without it, because every
    row of a rank-tie carries the same value. Values are cast to
    DOUBLE (the sketch never does arithmetic on them, so they replay
    exactly) — which bounds exact value fidelity at 2^53: BIGINT
    inputs above that lose low bits in the cast itself (r15 advice;
    IEEE-754 doubles carry 53 mantissa bits). Quantiles of such
    values are still rank-correct for the quantized values, but the
    returned value is the double, not the original integer —
    pre-bucket ids that large (or quantize, as the declared queries
    do with cents) before sketching."""
    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    from .rank import grouped_rank

    gcols = list(group_cols)
    tie = [F.col(id_col).alias("_tie")] if id_col else []
    sel = df.where(F.col(col).isNotNull()).select(
        *gcols, F.col(col).cast("double").alias("kll_value"), *tie
    )
    rank_groups = gcols
    if not gcols:
        # grouped_rank requires a group key; a literal group is the
        # global sketch
        sel = sel.withColumn("_kg", F.lit(0))
        rank_groups = ["_kg"]
    order = [F.col("kll_value")] + ([F.col("_tie")] if id_col else [])
    # rank_col must not shadow grouped_rank's internal ``_r``
    ranked = grouped_rank(sel, rank_groups, order, rank_col="_kr", count_col="_kn")
    kept = ranked.withColumn("_s", F.expr(_iceil("_kn", str(k)))).where(
        ((F.col("_kr") - 1) % F.col("_s") == 0) | (F.col("_kr") == F.col("_kn"))
    )
    # weight = rank − previous kept rank, closed form (no second
    # window): 1 for the min, s for each stride row, the remainder
    # (n−1) % s for a non-stride max
    w = (
        F.when(F.col("_kr") == 1, F.lit(1))
        .when((F.col("_kr") - 1) % F.col("_s") == 0, F.col("_s"))
        .otherwise((F.col("_kn") - 1) % F.col("_s"))
    )
    return kept.select(
        *gcols, "kll_value", w.cast("long").alias("kll_weight")
    )


def _kll_windows(gcols: list):
    from pyspark.sql import Window

    pcols = [F.col(g) for g in gcols] if gcols else [F.lit(0)]
    w_cum = (
        Window.partitionBy(*pcols)
        .orderBy("kll_value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*pcols)
    return w_cum, w_tot


def kll_merge(
    sketches: DataFrame, group_cols: Seq[str] = (), k: int = 256
) -> DataFrame:
    """Merge unioned ``kll_sketch`` frames per group and re-compact
    to ≤ k+1 rows with the same canonical rule: pre-sum weights per
    value (makes the cumsum tie-free, hence engine-deterministic),
    keep the rows whose cumulative weight first crosses each multiple
    of s = ceil(W/k), plus the max. Adds ≤ s rank error per merge
    (MRL composition). Bounded work: windows over sketch rows only."""
    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    gcols = list(group_cols)
    pre = sketches.groupBy(*gcols, "kll_value").agg(
        F.sum("kll_weight").alias("_w")
    )
    w_cum, w_tot = _kll_windows(gcols)
    t = pre.select(
        *gcols,
        "kll_value",
        "_w",
        F.sum("_w").over(w_cum).alias("_cum"),
        F.sum("_w").over(w_tot).alias("_wt"),
    ).withColumn("_s", F.expr(_iceil("_wt", str(k))))
    kept = t.where(
        (
            F.expr(_iceil("_cum", "_s"))
            > F.expr(_iceil("_cum - _w", "_s"))
        )
        | (F.col("_cum") == F.col("_wt"))
    )
    from pyspark.sql import Window

    pcols = [F.col(g) for g in gcols] if gcols else [F.lit(0)]
    w_lag = Window.partitionBy(*pcols).orderBy("kll_value")
    return kept.select(
        *gcols,
        "kll_value",
        (
            F.col("_cum")
            - F.coalesce(F.lag("_cum").over(w_lag), F.lit(0).cast("long"))
        ).alias("kll_weight"),
    )


def kll_from_weighted(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: Seq[str] = (),
    k: int = 256,
) -> DataFrame:
    """Build a sketch from WEIGHTED (value, weight) rows — the
    bounded-domain fast path. When the value domain is small
    (token/document lengths, quantized scores, byte sizes), the
    right 100 TB shape is NOT ranking every row: pre-aggregate
    ``groupBy(value).sum(weight)`` (map-side combined — the exchange
    carries ≤ |domain| rows per group at any corpus size) and
    compact the resulting histogram directly. Produces the same
    (*group_cols, kll_value, kll_weight) contract as ``kll_sketch``
    of the expanded multiset, at zero corpus-sized shuffles beyond
    the histogram's own aggregate. NULL values are dropped; weights
    are FLOORED to BIGINT first and rows whose floored weight is
    non-positive are dropped — a fractional weight in (0, 1) carries
    no mass at all rather than slipping a zero-weight row into the
    sketch (r15 advice: the positivity filter used to run on the
    pre-cast value, so 0.7 passed it and then floored to 0). The
    total-weight = summarized-count invariant holds exactly for
    integral weights; fractional weights are documented truncation.
    Exactness note: compacting the exact
    histogram is a SINGLE canonical compaction — rank error
    ≤ ceil(W/k), the build bound, with no per-part additivity."""
    sel = df.select(
        *group_cols,
        F.col(value_col).cast("double").alias("kll_value"),
        F.col(weight_col).cast("long").alias("kll_weight"),
    ).where(F.col("kll_value").isNotNull() & (F.col("kll_weight") > 0))
    return kll_merge(sel, group_cols, k=k)


def kll_quantile(
    sketch: DataFrame,
    probs: Seq[tuple],
    group_cols: Seq[str] = (),
    out_col: str = "kll_quantile",
) -> DataFrame:
    """Answer quantile queries from a sketch frame: for each
    ``(num, den)`` INTEGER probability pair (the float-free gate —
    targets are exact BIGINT arithmetic, never an IEEE multiply),
    return the smallest sketch value whose cumulative weight reaches
    ceil(num·W/den). One row per (group, prob): (*group_cols,
    q DOUBLE, out_col DOUBLE, kll_n BIGINT) where kll_n is the
    sketch's total weight (= exact summarized count for built or
    losslessly merged sketches)."""
    probs = list(probs)
    if not probs:
        raise ValueError("need at least one (num, den) prob")
    for nd in probs:
        n_, d_ = nd
        if d_ <= 0 or n_ < 0 or n_ > d_:
            raise ValueError(f"need 0 <= num <= den, got {nd}")
    gcols = list(group_cols)
    w_cum, w_tot = _kll_windows(gcols)
    t = sketch.select(
        *gcols,
        "kll_value",
        F.sum("kll_weight").over(w_cum).alias("_cum"),
        F.sum("kll_weight").over(w_tot).alias("_wt"),
    ).withColumn(
        "_q",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(n_)).alias("_qn"), F.lit(int(d_)).alias("_qd")
                    )
                    for n_, d_ in probs
                ]
            )
        ),
    )
    target = F.greatest(
        F.expr(_iceil("_q._qn * _wt", "_q._qd")), F.lit(1).cast("long")
    )
    return t.groupBy(
        *gcols, (F.col("_q._qn") / F.col("_q._qd")).alias("q")
    ).agg(
        F.min(F.when(F.col("_cum") >= target, F.col("kll_value"))).alias(
            out_col
        ),
        F.max("_wt").alias("kll_n"),
    )


def mg_summary(
    df: DataFrame,
    key_col: str,
    k: int = 64,
    group_cols: Seq[str] = (),
    weight_col: str | None = None,
    bounded_domain: bool = False,
) -> DataFrame:
    """Misra–Gries heavy-hitters summary (Misra & Gries 1982,
    "Finding repeated elements"; the mergeable-summaries reading is
    Agarwal et al. 2013) — the FIFTH sketch-family member, and the
    one that ENUMERATES: HLL answers "how many distinct", CMS "how
    often is THIS key" (caller-supplied candidates only), Bloom
    "member?", KLL "what percentile" — none can list WHICH keys
    dominate a stored sketch without a corpus rescan. This one can.

    Per group (global if ``group_cols`` empty): exact per-key counts
    (weights via ``weight_col``, floored to BIGINT then
    positivity-filtered — the ``kll_from_weighted`` discipline), then
    ONE canonical prune to ≤ k key rows: order keys by (count DESC,
    key ASC), let t = the (k+1)-th count (0 when ≤ k keys), keep
    rank ≤ k with count > t, estimate = count − t. Output
    (*group_cols, mg_key, mg_est BIGINT, mg_err BIGINT), PLUS one
    OFFSET ROW per non-empty group — mg_key NULL, mg_est 0, mg_err =
    t — which carries the summary's subtracted offset even when the
    prune drops every key row (all counts tied at t leave no
    survivors, and without the offset row a later ``mg_merge`` would
    understate its error bound — the soundness hole a row-carried
    offset alone has). NULL input keys are dropped (no identity to
    report), so a NULL mg_key unambiguously marks the offset row.

    ``bounded_domain=True`` switches the prune to a per-group window
    rank — several jobs cheaper, identical output (same total
    order). Legal ONLY when the per-group key cardinality is bounded
    by a DECLARED domain rather than data volume: the read-side
    compaction of a state store whose state is already (group, key)
    rows lives under exactly that premise (``stream_heavy_hitters``
    — if the store fits the state backend, a per-group window over
    the same rows fits a task); a corpus build does not, and keeps
    the default grouped_rank range exchange below.

    Guarantees (the MG invariants, engine-exact since everything is
    BIGINT): mg_est ≤ true count ≤ mg_est + mg_err for present keys;
    an absent key has true count ≤ mg_err; and (k+1)·t ≤ W (ranks
    1..k+1 all have count ≥ t), so mg_err ≤ W/(k+1) < W/k — every
    key with true count > W/(k+1) is present. Deterministic: integer
    counts, total-order tie rule (count DESC, key ASC) — any SQL
    engine replays the summary row-for-row.

    Scale shape: the exact counts are one map-side-combined
    aggregate; the prune rides the ``grouped_rank`` range exchange
    (bounded tasks under any key skew — NEVER a one-task-per-group
    window sort over the key space), and the rank-(k+1) threshold
    joins back as a broadcast-sized one-row-per-group frame."""
    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    gcols = list(group_cols)
    if weight_col is None:
        w = F.count(F.lit(1))
        sel = df.where(F.col(key_col).isNotNull()).select(
            *gcols, F.col(key_col).alias("mg_key")
        )
    else:
        w = F.sum("_w")
        sel = df.select(
            *gcols,
            F.col(key_col).alias("mg_key"),
            F.col(weight_col).cast("long").alias("_w"),
        ).where(F.col("mg_key").isNotNull() & (F.col("_w") > 0))
    counts = sel.groupBy(*gcols, "mg_key").agg(w.cast("long").alias("_est"))
    return _mg_prune(
        counts.withColumn("_ei", F.lit(0).cast("long")),
        gcols,
        k,
        summary_sized=bounded_domain,
    )


def _mg_prune(
    counts: DataFrame,
    gcols: list,
    k: int,
    summary_sized: bool = False,
    offset_groups: DataFrame | None = None,
) -> DataFrame:
    """The canonical MG prune shared by build and merge: rank keys by
    (count DESC, key ASC) per group, subtract the (k+1)-th count t
    from every kept count, emit mg_err = _ei + t per row plus the
    per-group offset row (mg_key NULL). ``counts`` carries ``_est``
    (summed counts) and ``_ei`` (the incoming offset: 0 for a build,
    the summed source offsets for a merge).

    The rank plan is chosen by what feeds it: a BUILD ranks the full
    key space, so it rides the grouped_rank range exchange (bounded
    tasks under any key skew); a MERGE ranks ≤ sources × (k+1) rows
    per group (``summary_sized=True``), where a plain window is both
    correct and several jobs cheaper — the kll_merge discipline.
    The two produce identical ranks (same total order).

    ``offset_groups``: one (*gcols, _ei) row per group that must
    emit an offset row even when it contributes ZERO key rows — a
    merge input can be offset-rows-only (every source key pruned),
    and deriving the offset universe from the ranked keys alone
    would silently drop that group's error bound. Builds leave it
    None (a build group exists only if it has keys)."""
    rank_groups = gcols
    if not gcols:
        counts = counts.withColumn("_mg", F.lit(0))
        rank_groups = ["_mg"]
    if summary_sized:
        from pyspark.sql import Window

        w = Window.partitionBy(*[F.col(g) for g in rank_groups]).orderBy(
            F.col("_est").desc(), F.col("mg_key").asc()
        )
        # the threshold t (the (k+1)-th count) rides the SAME
        # partition keys as the rank window, so it costs zero extra
        # exchanges as an unbounded-window MAX — the old join-back
        # (thr rejoined under kept AND under the offset base) put two
        # more copies of the prune subtree in the plan, and prunes
        # COMPOSE (summary → merge → topk), so the duplication
        # multiplied through the chain
        wg = Window.partitionBy(*[F.col(g) for g in rank_groups])
        ranked = counts.withColumn("_mr", F.row_number().over(w)).withColumn(
            "_t",
            F.coalesce(
                F.max(F.when(F.col("_mr") == k + 1, F.col("_est"))).over(wg),
                F.lit(0).cast("long"),
            ),
        )
    else:
        from ..core.caches import track
        from .rank import grouped_rank

        # Three consumers read the build-path rank (kept rows, the
        # k+1 threshold, the rank-1 offset base): unpersisted, each
        # re-ran the full corpus count + rank machine — 3 corpus
        # aggregations for 1 at any scale, and under AQE the
        # duplication multiplied further when prunes compose
        # (dp_heavy_hitters measured 138 jobs per run). The cache is
        # keyspace-sized (distinct keys × groups), strictly smaller
        # than the corpus, released by release_caches().
        ranked = track(
            grouped_rank(
                counts,
                rank_groups,
                [F.col("_est").desc(), F.col("mg_key").asc()],
                rank_col="_mr",
                count_col="_mn",
            ).persist()
        )
        # the build rank is RANGE-partitioned (grouped_rank), not
        # group-partitioned, so the threshold attaches via the
        # broadcast-sized join-back (one row per group) rather than a
        # window that would re-shuffle the whole keyspace per group
        thr = ranked.where(F.col("_mr") == k + 1).select(
            *rank_groups, F.col("_est").alias("_thr")
        )
        ranked = ranked.join(thr, rank_groups, "left").withColumn(
            "_t", F.coalesce(F.col("_thr"), F.lit(0).cast("long"))
        )
    t = F.col("_t")
    kept = ranked.where((F.col("_mr") <= k) & (F.col("_est") > t)).select(
        *gcols,
        "mg_key",
        (F.col("_est") - t).cast("long").alias("mg_est"),
        (F.col("_ei") + t).cast("long").alias("mg_err"),
    )
    key_type = counts.schema["mg_key"].dataType
    if offset_groups is None:
        base = ranked.where(F.col("_mr") == 1)
    else:
        og = offset_groups
        if not gcols:
            og = og.withColumn("_mg", F.lit(0))
        base = og.join(
            ranked.where(F.col("_mr") == k + 1).select(
                *rank_groups, F.col("_est").alias("_ot")
            ),
            rank_groups,
            "left",
        ).withColumn("_t", F.coalesce(F.col("_ot"), F.lit(0).cast("long")))
    offs = base.select(
        *gcols,
        F.lit(None).cast(key_type).alias("mg_key"),
        F.lit(0).cast("long").alias("mg_est"),
        (F.col("_ei") + t).cast("long").alias("mg_err"),
    )
    return kept.unionByName(offs)


def mg_merge(
    summaries: DataFrame,
    k: int = 64,
    group_cols: Seq[str] = (),
    source_cols: Seq[str] = (),
) -> DataFrame:
    """Merge MG summaries per group with the add-then-prune rule
    (Agarwal et al. 2013 §3: pointwise-sum the estimates, subtract
    the (k+1)-th largest, keep positive) — the step that makes the
    summary a STORE primitive: per-shard or per-day k-row summaries
    union and re-compact without touching the corpus.

    ``source_cols`` name the columns that distinguish the source
    summaries within each output group (e.g. merging per-day
    summaries into a global one: ``group_cols=()``,
    ``source_cols=("day",)``): each source's offset mg_err is
    constant across its rows (offset row included), so the merged
    input offset is Σ_sources max(mg_err) — summing it per ROW would
    overcount k×. With ``source_cols=()`` the input is treated as
    ONE summary per group (re-pruning to a smaller k). Summaries
    must be passed INTACT (as built/merged, offset rows included):
    hand-filtered rows would break the offset recovery.

    Error composition: true ≤ Σ(est + err) = est_sum + err_in, and
    the new prune subtracts t from kept keys, so true ≤ mg_est +
    (err_in + t) = mg_est + mg_err — the invariant survives any
    merge tree, and the global bound Σt ≤ W/(k+1) holds because each
    prune's t is supported by ≥ k+1 counters (the classical MG
    argument). Bounded work: every frame here is summary-sized
    (≤ sources × (k+1) rows per group), the kll_merge discipline."""
    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    gcols = list(group_cols)
    scols = list(source_cols)
    est = (
        summaries.where(F.col("mg_key").isNotNull())
        .groupBy(*gcols, "mg_key")
        .agg(F.sum("mg_est").cast("long").alias("_est"))
    )
    if scols:
        errs = (
            summaries.groupBy(*gcols, *scols)
            .agg(F.max("mg_err").alias("_se"))
            .groupBy(*gcols)
            .agg(F.sum("_se").cast("long").alias("_ei"))
        )
    else:
        errs = summaries.groupBy(*gcols).agg(
            F.max("mg_err").cast("long").alias("_ei")
        )
    errs = errs.where(F.col("_ei").isNotNull())
    joined = est.join(errs, gcols) if gcols else est.crossJoin(errs)
    # errs is the offset-row universe: a source summary whose key
    # rows ALL pruned away still contributes its error bound, and
    # the merged summary must carry it even with zero merged keys
    return _mg_prune(
        joined, gcols, k, summary_sized=True, offset_groups=errs
    )


def mg_topk(
    summary: DataFrame, n: int, group_cols: Seq[str] = ()
) -> DataFrame:
    """Enumerate the top-``n`` keys of an MG summary per group,
    ordered by (mg_est DESC, mg_key ASC) — the "WHICH keys are hot"
    answer, with per-key bounds: true count ∈ [mg_est, mg_est +
    mg_err]. Offset rows (mg_key NULL) are excluded — they carry the
    group-level bound, not a key. Summary-sized input (≤ k+1 rows
    per group), so a plain window is the right plan here."""
    if n <= 0:
        raise ValueError(f"need n > 0, got {n}")
    from pyspark.sql import Window

    gcols = list(group_cols)
    pcols = [F.col(g) for g in gcols] if gcols else [F.lit(0)]
    w = Window.partitionBy(*pcols).orderBy(
        F.col("mg_est").desc(), F.col("mg_key").asc()
    )
    return (
        summary.where(F.col("mg_key").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n)
        .select(
            *gcols,
            F.col("_rn").cast("int").alias("mg_rank"),
            "mg_key",
            "mg_est",
            "mg_err",
        )
    )


def _kmv_hash(col: Column, salt: str) -> Column:
    """The KMV hash: first 52 bits of md5(value || salt) as BIGINT —
    the HLL idiom (md5 + substring + conv), so any engine with md5
    reproduces every hash bit-for-bit. 52 bits keep the value inside
    double-exact integer range for the one estimate division."""
    return F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 13),
        16,
        10,
    ).cast("long")


_KMV_SCALE = 2**52


def kmv_sketch(
    df: DataFrame,
    col: str,
    k: int = 1024,
    group_cols: Seq[str] = (),
    salt: str = "kmv",
) -> DataFrame:
    """KMV / theta distinct-value sketch (Beyer et al. 2007, "On
    synopses for distinct value estimation under multiset
    operations"; the practical lineage is the Apache DataSketches
    theta sketch) — the SIXTH sketch-family member, and the one that
    does SET ALGEBRA: HLL's register max can union sketches but
    estimates intersections only by inclusion-exclusion (error
    compounds) and cannot express difference at all; KMV's uniform
    bottom-k hash sample supports union, intersection AND difference
    ("how many keys are NEW today vs the store") with one shared
    sample.

    Per group: the ≤ k smallest DISTINCT 52-bit md5 hashes of the
    column's values, one (*group_cols, kmv_hash BIGINT) row each.
    Deterministic end to end — the hash is the engine-portable md5
    idiom and "k smallest distinct" has exactly one answer — so any
    SQL engine replays the sketch row-for-row. NULLs are ignored
    (COUNT DISTINCT semantics).

    Scale shape: distinct hashes are one map-side-combined
    aggregate; the bottom-k selection rides the ``grouped_rank``
    range exchange (bounded tasks under any group skew — the
    kll/mg machine), and everything downstream (merge, estimates,
    set ops) touches only ≤ k-row sketch frames."""
    if k <= 1:
        raise ValueError(f"need k > 1, got {k}")
    from .rank import grouped_rank

    gcols = list(group_cols)
    hashed = (
        df.where(F.col(col).isNotNull())
        .select(*gcols, _kmv_hash(F.col(col), salt).alias("kmv_hash"))
        .distinct()
    )
    rank_groups = gcols
    if not gcols:
        hashed = hashed.withColumn("_kv", F.lit(0))
        rank_groups = ["_kv"]
    ranked = grouped_rank(
        hashed,
        rank_groups,
        [F.col("kmv_hash").asc()],
        rank_col="_kr",
        count_col="_kn",
    )
    return ranked.where(F.col("_kr") <= k).select(*gcols, "kmv_hash")


def kmv_merge(
    sketches: DataFrame, k: int = 1024, group_cols: Seq[str] = ()
) -> DataFrame:
    """Merge unioned ``kmv_sketch`` frames per group: the k smallest
    distinct hashes of the union of the samples — exactly the sketch
    of the union of the underlying sets (bottom-k of a union is a
    function of the per-part bottom-k's), so per-day sketches stored
    as ≤ k rows union and re-compact without rescanning. Bounded
    work: windows over sketch rows only (the kll_merge discipline)."""
    if k <= 1:
        raise ValueError(f"need k > 1, got {k}")
    from pyspark.sql import Window

    gcols = list(group_cols)
    pcols = [F.col(g) for g in gcols] if gcols else [F.lit(0)]
    w = Window.partitionBy(*pcols).orderBy(F.col("kmv_hash").asc())
    return (
        sketches.select(*gcols, "kmv_hash")
        .distinct()
        .withColumn("_kr", F.row_number().over(w))
        .where(F.col("_kr") <= k)
        .select(*gcols, "kmv_hash")
    )


def kmv_estimate(
    sketch: DataFrame,
    k: int = 1024,
    group_cols: Seq[str] = (),
    out_col: str = "kmv_distinct",
) -> DataFrame:
    """Finalize a sketch into (*group_cols, out_col DOUBLE, kmv_n
    BIGINT, kmv_theta BIGINT): when the sample holds fewer than k
    hashes the count is EXACT (the sketch saw every distinct value);
    otherwise the unbiased KMV estimator (k−1)·2^52 / θ with θ = the
    k-th smallest hash — the numerator is one exactly-representable
    double literal and θ an exact BIGINT, so the single IEEE
    division is identical in any engine (the HLL estimate
    discipline). Relative error ≈ 1/√(k−2)."""
    if k <= 1:
        raise ValueError(f"need k > 1, got {k}")
    gcols = list(group_cols)
    agg = sketch.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("kmv_n"), F.max("kmv_hash").alias("kmv_theta")
    )
    est = F.when(
        F.col("kmv_n") < k, F.col("kmv_n").cast("double")
    ).otherwise(
        F.lit(float((k - 1) * _KMV_SCALE)) / F.col("kmv_theta")
    )
    return agg.select(*gcols, est.alias(out_col), "kmv_n", "kmv_theta")


def kmv_set_estimates(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    k: int = 1024,
) -> DataFrame:
    """Union / intersection / A−B / B−A distinct-count estimates
    from two GLOBAL sketches (one row out): combine the samples,
    keep the m = min(k, |combined|) smallest hashes as the shared
    uniform sample U with threshold θ = max(U), classify every
    member of U by which side's sample contains it, and scale each
    class count by the same 2^52/θ (Beyer et al. §4: U is a uniform
    bottom-m sample of A ∪ B, so class proportions estimate set
    sizes). When the combined sample holds fewer than k hashes every
    count is EXACT (both sketches saw their full key sets). Output:
    (kmv_union, kmv_intersect, kmv_a_only, kmv_b_only — DOUBLE;
    kmv_m, kmv_theta — BIGINT audit columns). Every count is an
    exact BIGINT; the numerator is formed as double(n) · double(2^52)
    — EXACT for any n < 2^53 because scaling by a power of two only
    moves the exponent (and a BIGINT product would overflow int64
    under ANSI at k ≥ 2^11, the kmv100x rig's k) — so the one
    rounding is the final IEEE division and any engine replays all
    four doubles bit-for-bit. Bounded work: every frame here is
    ≤ 2k rows."""
    if k <= 1:
        raise ValueError(f"need k > 1, got {k}")
    from pyspark.sql import Window

    a = sketch_a.select("kmv_hash").withColumn("_ina", F.lit(1))
    b = sketch_b.select("kmv_hash").withColumn("_inb", F.lit(1))
    both = a.join(b, "kmv_hash", "full").select(
        "kmv_hash",
        F.coalesce("_ina", F.lit(0)).alias("_a"),
        F.coalesce("_inb", F.lit(0)).alias("_b"),
    )
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("kmv_hash").asc())
    u = both.withColumn("_kr", F.row_number().over(w)).where(F.col("_kr") <= k)
    zero = F.lit(0).cast("long")
    # coalesce: a GLOBAL aggregate over two EMPTY sketches yields one
    # row with SUM = NULL; the set algebra of nothing is 0 everywhere
    agg = u.agg(
        F.count(F.lit(1)).alias("kmv_m"),
        F.coalesce(F.max("kmv_hash"), zero).alias("kmv_theta"),
        F.coalesce(F.sum(F.col("_a") * F.col("_b")), zero).alias("_n_int"),
        F.coalesce(F.sum(F.col("_a") * (1 - F.col("_b"))), zero).alias("_n_ao"),
        F.coalesce(F.sum((1 - F.col("_a")) * F.col("_b")), zero).alias("_n_bo"),
    )

    def scale(n: Column) -> Column:
        # exact when the combined sample is complete (< k hashes);
        # otherwise n·2^52/θ with the numerator formed in DOUBLE
        # (exact — power-of-two scaling; a BIGINT product overflows
        # ANSI int64 at k ≥ 2^11)
        return F.when(F.col("kmv_m") < k, n.cast("double")).otherwise(
            n.cast("double")
            * F.lit(float(_KMV_SCALE))
            / F.col("kmv_theta")
        )

    return agg.select(
        scale(F.col("kmv_m")).alias("kmv_union"),
        scale(F.col("_n_int")).alias("kmv_intersect"),
        scale(F.col("_n_ao")).alias("kmv_a_only"),
        scale(F.col("_n_bo")).alias("kmv_b_only"),
        "kmv_m",
        "kmv_theta",
    )


__all__ = [
    "bloom_contamination",
    "build_bloom",
    "cms_lookup",
    "cms_merge",
    "cms_sketch",
    "hll_distinct",
    "hll_estimate",
    "hll_intersect_estimate",
    "hll_merge",
    "hll_register_cols",
    "hll_sketch",
    "kll_from_weighted",
    "kll_merge",
    "kll_quantile",
    "kll_sketch",
    "kmv_estimate",
    "kmv_merge",
    "kmv_set_estimates",
    "kmv_sketch",
    "mg_merge",
    "mg_summary",
    "mg_topk",
]
