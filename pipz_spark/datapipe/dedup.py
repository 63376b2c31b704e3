"""Deduplication operators — exact and near-duplicate, built for scale.

100 TB posture (SURVEY §7.3.7): near-dup detection must NEVER
generate the all-pairs cross product. The MinHash path is banded LSH:
shingle → 120 minhashes → 24 bands of 5 → explode to (band, hash)
buckets → in-bucket pair expansion (one aggregation, no self-join)
→ verify candidates with exact shingle Jaccard. Hot buckets
(boilerplate text) are split into fixed-size chunk cells so one
degenerate bucket cannot quadratically blow up a partition — the
standard skew guard for LSH joins.

The signature is one Arrow-batched UDF straight from the text: code
points → k-wide window hashes → distinct → dense (a*h + b) mod p
minima in numpy. Spark evaluates array lambdas (``transform``,
``aggregate``) interpreted, element by element, so shingling there
cost more than the minima it fed. The exact verify is a second
Arrow UDF over each candidate's two texts, run where the candidate
lands (filter, then verify in place): Python code-point shingle
sets, the same windows as ``char_shingles``, the definition the
DuckDB oracles share.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .graph import connected_components

from ..core.caches import track
from ..core.errors import ERROR_COL, ensure_error_column, is_ok
from .text import WS
from ..core.step import Step
from ..operators.processors import _guarded

_MAXLONG = (1 << 63) - 1


def exact_dedup(
    name: str = "exact-dedup",
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> Step:
    """Exact deduplication in one window pass: per content key, the
    smallest id among the ok rows is elected keeper (deterministic,
    unlike ``dropDuplicates``) and every other ok row of the key is
    dropped. One exchange, no self-join: the keyed frame is read once,
    so everything upstream of it (scan, Python UDFs) runs once.

    Errored rows are exempt from dedup and PASS THROUGH unchanged (the
    schema is row-identity-preserving), so upstream dead letters still
    reach the sink — fail-fast skips a row, it never deletes it. They
    never take part in electing a keeper, and each sits in a window
    partition of its own id rather than all in one."""

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        df = ensure_error_column(df)
        text = F.col(text_col)
        key = F.md5(F.regexp_replace(F.lower(text), WS, " ")) if normalize else F.md5(text)
        # NULL text → NULL md5; coalesce to a sentinel so NULL-text
        # rows form one dedup group (matching SQL GROUP BY, which
        # groups NULLs together)
        key = F.coalesce(key, F.lit("__pipz_null__"))
        ok = is_ok()
        ident = F.col(id_col)
        # ok rows partition by (key, NULL), failed rows by (NULL, id):
        # the key is never NULL, so the two never share a partition
        w = Window.partitionBy(F.when(ok, key), F.when(~ok, ident))
        keep_id = F.min(F.when(ok, ident)).over(w)
        # NULL-SAFE id equality (r7 review finding): min() skips NULL
        # ids, so a group whose ids are ALL NULL gets keeper id NULL —
        # with <=> it keeps its rows (no id exists to elect one keeper
        # by — documented); a mixed group still drops its NULL-id rows
        # as duplicates of the non-NULL keeper, which IS dedup behavior.
        cols = [c for c in df.columns if c != ERROR_COL]
        return (
            df.withColumn("_pipz_keep_id", keep_id)
            .where(~ok | ident.eqNullSafe(F.col("_pipz_keep_id")))
            .select(*cols, ERROR_COL)
        )

    return Step(name, fn, node_type="exact_dedup")


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-character shingles (positions via sequence — one
    expression, no explode)."""
    n = F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: text.substr(i, F.lit(k)))
    )


def gram_array(text: Column, n: int = 3) -> Column:
    """NON-distinct lowercased word n-grams, in document order. The
    single source of truth for gram construction — word_ngrams (the
    distinct set) and ngram_repetition (occurrence counts) both build
    on it, so the short-doc fallback (a doc below ``n`` tokens
    contributes its whole text as one gram) cannot drift between
    consumers."""
    toks = F.split(F.trim(F.lower(text)), WS)
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), cnt - 1),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )


def word_ngrams(text: Column, n: int = 3) -> Column:
    return F.array_distinct(gram_array(text, n))


def _hash_family(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) coefficients for the universal family
    h_j(x) = a_j * x32 + b_j with a_j odd < 2^30, b_j < 2^30 — the
    product of a 32-bit base hash and a 30-bit coefficient stays
    under 2^62, so the arithmetic is overflow-free even under ANSI."""
    import random

    rng = random.Random(seed)
    a = [(rng.randrange(1, 1 << 30) | 1) for _ in range(num_hashes)]
    b = [rng.randrange(0, 1 << 30) for _ in range(num_hashes)]
    return a, b


# smallest prime > 2^32: the modulus that makes the linear family
# order-SCRAMBLING (without it a*h+b is monotonic in h and every
# "permutation" would select the same min shingle)
_PRIME_GT_32 = 4294967311


# window hash constants: XOR each code point into a 64-bit state and
# multiply by an odd constant (FNV-1a's shape, over code points, with
# the golden-ratio multiplier). Fixed integers, so every worker
# process computes the same value — never Python's salted hash()
_WINDOW_SEED = np.uint64(0xCBF29CE484222325)
_WINDOW_MUL = np.uint64(0x9E3779B97F4A7C15)
_LOW32 = np.uint64(0xFFFFFFFF)


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct 32-bit hashes (int64) of ``char_shingles(text, k)``:
    the same code-point windows (a text shorter than k is one
    whole-text shingle, ``""`` one empty shingle), each folded into a
    64-bit state whose high half is xor-shifted onto the low one and
    cut to 32 bits — so a_j * h + b_j stays under 2^62."""
    cps = np.frombuffer(text.encode("utf-32-le", "surrogatepass"), dtype="<u4")
    cps = cps.astype(np.uint64)
    n = max(len(cps) - k + 1, 1)
    state = np.full(n, _WINDOW_SEED, dtype=np.uint64)
    for j in range(min(k, len(cps))):
        state = (state ^ cps[j:j + n]) * _WINDOW_MUL
    return np.unique((state ^ (state >> np.uint64(32))) & _LOW32).astype(np.int64)


def _minhash_udf(num_hashes: int, shingle_k: int):
    """THE MinHash signature: an Arrow-batched UDF from text to
    array<bigint> of ``num_hashes`` minima of (a_j * h + b_j) mod p
    over the text's distinct shingle hashes, one (num_hashes x
    n_shingles) broadcasted multiply-min per document. NULL text gets
    the all-``_MAXLONG`` sentinel, which no real minimum (< p) can
    equal; ``banded_signatures`` drops it, so a NULL doc is never a
    candidate. Every signature path (the ``minhash_signature`` Step,
    ``minhash_signatures_df`` and so ``cross_near_dup_pairs``) calls
    this one function."""
    a_co, b_co = _hash_family(num_hashes)
    a_vec = np.array(a_co, dtype="int64")[:, None]
    b_vec = np.array(b_co, dtype="int64")[:, None]
    sentinel = np.full(num_hashes, _MAXLONG, dtype="int64")

    def sign(text: str) -> np.ndarray:
        h = _shingle_hashes(text, shingle_k)[None, :]
        return ((a_vec * h + b_vec) % _PRIME_GT_32).min(axis=1)

    @F.pandas_udf("array<bigint>")
    def minhash(texts: pd.Series) -> pd.Series:
        return pd.Series([sentinel if t is None else sign(t) for t in texts])

    return minhash


# the signature definition a ``_sig`` column was built by, pinned in
# its schema metadata (survives parquet round-trips): a stored index
# signed by another definition or shingle width collides on nothing,
# so ``cross_near_dup_pairs`` refuses it instead of answering []
_SIG_DEFINITION = "codepoint-window-xor-mul/v1"


def _sig_meta(shingle_k: int) -> dict:
    return {"minhash_definition": _SIG_DEFINITION, "shingle_k": shingle_k}


def _signed_docs(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_k: int
) -> DataFrame:
    """(_id, _t text, _sig) per row: the one doc frame the near-dup
    paths persist, band, and join to both sides of a candidate."""
    from ._util import fan_out

    sig = _minhash_udf(num_hashes, shingle_k)
    return fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_t"),
        sig(F.col(text_col)).alias("_sig", metadata=_sig_meta(shingle_k)),
    )


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    shingle_k: int = 5,
) -> DataFrame:
    """(_id, _sig array<long>) per row, signed by ``_minhash_udf``
    (NULL text → the sentinel signature). Per-partition work, no
    shuffle (fan_out only rebalances when the scan under-partitions
    — a one-file table must not serialize the UDF on one core).

    A signature frame persisted as an index is tied to this signature
    definition as well as to ``num_hashes``/``shingle_k``: ``_sig``
    carries the definition and ``shingle_k`` in its column metadata,
    and ``cross_near_dup_pairs(ref_sigs=...)`` rejects an index whose
    tag is missing or differs. An index written before the tag
    existed must be rebuilt: one signed by an earlier definition
    collides on nothing, and one signed by this same definition
    carries no tag to tell it apart."""
    return _signed_docs(df, id_col, text_col, num_hashes, shingle_k).drop("_t")


def minhash_signature(
    name: str = "minhash",
    text_col: str = "text",
    num_hashes: int = 128,
    shingle_k: int = 5,
) -> Step:
    """Attach ``minhash`` (array<long>, length num_hashes), the same
    signature ``minhash_signatures_df`` computes. A dead row is never
    signed: the UDF sees NULL there and the row keeps its values."""
    sig = _minhash_udf(num_hashes, shingle_k)

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        return _guarded(df, {"minhash": sig(F.when(is_ok(), F.col(text_col)))})

    return Step(name, fn, node_type="minhash", metadata={"num_hashes": num_hashes})


def _bucket_pairs(bucketed: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """(id_a < id_b) pairs co-bucketed on ``keys``, EXHAUSTIVE and
    skew-safe, in one lazy plan with no join and no action.

    One aggregation builds the sorted DISTINCT id list per bucket (a
    caller frame may repeat an id, and a repeated id must not pair
    with itself); the list is cut into chunks of ``max_bucket`` ids
    and every chunk pair (i <= j) becomes one CELL row holding the two
    slices. The cells are spread by an exchange on (bucket key, i, j),
    then each cell expands IN-ARRAY: the p < q positions of its chunk
    when i = j, the full cross product when i < j (ids are sorted, so
    every pair comes out as id_a < id_b). A small bucket is one cell,
    so the common case is the plain in-array expansion; a hot bucket
    of k ids becomes ~(k/max_bucket)²/2 cells of at most max_bucket²
    pairs each — a DETERMINISTIC split of its k² output, not a hope
    that AQE notices (it would not: skew splitting reads shuffle INPUT
    bytes, and a hot bucket's input is k skinny ids while its OUTPUT
    is k² pairs). A viral boilerplate cluster costs what it costs,
    spread across tasks, rather than losing genuine near-dup pairs or
    serializing k² in one task.

    ``max_bucket`` is therefore the split size, never a recall cap,
    and every bucket size gets the same plan shape."""
    m = max_bucket
    grouped = (
        bucketed.groupBy(*keys)
        .agg(F.array_sort(F.collect_set("_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    ids = F.col("ids")
    nchunks = F.ceil(F.size(ids) / F.lit(m)).cast("int")

    def chunk(i: Column) -> Column:
        return F.slice(ids, i * m + 1, m)

    # chunk i's slice and its row of later chunks j are projected
    # BEFORE the cell explode, so the full id list is not copied into
    # every cell row (at most max_bucket ids per slice ride a cell)
    ci = F.col("_ci")
    cells = (
        grouped.select(*keys, "ids", F.explode(F.sequence(F.lit(0), nchunks - 1)).alias("_ci"))
        .select(
            *keys, "_ci", chunk(ci).alias("_a"),
            F.transform(
                F.sequence(ci, nchunks - 1),
                # a diagonal cell's second slice IS its first: not shipped
                lambda j: F.struct(j.alias("_cj"), F.when(j > ci, chunk(j)).alias("_b")),
            ).alias("_row"),
        )
        # outer: a row is never empty, and a plain inline lets the
        # optimizer infer a size(_row) > 0 filter that builds it twice
        .select(*keys, "_ci", "_a", F.inline_outer("_row"))
    )
    # the partition count is EXPLICIT: the exchange carries skinny
    # id slices while the pairs are generated downstream of it, so
    # AQE's size-based coalescing would merge it back into a few
    # partitions and resurrect the straggler (DIVERGENCES #21)
    nparts = bucketed.sparkSession.sparkContext.defaultParallelism
    cells = cells.repartition(nparts, *keys, "_ci", "_cj")

    # a diagonal cell pairs each id with the LATER ids of its own
    # chunk (a one-id chunk yields none), an off-diagonal cell pairs
    # every id of chunk i with every id of chunk j
    a, b = F.col("_a"), F.col("_b")
    expanded = F.flatten(
        F.transform(
            a,
            lambda x, p: F.transform(
                F.filter(F.coalesce(b, a), lambda _y, q: b.isNotNull() | (q > p)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    # distinct: the same pair can co-bucket under several keys
    # (bands / pigeonhole chunks)
    return (
        cells.select(F.explode(expanded).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def _cross_bucket_pairs(
    nb: DataFrame, rb: DataFrame, keys: list[str], max_bucket: int = 1024
) -> DataFrame:
    """(new_id, ref_id) pairs co-bucketed on ``keys``, STRICTLY
    cross-side, exhaustive and skew-safe. A hot bucket's shuffle INPUT
    is skinny rows while its OUTPUT is |new|·|ref| pairs, invisible
    to AQE's input-byte skew heuristic, so any split must be
    deterministic (the same analysis as ``_bucket_pairs``). Unlike
    ``_bucket_pairs``' lazy chunk grid, this path keeps a probed
    fork: on the cross path a chunk grid measured slower than the
    plain equi-join it would replace (ROADMAP D4).

    Plan fork, decided by two SKINNY count aggregations (map-side
    partials — the common no-hot-bucket case pays only those, never
    an array build):

    * every co-occupied bucket ≤ ``max_bucket`` per side: one plain
      equi-join on ``keys`` — the r6-measured fast path.
    * oversized buckets (tiny broadcast set): routed out by semi/anti
      joins and joined on (keys, salt_n, salt_r) — each side salts by
      xxhash64(id) mod ⌈side/max_bucket⌉ and replicates across the
      OTHER side's salts, bounding every task's pair output at
      ~max_bucket² whatever the bucket sizes. The cap selects the
      PLAN SHAPE, never recall."""
    sizes = (
        nb.groupBy(*keys).agg(F.count(F.lit(1)).alias("_nn"))
        .join(rb.groupBy(*keys).agg(F.count(F.lit(1)).alias("_nr")), keys)
    )
    big_keys = track(
        sizes.where((F.col("_nn") > max_bucket) | (F.col("_nr") > max_bucket)).persist()
    )
    has_big = big_keys.limit(1).count() > 0
    if not has_big:
        return (
            nb.join(rb, keys).select("new_id", "ref_id").dropDuplicates()
        )
    bk = F.broadcast(big_keys)
    nb_small = nb.join(bk.select(*keys), keys, "left_anti")
    rb_small = rb.join(bk.select(*keys), keys, "left_anti")
    small_pairs = nb_small.join(rb_small, keys).select("new_id", "ref_id")
    nsn = F.ceil(F.col("_nn") / F.lit(max_bucket)).cast("int")
    nsr = F.ceil(F.col("_nr") / F.lit(max_bucket)).cast("int")
    nb_big = (
        nb.join(bk, keys)
        .select(
            *keys,
            "new_id",
            F.pmod(F.xxhash64("new_id"), nsn).cast("int").alias("_sn"),
            F.explode(F.sequence(F.lit(0), nsr - 1)).alias("_sr"),
        )
    )
    rb_big = (
        rb.join(bk, keys)
        .select(
            *keys,
            "ref_id",
            F.explode(F.sequence(F.lit(0), nsn - 1)).alias("_sn"),
            F.pmod(F.xxhash64("ref_id"), nsr).cast("int").alias("_sr"),
        )
    )
    big_pairs = nb_big.join(rb_big, [*keys, "_sn", "_sr"]).select("new_id", "ref_id")
    return small_pairs.unionByName(big_pairs).dropDuplicates()


def _estimate_ok(threshold: float, num_hashes: int) -> Column:
    """The MinHash Jaccard ESTIMATE gate on a joined candidate row
    (``_sa``/``_sb``: its two signatures): the fraction of agreeing
    slots at ``threshold`` minus a 3σ margin — one definition for the
    self-join (``near_dup_pairs``) and cross-corpus
    (``cross_near_dup_pairs``) paths, so the margin/estimator cannot
    drift between them. The margin keeps every true pair (the exact
    verify downstream is the final word); the gate exists because a
    slot compare is far cheaper than the verify's shingle sets."""
    margin = 3.0 / (num_hashes ** 0.5)
    est = F.size(
        F.filter(F.zip_with("_sa", "_sb", lambda a, b: a == b), lambda x: x)
    ) / F.lit(num_hashes)
    return est >= threshold - margin


def _text_jaccard_udf(shingle_k: int):
    """Exact char-shingle Jaccard of a candidate's two TEXTS, one
    Arrow-batched UDF: Python code-point ``shingle_k``-gram sets (the
    windows ``char_shingles`` builds: a text shorter than k is one
    whole-text shingle, ``""`` one empty shingle), |A ∩ B| / |A ∪ B|
    as a double; NULL on either side → NULL. Each set is built once
    per distinct TEXT within a batch (not per id: a repeated id may
    carry two texts), so a hot bucket's thousands of pairs over a few
    texts shingle each text once.

    Marked nondeterministic so the plan evaluates it ONCE: a
    deterministic UDF lets the optimizer push the caller's
    ``jaccard >= threshold`` filter under its projection, and the plan
    then carries two ``ArrowEvalPython`` nodes (every pair scored
    twice)."""
    k = shingle_k

    def grams(t: str) -> frozenset:
        return frozenset(t[i:i + k] for i in range(max(len(t) - k + 1, 1)))

    @F.pandas_udf("double")
    def jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
        memo: dict = {}

        def shingles(t: str) -> frozenset:
            s = memo.get(t)
            if s is None:
                s = memo[t] = grams(t)
            return s

        out = []
        for x, y in zip(a, b):
            if x is None or y is None:
                out.append(None)
                continue
            sx, sy = shingles(x), shingles(y)
            inter = len(sx & sy)
            out.append(inter / (len(sx) + len(sy) - inter))
        return pd.Series(out, dtype="float64")

    return jaccard.asNondeterministic()


def _side(frame: DataFrame, key: str, s: str) -> DataFrame:
    """One side of a candidate join over a signed doc frame:
    ``_id`` → ``key``, ``_sig`` → ``_s{s}`` and, when the frame
    carries it, the text ``_t`` → ``_t{s}``."""
    names = {"_id": key, "_sig": f"_s{s}", "_t": f"_t{s}"}
    return frame.select(*[F.col(c).alias(names[c]) for c in frame.columns if c in names])


def _verified(
    cand: DataFrame, key_a: str, key_b: str, shingle_k: int, threshold: float
) -> DataFrame:
    """(key_a, key_b, jaccard) at/above ``threshold`` for candidate
    rows carrying their two texts as ``_ta``/``_tb``: the text verify
    scores each row where it landed, with no second index built."""
    # quantize4, NOT round(·, 4): round's double tie handling
    # diverges between Spark and DuckDB (see text.quantize4's
    # docstring — a real sf0.1 divergence); the threshold filter
    # compares the quantized value, so the quantizer must be the
    # engine-portable floor form (r6 advisor finding)
    from .text import quantize4

    jac = quantize4(_text_jaccard_udf(shingle_k)(F.col("_ta"), F.col("_tb")))
    return cand.select(key_a, key_b, jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 120,
    bands: int = 24,
    shingle_k: int = 5,
    max_bucket: int = 256,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate generation: (id_a < id_b) pairs sharing at
    least one band bucket. Shuffle equi-join on (band, band_hash) —
    never a cross join. ``max_bucket`` is the chunk size that splits a
    hot bucket's pair expansion across tasks (see ``_bucket_pairs``);
    no bucket is dropped, so banding recall is exactly the S-curve,
    with no silent cap."""
    if sigs is None:
        sigs = minhash_signatures_df(
            df, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, shingle_k=shingle_k,
        )
    banded = banded_signatures(sigs, num_hashes=num_hashes, bands=bands)
    return _bucket_pairs(banded, ["band", "band_hash"], max_bucket)


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    gram_fn: "Callable[[Column], Column] | None" = None,
) -> DataFrame:
    """Exact gram-set Jaccard for candidate pairs, on gram sets built
    in the JVM — ``jaccard_near_dup_pairs``' word-gram verify (the
    MinHash paths verify on the pair's two texts instead, see
    ``_text_jaccard_udf``). ``gram_fn`` selects the set construction
    — default char shingles of ``shingle_k``; pass e.g.
    ``lambda t: word_ngrams(t, 5)`` for word n-grams, as
    ``jaccard_near_dup_pairs`` does. The gram-set projection is
    computed once for only the documents that appear in a candidate
    pair (semi-join prune),
    persisted, and joined to each side of the skinny pair list — the
    intersect streams through the join output with no array-valued
    aggregation anywhere.

    (The previous melt + groupBy-pack shape made one join but forced
    the shingle arrays through a first()-aggregate: a sort-based
    aggregation copying ~KB arrays per row — at 10× scale a uniform
    ~16 s/task and 660 MB of array shuffle. Two sort-merge joins
    against the cached projection shuffle the arrays once per side at
    |relevant docs| rows, not |pair sides| rows.) Cost stays
    O(candidates), never O(n²)."""
    from ._util import fan_out

    # the pair list feeds BOTH the relevance prune and the verify
    # joins, and the gram-set projection both verify sides: each is
    # persisted (skinny rows and one gram set per relevant doc, cheap
    # to hold) so its consumers do not recompute the upstream stages.
    # Neither is pinned: composing runs no job, and the caller's
    # action fills both caches
    sides = track(pairs.select("id_a", "id_b").persist())
    relevant = fan_out(df).join(
        sides.select(F.explode(F.array("id_a", "id_b")).alias("_id")).distinct(),
        F.col(id_col) == F.col("_id"),
        "left_semi",
    )
    gexpr = (
        gram_fn(F.col(text_col))
        if gram_fn is not None
        else char_shingles(F.col(text_col), shingle_k)
    )
    sh = track(
        relevant.select(F.col(id_col).alias("_id"), gexpr.alias("_sh")).persist()
    )
    joined = sides.join(
        sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
    ).join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    # quantize4, NOT round(·, 4): round's double tie handling
    # diverges between Spark and DuckDB (see text.quantize4's
    # docstring — a real sf0.1 divergence); every threshold filter
    # downstream compares the quantized value, so the quantizer must
    # be the engine-portable floor form (r6 advisor finding)
    from .text import quantize4

    return joined.select(
        "id_a",
        "id_b",
        quantize4(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b"))
        ).alias("jaccard"),
    )


def jaccard_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_doc_freq: int = 64,
    max_bucket: int = 256,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-duplicate pairs — the
    deterministic sibling of the MinHash path (SURVEY §2.5's "n-gram
    Jaccard" dedup method as its own operator, not just the LSH verify
    pass).

    Candidate pairs = documents sharing at least one n-gram whose
    document frequency lies in [2, ``max_doc_freq``]. The df-cap is
    PART OF THE SEMANTICS (the declared oracle applies the same rule),
    not a lossy shortcut: a gram in thousands of documents is
    boilerplate — it generates O(df²) candidates while adding one
    element to an intersection, so capping it bounds every gram's
    pair fan-out a priori. Long grams (n=5 words) are selective
    enough that real near-dups still share many sub-cap grams:
    measured at sf0.1, cap 64 yields 1.5k candidates for 256 true
    pairs, vs 1.1M candidates for 3-grams uncapped-ish (cap 128).
    Verification then scores the FULL distinct gram sets (the cap
    gates candidate GENERATION only), reusing ``ngram_jaccard``'s
    semi-join-pruned projection.

    Scale shape: gram explode (HASHED to 64-bit at the source — the
    df count, semi-join, and pair buckets all key on ``xxhash64(gram)``
    longs, never the ~40-byte gram strings; measured 15s → ~4s at
    sf0.1 from the shuffle payload alone, and at 100 TB shuffling raw
    5-word strings three times would dominate the job) → df-cap
    semi-join → ``_bucket_pairs`` (in-array expansion, hot gram
    buckets split into ``max_bucket``-id chunk cells — the same
    skew-safe machine as the LSH band buckets) → two joins of the
    skinny pair list against the cached gram-set projection. Never
    all-pairs; every stage is a bucketed equi-join or a map-side
    projection. A 64-bit collision can only (a) nudge a df count or
    (b) admit a spurious CANDIDATE — which the exact verify on the
    real gram sets then scores honestly, so the output is wrong only
    if a collision bridges a pair whose every true shared gram is
    over-cap AND whose Jaccard clears the threshold: ~(n_grams²/2⁶⁴)
    times an already-rare setup, accepted and documented."""
    from ._util import fan_out

    docs = fan_out(df).where(F.trim(F.col(text_col)) != "")
    # consumed twice (df-count aggregation + the semi-join probe);
    # persist the skinny (id, hash) rows so the gram-building string
    # expression runs once
    grams = track(
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.transform(word_ngrams(F.col(text_col), n), lambda g: F.xxhash64(g))
            ).alias("_g"),
        ).persist()
    )
    # word_ngrams is distinct-per-doc, so count(*) per gram IS the
    # document frequency; grams below 2 pair with nothing and grams
    # above the cap are boilerplate — both pruned before any pairing
    keep = (
        grams.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where((F.col("_df") >= 2) & (F.col("_df") <= max_doc_freq))
    )
    capped = grams.join(keep.select("_g"), "_g", "left_semi")
    pairs = _bucket_pairs(capped, ["_g"], max_bucket)
    scored = ngram_jaccard(
        df.where(F.trim(F.col(text_col)) != ""),
        pairs,
        id_col=id_col,
        text_col=text_col,
        gram_fn=lambda t: word_ngrams(t, n),
    )
    # threshold on the ROUNDED score (ngram_jaccard rounds to 4) so
    # the engine and the oracle gate on the identical value
    return scored.where(F.col("jaccard") >= threshold)


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 120,
    bands: int = 24,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, Jaccard-verified.

    Pairs are between DISTINCT ids, each once as (id_a < id_b): an id
    that repeats in ``df`` never pairs with itself. The same holds for
    every operator built on the bucket expansion
    (``lsh_candidate_pairs``, ``jaccard_near_dup_pairs``,
    ``simhash_near_dup_pairs``, ``image_near_dup``).

    Default banding 24x5 puts the LSH S-curve threshold at
    (1/24)^(1/5) = 0.53: ~99% recall for Jaccard >= 0.7 pairs while
    pruning the flood of low-similarity candidates a 32x4 scheme
    (threshold 0.42) would send to the exact-verify stage.

    One persisted doc frame, (_id, text, _sig), feeds the whole plan:
    banded-LSH candidates (the chunk-grid bucket expansion, no join)
    → each candidate joined to BOTH sides of that same frame (two
    joins) → minhash-ESTIMATE filter on the joined row (fraction of
    agreeing signature slots — unbiased Jaccard estimator, sd ~
    1/sqrt(num_hashes)) at threshold minus a 3-sigma margin → exact
    shingle Jaccard of the survivor's two texts, one Arrow UDF
    evaluated once in the plan (``_text_jaccard_udf``). No shingle
    array is built in the JVM or shipped, and no second per-doc
    projection is persisted or re-joined. The price: every candidate,
    not only an estimate survivor, carries its two texts out of the
    joins (at the 10× stress the whole plan still shuffled 53 MB
    where the shingle-array verify shuffled 67 MB). Composing runs no Spark job:
    the cache is filled by the caller's first action. The margin keeps
    every true pair (the verify is the final word), and the estimate
    is a slot compare per candidate while the verify builds shingle
    sets. A doc with NULL text has no shingles and pairs with
    nothing.

    ROUTING HEURISTIC (measured at the 100× stress, identical pair
    sets): MinHash pays for itself only when the signature (2 ×
    num_hashes longs ≈ 2 KB at the default 120) is much SMALLER than
    a document's distinct-shingle set — i.e. long documents. On
    short documents (≲ a few hundred distinct shingles ≈ a few
    hundred words) the df-capped word-gram route
    (``jaccard_near_dup_pairs``) produced the SAME 2.25M pairs at
    ~1/5 the wall and ~1/2 the shuffle (167 s / 9.3 GB vs 818 s /
    21.2 GB on 500k short docs), because signature construction +
    banding + estimate freight all cost more than simply moving the
    small shingle sets. Rule of thumb: signature bytes ≥ shingle-set
    bytes ⇒ MinHash buys nothing — use ``jaccard_near_dup_pairs``;
    web-page-sized or longer documents (thousands of distinct
    shingles) ⇒ MinHash's constant-size signatures win. This stays a
    documented caller decision rather than an automatic data-dependent
    switch: the two routes have different recall envelopes
    (banding S-curve vs df-capped candidate generation), and a plan
    that silently changes shape with corpus statistics is exactly
    what the repo's plan-canary discipline exists to prevent."""
    # persisted: the banding pass and both candidate join sides read
    # it. Not pinned: the caller's action fills the cache
    docs = track(
        _signed_docs(df, id_col, text_col, num_hashes, shingle_k).persist()
    )
    cand = lsh_candidate_pairs(
        df, num_hashes=num_hashes, bands=bands, shingle_k=shingle_k, sigs=docs
    )

    joined = cand.join(_side(docs, "id_a", "a"), "id_a").join(
        _side(docs, "id_b", "b"), "id_b"
    )
    return _verified(
        joined.where(_estimate_ok(threshold, num_hashes)), "id_a", "id_b",
        shingle_k, threshold,
    )


def banded_signatures(
    sigs: DataFrame,
    num_hashes: int = 120,
    bands: int = 24,
) -> DataFrame:
    """(_id, band, band_hash) banded rows derived from a
    ``minhash_signatures_df`` frame — pure expressions over the
    signature array, so banding is free to recompute wherever the
    signatures are. The SIGNATURE frame is the thing to persist for
    incremental dedup (one compact row per doc); banding parameters
    are part of a stored index's identity — a new batch must band
    with the same family to collide correctly. A sentinel signature
    (NULL text) gets no band rows: every NULL doc shares it, so
    banding it would pair them all with each other."""
    if num_hashes % bands != 0:
        # silently ignoring the trailing num_hashes % bands slots
        # would compute, shuffle, and discard signatures while
        # shifting the realized S-curve threshold off the advertised
        # (1/bands)^(bands/num_hashes) with no warning (r7 review)
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} — the "
            "banding S-curve is defined by rows-per-band = num_hashes/bands"
        )
    rows = num_hashes // bands
    return sigs.where(F.col("_sig")[0] != F.lit(_MAXLONG)).select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.slice(F.col("_sig"), b * rows + 1, rows)),
            )
        ).alias("band", "band_hash"),
    )


def cross_near_dup_pairs(
    new: DataFrame,
    ref: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 120,
    bands: int = 24,
    shingle_k: int = 5,
    max_bucket: int = 1024,
    ref_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental-crawl dedup: which NEW documents near-duplicate any
    REFERENCE document. The operator every growing corpus needs —
    dedup the incoming batch AGAINST the existing corpus without ever
    re-pairing the corpus with itself.

    Both sides are banded with the SAME seeded MinHash family, so a
    new/ref pair collides exactly as it would inside one corpus.
    The three-stage discipline of ``near_dup_pairs`` applies: banded
    candidates — strictly new×ref via ``_cross_bucket_pairs``, whose
    grid salting bounds every task at max_bucket² pairs even for a
    viral template bucket (output-side skew is invisible to AQE) —
    joined to each side's (_id, text, _sig) frame, then the shared
    minhash-ESTIMATE filter at threshold minus 3σ (measured 2.4M →
    ~140k candidates on the 10× stress corpus) on the joined row,
    then the same text verify (``_text_jaccard_udf``) on the
    survivor's two texts — only docs that land in a candidate are
    ever shingled (the headline case is a small batch vs a huge
    corpus). The two corpora may share id values, so sides never
    union.

    Pass ``ref_sigs`` — a materialized ``minhash_signatures_df`` frame
    built with the SAME num_hashes/shingle_k — to skip re-signing the
    reference corpus on every incremental batch; the reference TEXT
    of each surviving candidate is then joined from ``ref``, pruned
    first to the survivors' ref ids (one more job pins the survivors
    so that prune can broadcast). The index is validated before use:
    its signature width must equal ``num_hashes``, and its ``_sig``
    metadata must carry this signature definition and ``shingle_k``.
    A mismatched index collides on NOTHING and would silently return
    empty, so it raises ``ValueError``; so does an untagged one. Any
    index written before the tag existed is untagged, including one
    signed by this same definition, and must be rebuilt with
    ``minhash_signatures_df``. The frame is used as the
    caller owns it: this function never persists or cache-tracks a
    caller-supplied index, so ``release_caches()`` between batches
    cannot unpersist it. A doc with NULL text on either side pairs
    with nothing.

    Returns (new_id, ref_id, jaccard) at/above ``threshold``.
    """
    def sign(df: DataFrame) -> DataFrame:
        return _signed_docs(df, id_col, text_col, num_hashes, shingle_k)

    # signatures feed the banding AND the estimate join — persist the
    # frames THIS call creates (a caller-supplied index is the
    # caller's to manage). No eager pin: _cross_bucket_pairs' sizing
    # action references each signature frame exactly ONCE (through
    # its banding explode), so both caches fill race-free inside the
    # action the plan needs anyway; the estimate joins read the
    # filled caches. Caveat: with a hot bucket, that action
    # (big_keys.limit(1).count()) can stop early and leave the caches
    # partly filled; the estimate joins then recompute the rest
    # (slower, same result).
    sn = track(sign(new).persist())
    if ref_sigs is not None:
        _check_sig_index(ref_sigs, num_hashes, shingle_k)
        sr = ref_sigs.select("_id", "_sig")
    else:
        sr = track(sign(ref).persist())

    cand = _cross_bucket_pairs(
        banded_signatures(sn, num_hashes=num_hashes, bands=bands)
        .withColumnRenamed("_id", "new_id"),
        banded_signatures(sr, num_hashes=num_hashes, bands=bands)
        .withColumnRenamed("_id", "ref_id"),
        ["band", "band_hash"],
        max_bucket,
    )
    cand = (
        cand.join(_side(sn, "new_id", "a"), "new_id")
        .join(_side(sr, "ref_id", "b"), "ref_id")
        .where(_estimate_ok(threshold, num_hashes))
    )
    if ref_sigs is not None:
        # a caller's index carries no text: join the reference text of
        # the survivors' ref ids only. Pinned so the cached survivors
        # carry real statistics: their distinct ids then broadcast into
        # a semi-join on the ref scan, and only the pruned reference
        # rows are shuffled into the text join, never the whole corpus
        cand = track(cand.persist())
        cand.count()
        ref_t = ref.select(
            F.col(id_col).alias("ref_id"), F.col(text_col).alias("_tb")
        ).join(cand.select("ref_id").distinct(), "ref_id", "left_semi")
        cand = cand.join(ref_t, "ref_id")
    # without an index no persist and no pin: the verify reads the
    # candidates once, in the same plan, and a count() pin there
    # measured 3 jobs more (a count() of this call on sf0.01's
    # odd/even split: 18 vs 15)
    return _verified(cand, "new_id", "ref_id", shingle_k, threshold)


def _check_sig_index(ref_sigs: DataFrame, num_hashes: int, shingle_k: int) -> None:
    """Reject a stored signature index that would collide on nothing:
    a signature width other than ``num_hashes``, or a ``_sig`` column
    whose metadata lacks this signature definition's tag or names
    another definition or ``shingle_k``."""
    # the tag first: it is schema metadata, read without a job
    meta = ref_sigs.schema["_sig"].metadata or {}
    got = {k: meta.get(k) for k in _sig_meta(shingle_k)}
    if got != _sig_meta(shingle_k):
        raise ValueError(
            f"ref_sigs signature tag {got} != {_sig_meta(shingle_k)}: the "
            "index is untagged (written before the tag existed, whatever "
            "definition signed it, or its metadata was dropped) or was "
            "signed by another definition, and an unverified index may "
            "collide on nothing; rebuild it with minhash_signatures_df"
        )
    first = ref_sigs.select(F.size("_sig").alias("_w")).first()
    if first is not None and first["_w"] != num_hashes:
        raise ValueError(
            f"ref_sigs signature width {first['_w']} != num_hashes="
            f"{num_hashes}: the index was built with a different "
            "MinHash family and would collide on nothing"
        )


def _simhash_expr(text: Column, bits: int = 64) -> Column:
    """SimHash over whitespace tokens: per bit, sum ±1 votes from each
    token's xxhash64; bit = vote > 0. One fold; the bit vector packs
    into a single BIGINT (bit 63 kept zero to stay positive)."""
    toks = F.split(F.trim(F.lower(text)), WS)
    nbits = min(bits, 63)
    # hash each token ONCE; the fold's lambda var h reuses it for all
    # 63 bit extractions (vs 63 xxhash calls per token)
    tok_hashes = F.transform(toks, lambda t: F.xxhash64(t))
    votes = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0).cast("long"), nbits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(nbits - 1)),
                lambda j: F.call_function("shiftright", h, j).bitwiseAND(F.lit(1)) * 2 - 1,
            ),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(nbits - 1)),
            lambda v, j: F.when(v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), j)).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def _token_hash(col: Column, hash_fn: str) -> Column:
    """Base token hash for SimHash. ``xxhash64`` is the fast default;
    ``md5_60`` (first 15 md5 hex chars as a 60-bit integer) is engine-
    portable — any system with md5 reproduces it bit-for-bit, which is
    what lets an external SQL oracle recompute identical signatures."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5_60":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def simhash_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 63,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Vectorized SimHash: explode tokens → one base hash each → per
    bit a flat ``sum(±1)`` aggregate → pack. Flat-long codegen with
    map-side combine (one row per doc crosses the shuffle) — the fast
    path for corpus-scale runs; the expression form (`simhash` Step)
    stays for shuffle-free column attachment. Returns (_id, _h)."""
    from ._util import fan_out

    df = fan_out(df)
    toks = F.split(F.trim(F.lower(F.col(text_col))), WS)
    base = df.select(
        F.col(id_col).alias("_id"), F.explode(toks).alias("_t")
    ).select("_id", _token_hash(F.col("_t"), hash_fn).alias("_th"))
    aggs = [
        F.sum(
            F.call_function("shiftright", F.col("_th"), F.lit(j)).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"_v{j}")
        for j in range(bits)
    ]
    votes = base.groupBy("_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"_v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("_id", sig.alias("_h"))


def simhash(name: str = "simhash", text_col: str = "text") -> Step:
    """Attach a 63-bit ``simhash`` column."""

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        return _guarded(df, {"simhash": _simhash_expr(F.col(text_col))})

    return Step(name, fn, node_type="simhash")


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocks: int | None = None,
    max_bucket: int = 256,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dups via the block trick: split the 64-bit hash
    into ``blocks`` chunks; pairs within Hamming distance < blocks
    must agree on ≥1 chunk (pigeonhole), so candidates come from
    (block, chunk) buckets — again no cross join — then exact
    ``bit_count(a XOR b)`` filters.

    ``blocks`` defaults to the smallest power-of-two divisor of 64
    that EXCEEDS max_hamming — fewer blocks would silently lose
    recall (a pair with its differing bits spread across every chunk
    shares none). An explicit ``blocks`` <= max_hamming is rejected.

    Pigeonhole exhaustiveness is UNCONDITIONAL: ``max_bucket`` only
    sets the chunk size that splits a hot bucket's in-array pair
    expansion across tasks (``_bucket_pairs``). A degenerate chunk
    value (boilerplate / near-empty docs all voting the same way)
    costs its true k² — spread across
    tasks — instead of silently losing hamming-1..3 pairs inside a
    >64-doc template cluster (r3 ADVICE)."""
    if blocks is None:
        blocks = next(b for b in (1, 2, 4, 8, 16, 32, 64) if b > max_hamming)
    if blocks <= max_hamming:
        raise ValueError(
            f"blocks={blocks} cannot guarantee candidates for max_hamming={max_hamming}; "
            f"need blocks > max_hamming (pigeonhole)"
        )

    width = 64 // blocks
    # one long per doc; read by the chunking pass AND both hash
    # join-backs — persisted like near_dup_pairs' signatures (filled
    # by the caller's action, never pinned), released
    # deterministically via datapipe.release_caches()
    h = track(
        simhash_df(df, id_col=id_col, text_col=text_col, hash_fn=hash_fn).persist()
    )

    def chunk_of(b):
        shifted = F.call_function("shiftright", F.col("_h"), b * width)
        if width >= 64:
            return shifted  # whole-hash chunk: no mask (2^64-1 overflows long)
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    chunked = h.select(
        "_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(blocks - 1)), chunk_of)
        ).alias("block", "chunk"),
    )
    # Chunk-grid pair expansion (exhaustive — see _bucket_pairs):
    # skinny (id, id) rows only; the hash values join back in AFTER
    # the distinct has collapsed multi-block collisions, so wide
    # payloads never ride the hot join.
    pairs = _bucket_pairs(chunked, ["block", "chunk"], max_bucket)
    return (
        pairs.join(h.select(F.col("_id").alias("id_a"), F.col("_h").alias("h_a")), "id_a")
        .join(h.select(F.col("_id").alias("id_b"), F.col("_h").alias("h_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate CLUSTERS with canonical-keeper selection — the
    step an actual training-data pipeline runs after pair generation:
    pairs only say "a duplicates b"; keeping one doc per duplicate
    GROUP requires the transitive closure (a~b, b~c ⇒ drop two of
    {a,b,c}, not one of each pair).

    Returns (id_col, cluster_id, is_keeper) for EVERY input doc:
    cluster_id = the minimum doc id PRESENT IN ``df`` within the
    doc's connected component of the pair graph (docs with no
    near-dup are their own singleton cluster), is_keeper = the
    deterministic survivor choice (min present id). Filter
    ``is_keeper`` to materialize the deduped corpus.

    The representative is recomputed over ``df``'s own ids rather
    than taken from the component label: caller-supplied ``pairs``
    may reference ids that were filtered out of ``df``, and electing
    an absent id as keeper would silently drop the entire duplicate
    group (every present member non-keeper) — the exact data loss
    the operator exists to prevent. Every cluster with at least one
    present member keeps exactly one. A doc with a NULL id is
    returned too, with NULL ``cluster_id`` and ``is_keeper``.
    """
    if pairs is None:
        pairs = near_dup_pairs(df, threshold=threshold, id_col=id_col, text_col=text_col)
    comp = connected_components(pairs)
    # one window over the component label elects the representative:
    # no persisted join read twice, no aggregate joined back. A NULL
    # id matches no component and has no id to elect, so it comes
    # back with NULL cluster_id and is_keeper rather than being lost
    labeled = (
        df.select(id_col)
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(id_col, F.coalesce("component", F.col(id_col)).alias("_comp"))
    )
    return labeled.select(
        id_col, F.min(id_col).over(Window.partitionBy("_comp")).alias("cluster_id")
    ).withColumn("is_keeper", F.col(id_col) == F.col("cluster_id"))


def contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: for each training document, count
    the distinct word n-grams it shares with ANY document of an
    evaluation set — the standard pre-training hygiene pass (a train
    doc containing an eval n-gram leaks the benchmark into the
    model). Returns (id, n_collisions) for contaminated docs only;
    anti-join against it to drop them.

    Shape at 100 TB: the train side explodes to (id, gram) — linear
    in corpus token count, the same expansion every shingle pass here
    pays — and the eval side is grams of the BENCHMARK, which is tiny
    by definition (thousands of docs, not billions), deduplicated and
    broadcast (``broadcast_eval=True``): the collision join then
    never shuffles the train side. For an unusually large eval suite
    set ``broadcast_eval=False`` to fall back to a shuffled equi-join
    on the gram.

    Uses the same lowercased distinct word n-grams as the Jaccard
    machinery (``word_ngrams``): docs shorter than ``n`` tokens
    contribute their full text as one (short) gram rather than
    silently contributing nothing. EXCEPTION: empty/whitespace-only
    docs are excluded on BOTH sides — the short-doc fallback would
    otherwise make every blank doc's gram the empty string, and one
    blank eval doc would then flag every blank train doc as
    benchmark-contaminated.
    """
    from ._util import fan_out

    nonblank = F.trim(F.col(text_col)) != ""
    # the gram explode is the CPU-bound stage; a single-file train
    # scan would otherwise run it on one core (fan_out is a no-op
    # whenever the scan already yields >= parallelism splits)
    tg = fan_out(train.where(nonblank)).select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("_g")
    )
    eg = (
        eval_df.where(nonblank)
        .select(F.explode(word_ngrams(F.col(text_col), n)).alias("_g"))
        .distinct()
    )
    if broadcast_eval:
        eg = F.broadcast(eg)
    return (
        tg.join(eg, "_g")
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("_g")).alias("n_collisions"))
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 20,
) -> DataFrame:
    """Verbatim repeated-span detection — the ExactSubstr-style dedup
    primitive (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): find every maximal character span that
    is covered by ``min_len``-char substrings occurring ≥ 2 times in
    the corpus (across documents OR repeated within one). Returns
    (id, span_start, span_end), 1-based inclusive char positions —
    the regions a pipeline masks, clips, or weighs down before
    training. Suffix-array ExactSubstr flags spans ≥ min_len that
    repeat verbatim; this shingle formulation flags exactly the
    positions covered by a repeated min_len-gram, which is the same
    span set for repeats of length ≥ 2·min_len−1 and a slightly
    conservative subset between min_len and that bound — the
    Spark-native trade for avoiding a distributed suffix array.

    Shape: explode each doc into its min_len-gram start positions,
    hash each gram to an engine-portable 60-bit int (first 15 hex
    chars of md5 — identical in DuckDB, so the oracle replays the
    exact span set; a 60-bit collision can only ADD a span, and both
    engines add the same one), ONE shuffle to count gram frequency,
    a semi-join back, then per-doc interval union as a window islands
    pass (merge overlapping or adjacent covers). Shuffle volume is
    ~|chars| skinny (id, pos, hash) rows — intrinsic to any
    shingle-join formulation; at 100 TB run it on the exact-deduped
    corpus and raise min_len to taste."""
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    from pyspark.sql import Window

    from ._util import fan_out

    k = min_len
    text = F.col(text_col)
    npos = F.length(text) - F.lit(k - 1)
    # sequence(1, 0) yields the DESCENDING [1, 0] (Spark's default
    # step is -1 when start > stop), which gave every shorter-than-k
    # doc a bogus span from two colliding out-of-range substrings
    # (r8 review, empirically confirmed) — docs too short to hold a
    # single k-gram must contribute NO positions
    positions = F.when(npos >= 1, F.sequence(F.lit(1), npos)).otherwise(
        F.array().cast("array<int>")
    )
    grams = fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.explode(positions).alias("_p"),
        text.alias("_t"),
    ).select(
        "_id",
        "_p",
        F.conv(
            F.substring(F.md5(F.substring(F.col("_t"), F.col("_p"), k)), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("_h"),
    )
    hot = grams.groupBy("_h").agg(F.count(F.lit(1)).alias("_c")).where(F.col("_c") >= 2)
    rep = grams.join(hot.select("_h"), "_h", "left_semi")
    w = (
        Window.partitionBy("_id")
        .orderBy("_p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # islands: a match starts a new span iff it begins past the
    # furthest end any earlier match reaches (+1 merges adjacency:
    # covers [p, p+k-1] and [p+k, ...] form one contiguous region)
    prev_end = F.max(F.col("_p") + F.lit(k - 1)).over(w)
    marked = rep.withColumn(
        "_new",
        F.when(prev_end.isNull() | (F.col("_p") > prev_end + 1), 1).otherwise(0),
    )
    w2 = (
        Window.partitionBy("_id")
        .orderBy("_p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        marked.withColumn("_g", F.sum("_new").over(w2))
        .groupBy("_id", "_g")
        .agg(
            F.min("_p").cast("int").alias("span_start"),
            (F.max("_p") + F.lit(k - 1)).cast("int").alias("span_end"),
        )
        .select(F.col("_id").alias(id_col), "span_start", "span_end")
    )
    return spans


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 20,
    spans: DataFrame | None = None,
    output_col: str = "clean_text",
) -> DataFrame:
    """Rewrite each document with its verbatim repeated regions
    removed — the apply half of ``repeated_spans`` (pass a
    precomputed/filtered ``spans`` frame to clip by your own policy,
    e.g. only spans above some length). Adds ``output_col``; docs
    with no spans keep their text verbatim, a fully-covered doc
    becomes the empty string, and NULL text stays NULL.

    Shape: spans collapse to one sorted array per affected doc (spans
    per doc are few by construction — they are maximal and disjoint),
    broadcast-friendly join back, then the stitched rewrite is a
    single JVM higher-order ``aggregate`` over the span array: the
    accumulator walks (next-unwritten-position, builder) and appends
    the gap before each span, then the tail. No Python in the row
    path; one shuffle (the span groupBy) beyond repeated_spans
    itself."""
    if output_col in df.columns:
        raise ValueError(
            f"remove_repeated_spans: input already has column {output_col!r}"
        )
    if spans is None:
        spans = repeated_spans(df, id_col=id_col, text_col=text_col, min_len=min_len)
    sp = spans.groupBy(F.col(id_col).alias("_sid")).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_sp")
    )
    text = F.col(text_col)
    stitched = F.aggregate(
        F.col("_sp"),
        F.struct(F.lit(1).alias("pos"), F.lit("").alias("s")),
        lambda acc, x: F.struct(
            (x["span_end"] + 1).alias("pos"),
            F.concat(
                acc["s"], text.substr(acc["pos"], x["span_start"] - acc["pos"])
            ).alias("s"),
        ),
        lambda acc: F.concat(
            acc["s"], text.substr(acc["pos"], F.length(text) - acc["pos"] + 1)
        ),
    )
    joined = df.join(sp, F.col(id_col) == F.col("_sid"), "left")
    return joined.withColumn(
        output_col, F.when(F.col("_sp").isNull(), text).otherwise(stitched)
    ).drop("_sid", "_sp")


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_words: int = 8,
    line_delim: str | None = None,
) -> DataFrame:
    """Corpus-level duplicate-LINE removal — the C4 recipe ("we
    discarded all but one of any three-sentence span occurring more
    than once in the data set") at a granularity finer than document
    dedup and coarser than ``repeated_spans``'s 20-gram islands: the
    boilerplate killer that strips repeated navigation, license
    headers, and template paragraphs while keeping each document's
    unique prose intact.

    A "line" is, by default, a fixed non-overlapping window of
    ``line_words`` whitespace tokens (empty split cells from leading /
    trailing / doubled whitespace are filtered out, so a duplicate
    line differing only by a trailing newline hashes identically);
    this corpus has no newline structure, so the fixed window stands
    in for sentences. On newline-structured corpora pass
    ``line_delim`` (a LITERAL delimiter, e.g. ``"\\n"``): the text is
    split on it, each piece is trimmed, empty pieces are dropped, and
    surviving lines are rejoined with the same delimiter. For every
    distinct normalized line, exactly ONE occurrence survives — the
    first in (id, line_idx) order, the same deterministic keep-first
    rule as ``exact_dedup`` — and every other occurrence corpus-wide
    is dropped. Documents are reassembled from their surviving lines
    in original order.

    Output: (id, clean_text, n_kept, n_dropped) — one row per input
    document with at least one line; a document whose every line was
    elsewhere-first comes back with clean_text '' and n_kept 0 so the
    caller decides its fate (C4 drops it; a provenance pipeline may
    want the tombstone).

    100 TB posture: the global decision shuffles ONLY skinny line
    metadata — (md5(line), id, line_idx), never line text (grouping by
    the 128-bit digest partitions lines exactly as grouping by the
    text would, collision odds ~n²/2¹²⁸). The keep-first winner per
    line is ``groupBy(digest).agg(min(struct(id, idx)))`` — NEVER a
    row_number window over the digest: the hot boilerplate line (a
    navigation bar in 10⁸ documents) is exactly the skewed key this
    operator exists to find, and a window sort would funnel every
    occurrence of it into one straggler task with no AQE rescue
    (skew splitting applies to joins and aggregates, not window
    sorts), while partial aggregation collapses the hot key to one
    row per map task before the shuffle. No per-occurrence join-back
    is needed either: a document's kept indices ARE the winner rows
    regrouped by winning id (one skinny |distinct lines| → |docs|
    aggregate, skew-free — a doc wins at most its own line count),
    and n_dropped falls out as size(lines) − n_kept. The only
    full-text movement is the final id-keyed rebuild join that every
    per-doc rewrite here pays (``remove_repeated_spans`` has the same
    shape). Reassembly is a pure JVM index-filter over the per-doc
    line array — no Python, no explode of text.
    """
    if line_words <= 0:
        raise ValueError(f"need line_words > 0, got {line_words}")

    from ._util import fan_out

    text = F.col(text_col)
    if line_delim is not None:
        import re as _re

        lines_expr = F.filter(
            F.transform(
                F.split(text, _re.escape(line_delim), -1), lambda x: F.trim(x)
            ),
            lambda x: x != "",
        )
        join_sep = line_delim
    else:
        toks = F.filter(F.split(F.trim(text), WS), lambda x: x != "")
        n = F.size(toks)
        # sequence(0, -1, step) raises; an all-whitespace doc (zero
        # real tokens) must yield an empty line array instead, to be
        # dropped by the size(_lines) > 0 gate below
        starts = F.when(
            n > 0, F.sequence(F.lit(0), n - 1, F.lit(line_words))
        ).otherwise(F.array().cast("array<int>"))
        lines_expr = F.transform(
            starts, lambda s: F.array_join(F.slice(toks, s + 1, line_words), " ")
        )
        join_sep = " "
    # a single-file scan would run the whole tokenize+digest pass on
    # one core (measured at the 100× stress: 141 s wall with a 140 s
    # max task before this rebalance). The blank-doc gate must be a
    # CHEAP exact predicate applied BEFORE the fan-out: a
    # size(_lines) > 0 gate after it gets pushed down into the scan
    # as a filter that recomputes the whole tokenize+slice pipeline
    # on the scan's (possibly single) split — measured 176 s
    # single-task scan at the 100× stress. rlike '\\S' (any
    # non-whitespace char) is exactly equivalent to "≥ 1 line" in
    # BOTH modes (unlike trim(text) != '', whose 0x20-only trim
    # keeps '\n'-only docs) and costs one linear scan.
    nonempty = fan_out(df.where(text.rlike(r"\S"))).select(
        F.col(id_col), lines_expr.alias("_lines")
    )
    # posexplode the per-line digest array: pos IS line_idx, and the
    # Generate's input is 16-byte hashes — text never rides the explode
    meta = nonempty.select(
        F.col(id_col),
        F.posexplode(F.transform("_lines", F.md5)).alias("_line_idx", "_key"),
    )
    # keep-first winner per distinct line: a partial-aggregating
    # min(struct) — the map side collapses a million-occurrence
    # boilerplate line to one candidate per task, so no single
    # reducer ever sees the hot key's full weight
    winners = meta.groupBy("_key").agg(
        F.min(
            F.struct(
                F.col(id_col).alias("i"), F.col("_line_idx").alias("x")
            )
        ).alias("_w")
    )
    # a doc's kept indices are the winner rows regrouped by winning
    # id — no per-occurrence join-back; a doc wins at most its own
    # line count, so this aggregate cannot skew
    kept = winners.groupBy(F.col("_w.i").alias(id_col)).agg(
        F.sort_array(F.collect_list("_w.x")).alias("_kept_idxs"),
        F.count(F.lit(1)).cast("int").alias("n_kept"),
    )
    rebuilt = F.array_join(
        F.filter(
            F.col("_lines"),
            lambda _x, i: F.array_contains(F.col("_kept_idxs"), i),
        ),
        join_sep,
    )
    # LEFT join: a doc whose every line was elsewhere-first has no
    # winner row — it must still come back as a '' / n_kept 0
    # tombstone, with n_dropped = its full line count
    n_kept = F.coalesce(F.col("n_kept"), F.lit(0))
    return (
        nonempty.join(kept, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_kept_idxs").isNull(), F.lit(""))
            .otherwise(rebuilt)
            .alias("clean_text"),
            n_kept.cast("int").alias("n_kept"),
            (F.size("_lines") - n_kept).cast("int").alias("n_dropped"),
        )
    )


__all__ = [
    "banded_signatures",
    "contamination",
    "line_dedup",
    "remove_repeated_spans",
    "repeated_spans",
    "cross_near_dup_pairs",
    "gram_array",
    "exact_dedup",
    "char_shingles",
    "word_ngrams",
    "minhash_signature",
    "minhash_signatures_df",
    "lsh_candidate_pairs",
    "ngram_jaccard",
    "jaccard_near_dup_pairs",
    "near_dup_pairs",
    "simhash",
    "simhash_near_dup_pairs",
    "dedup_clusters",
]
