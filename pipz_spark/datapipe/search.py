"""Keyword search over the document corpus — BM25 top-k ranking via
the inverted-index plan shape (SURVEY §2 datapipe surface; the
retrieval half of a training-data pipeline: quality-biased sampling,
targeted corpus probes, eval-set construction all start with "find
the documents about X").

100 TB posture: the classic inverted-index factorization, expressed
declaratively so Catalyst keeps every heavy stage thin. The corpus
scan computes document length in the projection and explodes ONLY
query-vocabulary tokens (the `IN (vocab)` filter sits under the
explode, so a 100-term query set turns a 100 TB text scan into a
postings stream ~|hits|, not |tokens|); term frequencies partial-
aggregate map-side; document frequencies fold to ≤|vocab| rows and
come back as a broadcast; corpus stats (N, avg length) are one
aggregate row cross-joined in. Nothing ever shuffles document text —
the only wide exchange carries (doc_id, term, tf) postings.

Cross-engine exactness (the repo's hash-gate discipline,
DIVERGENCES.md): the IDF is the LOG-FREE rational Robertson-Sparck
Jones core, (N - df + 0.5)/(df + 0.5) — `ln` is the one BM25
ingredient whose libm rounding may differ between engines. Because
the rational core is monotone in df, PER-TERM orderings (and hence
single-term-query rankings) match textbook BM25 exactly; multi-term
queries reweight terms relative to each other versus the log form,
so their rankings are a deliberately different — deterministic,
cross-engine-exact — variant, not a bit-level match for the
ln-based textbook score. Every per-term
score is a pure +,-,*,/ IEEE double tree (exactly-rounded ops,
bit-identical in Spark and DuckDB given the same parenthesization),
snapped to DECIMAL(28,6) before the per-document sum so aggregation
order cannot move the total (the rel_pricing_summary pattern), and
ranked on the exact decimal with doc_id as the deterministic
tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import WS


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-``k`` documents per query.

    ``queries`` is a small in-memory list of (query_id, query_text);
    query terms are whitespace-tokenized and deduplicated (repeated
    query terms score once — the common simplification; document-side
    tf saturation is what BM25's k1 models). Corpus statistics (N,
    average doc length, per-term df) are computed over the non-empty
    corpus, not per query. A document scores only on the query terms
    it contains; documents sharing no term with a query are absent
    from that query's ranking. Output: (query_id, rank, id, score),
    rank 1..k ordered by exact decimal score descending with id
    ascending as tie-break.

    The scoring constants (k1+1, 1-b, 0.5 offsets) embed as
    shortest-round-trip double literals, so an oracle replaying the
    same literals reproduces every score bit-for-bit before the
    decimal snap.
    """
    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    if not queries:
        raise ValueError("queries must be non-empty")
    spark = docs.sparkSession
    qterms = sorted(
        {
            (int(qid), t)
            for qid, qtext in queries
            for t in qtext.split()
            if t
        }
    )
    if not qterms:
        raise ValueError("queries contain no terms")
    vocab = sorted({t for _, t in qterms})
    from ._util import fan_out, local_frame

    qdf = local_frame(spark, qterms, "query_id int, term string")

    text = F.col(text_col)
    # empty split cells (leading/trailing \n or \t survive trim, which
    # strips only 0x20) are filtered so they neither inflate dl nor
    # count a whitespace-only doc into N — word semantics per the
    # tokens() split-cell/word divide (datapipe/text.py)
    toks = F.filter(F.split(F.trim(text), WS), lambda x: x != "")
    # blank/whitespace-only docs must not count into N or total_words.
    # The gate is the CHEAP raw-column predicate rlike(r"\S") applied
    # BEFORE fan_out — exactly equivalent to size(toks) > 0 since the
    # token filter drops empty split cells — never a derived-size
    # filter above the repartition: Catalyst pushes that whole
    # size(filter(split(trim(text)))) tree through Project and
    # Repartition into the FileScan's DataFilters, re-running the
    # tokenize on the scan's (possibly single) split — DIVERGENCES
    # #20, measured 176 s single-task at the line_dedup 100× stress.
    # rebalance a single-split scan so the tokenize+explode postings
    # pass parallelizes (the same guard every dense datapipe stage
    # takes; a no-op whenever the scan already has enough splits)
    d = fan_out(docs.where(text.rlike(r"\S"))).select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_dl")
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.sum("_dl").alias("_total_words"),
    )
    # postings: the vocab filter sits UNDER the explode so only
    # query-term hits materialize; map-side partial agg folds each
    # partition's hits to one (doc, term) row before the shuffle
    # explode_OUTER, deliberately: a plain explode over the _toks
    # attribute lets InferFiltersFromGenerate re-create the
    # size(_toks) > 0 gate this function just avoided, and projection
    # collapse + pushdown then plant the whole derived tokenize tree
    # back into the FileScan (the DIVERGENCES #20 shape — the rlike
    # gate above makes every row non-empty, so outer is value-
    # identical: no NULL term can appear, and one would be dropped by
    # the vocab isin anyway). Plan-shape test asserts the scan stays
    # clean.
    tf = (
        d.select(id_col, "_dl", F.explode_outer("_toks").alias("term"))
        .where(F.col("term").isin(vocab))
        .groupBy(id_col, "_dl", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))

    avgdl = F.col("_total_words").cast("double") / F.col("_n_docs").cast("double")
    idf = (
        F.col("_n_docs").cast("double") - F.col("_df").cast("double") + F.lit(0.5)
    ) / (F.col("_df").cast("double") + F.lit(0.5))
    norm = F.lit(1.0 - b) + F.lit(b) * (F.col("_dl").cast("double") / avgdl)
    tsat = (F.col("_tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("_tf").cast("double") + F.lit(k1) * norm
    )
    scored = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            id_col,
            (idf * tsat).cast("decimal(28,6)").alias("_ts"),
        )
    )
    agg = scored.groupBy("query_id", id_col).agg(F.sum("_ts").alias("_s"))
    w = Window.partitionBy("query_id").orderBy(F.col("_s").desc(), F.col(id_col))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            id_col,
            F.col("_s").cast("double").alias("score"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009) of
    N per-query rankings into one hybrid ranking — the standard
    score-free fusion for lexical + vector retrieval (BM25 top-k
    and cosine top-k rank the same corpus on incommensurable scores;
    RRF combines them through the RANKS alone):

        rrf(q, d) = Σ_lists  1 / (rrf_k + rank_list(q, d))

    with rrf_k = 60 per the paper. A document missing from a list
    contributes nothing for that list (the top-k cutoff IS the
    membership signal). Output: (query, id, rrf DOUBLE, n_lists INT,
    rank INT) — rank 1..k per query by rrf DESC, id ASC; n_lists =
    how many input rankings carried the document (the
    "found-by-both" curation signal).

    Inputs are the repo's own ranking shapes: each DataFrame needs
    (query_col, id_col, rank_col) — ``bm25_topk`` output fits as-is;
    rename qid/nid from the ANN family (``cosine_topk_*``).

    Engine-exact determinism: each contribution ``1/(rrf_k + rank)``
    is ONE exactly-rounded IEEE division (bit-identical in any
    engine), and the per-document sum folds contributions in FIXED
    list order (sort by list index, then left-fold) so N-way fusion
    never depends on aggregation order — for the common 2-list case
    this equals a plain SUM (binary + is commutative), which is what
    the declared oracle replays. Ties (e.g. two docs each found by
    one list at the same rank) break on id.

    100 TB posture: the union of N top-k lists is N·k rows per
    query — the heavy retrieval work already happened inside the
    input rankings (each with its own bounded plan); fusion itself
    is one (query, id) map-side-combinable aggregate plus a window
    over ≤ N·k rows per query. No corpus scan, no join back to the
    corpus.

    Reference parity: no retrieval surface in the reference — the
    LLM-data-pipeline search family (SURVEY §2.5), composing its
    bm25_topk / cosine_topk members.
    """
    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    if rrf_k <= 0:
        raise ValueError(f"need rrf_k > 0, got {rrf_k}")
    if not rankings:
        raise ValueError("rankings must be non-empty")
    tagged = None
    for i, r in enumerate(rankings):
        part = r.select(
            F.col(query_col).alias("_q"),
            F.col(id_col).alias("_id"),
            F.col(rank_col).cast("long").alias("_rank"),
            F.lit(i).alias("_src"),
        )
        tagged = part if tagged is None else tagged.union(part)
    fused = tagged.groupBy("_q", "_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_src", "_rank"))),
            F.lit(0.0),
            lambda acc, s: acc
            + F.lit(1.0) / (F.lit(float(rrf_k)) + s["_rank"].cast("double")),
        ).alias("rrf"),
        F.count(F.lit(1)).cast("int").alias("n_lists"),
    )
    w = Window.partitionBy("_q").orderBy(F.col("rrf").desc(), F.col("_id"))
    return (
        fused.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            F.col("_q").alias(query_col),
            F.col("_id").alias(id_col),
            "rrf",
            "n_lists",
            F.col("_rn").cast("int").alias("rank"),
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the DIVERSIFICATION member of the search family: where
    ``rrf_fuse`` merges rankings and ``cosine_topk_*`` maximize raw
    similarity, MMR greedily picks the next result that balances
    relevance against redundancy with what is already picked,

        mmr(d) = lam · rel(d) − (1 − lam) · max_{s ∈ S} sim(d, s),

    sim = cosine over ``vec_col`` rounded at 1e-6 (the repo's cosine
    discipline). Returns (query, id, mmr_rank INT, mmr DOUBLE): the
    first pick per query is argmax rel (S empty — max-sim term 0 by
    the standard convention), then k−1 greedy rounds; ties break on
    id. The curation use is eval-set and few-shot-pool construction:
    the top-k SIMILAR results of a dense corpus are near-duplicates
    of each other, and MMR is the published fix.

    Determinism: rel arrives quantized from the rankers, each sim is
    one rounded cosine, and the score is two exactly-rounded IEEE
    multiplies plus a subtract — identical in any engine — so the
    whole greedy trajectory replays round-for-round in SQL (ties on
    id, never on unrounded floats).

    100 TB posture: MMR runs on CANDIDATE lists, not the corpus —
    the input is each query's top-N (N·|queries| rows, the expensive
    retrieval already bounded upstream) and every greedy round is
    one equi-join on the query key plus one partial-aggregatable
    struct-MIN argmax over ≤ N rows per query; the selected set
    never leaves the cluster and all queries advance in parallel.
    Lineage grows with k (small by definition); the per-round pick
    frame is one row per query.
    """
    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"need 0 <= lam <= 1, got {lam}")
    from .similarity import cosine_similarity

    # rows without usable geometry or a relevance score cannot take
    # part in the greedy: a NULL score would WIN the nulls-first
    # struct-MIN argmax and hijack selection, and a zero-norm vector
    # has no cosine at all (ANSI divide-by-zero raises; non-ANSI
    # yields the NULL that poisons the max-sim state) — drop all
    # three up front, the kcenter/kmeans NULL-vector rule extended
    # to the degenerate norm
    v_in = F.col(vec_col).cast("array<double>")
    base = candidates.where(
        F.col(vec_col).isNotNull()
        & F.col(rel_col).isNotNull()
        & F.exists(v_in, lambda x: x != 0.0)
    ).select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_id"),
        F.col(rel_col).cast("double").alias("_rel"),
        v_in.alias("_v"),
    )

    def _sim(a, b):
        return F.round(cosine_similarity(a, b), 6)

    def _argmax(df: DataFrame, score) -> DataFrame:
        """One row per query: max score, ties on min id — a
        partial-aggregatable struct-MIN, never a window sort."""
        return (
            df.select("_q", "_id", "_rel", "_v", score.alias("_sc"))
            .groupBy("_q")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("_sc")).alias("_ns"),
                        F.col("_id").alias("_id"),
                        F.col("_sc").alias("_sc"),
                        F.col("_v").alias("_v"),
                    )
                ).alias("_b")
            )
            .select(
                "_q",
                F.col("_b")["_id"].alias("_sid"),
                F.col("_b")["_sc"].alias("_ssc"),
                F.col("_b")["_v"].alias("_sv"),
            )
        )

    # the greedy recurrence references each round's pick from BOTH
    # the growing selection and the next pool — left lazy, every
    # later round re-derives the whole prior trajectory and the plan
    # re-executes O(2^k) subtrees (measured 16.5 s for k=4 on a
    # 30-candidate input). The frames are tiny by construction (one
    # row per query; ≤ N per query), so localCheckpoint each round:
    # cost becomes linear in k and the lineage stays flat.
    pick = _argmax(base, F.lit(lam) * F.col("_rel")).localCheckpoint()
    sel = pick.select(
        "_q", "_sid", F.lit(1).alias("_rank"), F.col("_ssc").alias("_mmr")
    )
    if k == 1:
        return sel.select(
            F.col("_q").alias(query_col),
            F.col("_sid").alias(id_col),
            F.col("_rank").cast("int").alias("mmr_rank"),
            F.col("_mmr").alias("mmr"),
        )
    # pool carries the running max-sim-to-selected; each round folds
    # the new pick in with greatest()
    pool = (
        base.join(pick, "_q")
        .where(F.col("_id") != F.col("_sid"))
        .select(
            "_q",
            "_id",
            "_rel",
            "_v",
            _sim(F.col("_v"), F.col("_sv")).alias("_maxsim"),
        )
    ).localCheckpoint()

    for j in range(2, k + 1):
        score = F.lit(lam) * F.col("_rel") - F.lit(1.0 - lam) * F.col("_maxsim")
        pick = _argmax(pool, score).localCheckpoint()
        sel = sel.union(
            pick.select(
                "_q", "_sid", F.lit(j).alias("_rank"), F.col("_ssc").alias("_mmr")
            )
        )
        if j < k:
            pool = (
                pool.join(pick, "_q")
                .where(F.col("_id") != F.col("_sid"))
                .select(
                    "_q",
                    "_id",
                    "_rel",
                    "_v",
                    F.greatest(
                        F.col("_maxsim"),
                        _sim(F.col("_v"), F.col("_sv")),
                    ).alias("_maxsim"),
                )
            ).localCheckpoint()

    return sel.select(
        F.col("_q").alias(query_col),
        F.col("_sid").alias(id_col),
        F.col("_rank").cast("int").alias("mmr_rank"),
        F.col("_mmr").alias("mmr"),
    )


__all__ = ["bm25_topk", "mmr_rerank", "rrf_fuse"]
