"""10× scale stress for the similarity/dedup paths (VERDICT r3 #7).

Builds a 10× corpus from sf0.1 (50k docs / 20k vectors; each replica
gets a text mutation / vector perturbation so near-dup structure is
realistic, including LARGE template clusters that exercise the
hot-bucket join path), runs each headline operator, and reports wall
time plus per-stage evidence from the Spark UI REST API: max task
time and shuffle read/write — the numbers that predict cluster
behavior (a plan whose max task stays near the mean as data grows
10× shards cleanly across executors).

Usage:  PYTHONPATH=/root/repo python tools/scale_stress.py
"""

from __future__ import annotations

import json
import tempfile
import time
import urllib.request

from pyspark.sql import functions as F

from pipz_spark.datapipe import (
    cosine_topk_lsh,
    dedup_clusters,
    embedding_near_dup_pairs,
    exact_dedup,
    jaccard_near_dup_pairs,
    near_dup_pairs,
    release_caches,
    simhash_near_dup_pairs,
)
from pipz_spark.session import get_session
from pipz_spark.sources.catalog import DEFAULT_SF_DIR, load_table
from pipz_spark import split_ok

REPLICAS = 10


def rest(spark, path):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}{path}") as r:
        return json.load(r)


def stage_evidence(spark, since_stage: int) -> dict:
    stages = [s for s in rest(spark, "/stages") if s["stageId"] >= since_stage
              and s["status"] == "COMPLETE"]
    if not stages:
        return {}
    max_task_ms = 0
    hot_median_ms = 0  # median task time OF the stage holding the max
    for s in stages:
        try:
            dist = rest(
                spark,
                f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0",
            )
            mx = int(dist["executorRunTime"][-1])
            if mx > max_task_ms:
                max_task_ms = mx
                hot_median_ms = int(dist["executorRunTime"][0])
        except Exception:
            pass
    return {
        "stages": len(stages),
        "max_task_ms": max_task_ms,
        "hot_stage_median_ms": hot_median_ms,
        "shuffle_write_mb": round(
            sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6, 1
        ),
        "shuffle_read_mb": round(
            sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6, 1
        ),
    }


def last_stage_id(spark) -> int:
    stages = rest(spark, "/stages")
    return max((s["stageId"] for s in stages), default=-1) + 1


def run(spark, name, thunk):
    release_caches()
    since = last_stage_id(spark)
    t0 = time.time()
    n = thunk()
    wall = time.time() - t0
    ev = stage_evidence(spark, since)
    print(f"{name}: {n} rows, {wall:.1f}s wall, {ev}")


def main_pq100x() -> None:
    """100× ANN stress (VERDICT r7 #7): the 10× table extrapolates;
    this runs the claimed memory-bound PQ path on a 200k-vector corpus
    (100 replicas of sf0.1's embeddings, each perturbed) and records
    the same max-task/shuffle evidence. The scale argument under
    test: codebook training is a bounded TakeOrdered sample, the
    encode+ADC pass is one linear mapInPandas scan, and ONLY skinny
    (qid, nid, approx) shortlist partials shuffle — so shuffle_mb must
    stay orders below the corpus payload and max task near the mean.

        PYTHONPATH=/root/repo python tools/scale_stress.py pq100x
    """
    spark = get_session("pipz-scale-stress-100x", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress100_")
    emb = load_table(spark, "embeddings", sf)
    reps = spark.range(100).select(F.col("id").alias("_rep"))
    big = (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") * 100 + F.col("_rep")).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: x + (F.col("_rep") * (i % 7 - 3)).cast("float") * 0.0005,
            ).alias("embedding"),
        )
    )
    big.write.mode("overwrite").parquet(f"{tmp}/embeddings100")
    e100 = spark.read.parquet(f"{tmp}/embeddings100")
    print(f"corpus: {e100.count()} vectors")
    from pipz_spark.datapipe import cosine_topk_pq

    queries = e100.where(F.col("vec_id") < 100)
    run(spark, "cosine_topk_pq 100x", lambda: cosine_topk_pq(
        e100, queries, k=5, m=32, ksub=64, shortlist=128).count())
    # the incremental index path at the same scale: batch vs 200k
    # corpus through a prebuilt index — one bucket shuffle, in-bucket
    # scoring; evidence to watch is the same bounded-task story
    from pipz_spark.datapipe import cross_embedding_pairs, embedding_index

    idx = embedding_index(e100.where(F.col("vec_id") >= 100), bits=8, tables=8)
    run(spark, "cross_embed 100x   ", lambda: cross_embedding_pairs(
        queries, threshold=0.9, ref_index=idx).count())
    spark.stop()


def main_ann100x() -> None:
    """100× LSH/IVF stress (r10 verdict ask #4): the last two datapipe
    machines without a 100× row. Same 200k-vector corpus recipe as
    pq100x (100 perturbed replicas of sf0.1's embeddings); queries are
    replica-0 of the first 100 base vectors, so each query's true
    top-5 is its own replica family at cos ≈ 1 — a DESIGNED ground
    truth the brute-force pass recomputes exactly.

    Unlike the declared sf0.01 gate (exhaustive-recall parameters),
    this runs PRODUCTION-SHAPED parameters — LSH bits=8/tables=16
    (~1/256 bucket occupancy, per-neighbor miss at cos≈0.999 under
    1e-20), IVF nlist=64/nprobe=8 (scoring touches ~1/8 of the
    corpus) — and asserts the measured recall@5 against brute force
    ≥ 0.98 plus the exact 100×5 output shape. Evidence to watch: the
    LSH shuffle is the corpus riding its 16 exploded table signatures
    into the bucket exchange (vectors × tables, the operator's real
    scale cost); IVF's is one cell-id join after a closure-matrix
    argmax assign; both max tasks must sit near the stage median.

        PYTHONPATH=/root/repo python tools/scale_stress.py ann100x
    """
    spark = get_session(
        "pipz-scale-stress-ann100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_ann100_")
    emb = load_table(spark, "embeddings", sf)
    reps = spark.range(100).select(F.col("id").alias("_rep"))
    big = emb.crossJoin(reps).select(
        (F.col("vec_id") * 100 + F.col("_rep")).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x + (F.col("_rep") * (i % 7 - 3)).cast("float") * 0.0005,
        ).alias("embedding"),
    )
    # 32 even files: the unrepartitioned crossJoin writes ONE 85 MB
    # file whose row-group layout hands ~all rows to one scan task —
    # the first ann100x run sat 20/21 tasks idle behind that
    # straggler. At real scale the corpus arrives as thousands of
    # splits; the stress input should look like that, not like a
    # single-file toy.
    big.repartition(32).write.mode("overwrite").parquet(f"{tmp}/embeddings100")
    e100 = spark.read.parquet(f"{tmp}/embeddings100")
    print(f"corpus: {e100.count()} vectors")
    queries = e100.where((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 10_000))

    from pipz_spark.datapipe import cosine_topk_bruteforce, cosine_topk_ivf

    # ground truth once; landed to parquet so the two recall joins
    # don't re-run the 100 × 200k scoring scan per ANN comparison
    truth_path = f"{tmp}/truth"
    cosine_topk_bruteforce(e100, queries, k=5).select("qid", "nid").write.mode(
        "overwrite"
    ).parquet(truth_path)
    truth = spark.read.parquet(truth_path)
    n_truth = truth.count()
    assert n_truth == 500, f"designed truth shape is 100×5, got {n_truth}"

    def check(name: str, ann_df) -> int:
        got = ann_df.select("qid", "nid")
        n = got.count()
        assert n == 500, f"{name}: expected 100×5 rows, got {n}"
        hits = truth.join(got, ["qid", "nid"], "left_semi").count()
        recall = hits / n_truth
        print(f"{name} recall@5 vs brute force: {recall:.4f} ({hits}/{n_truth})")
        assert recall >= 0.98, f"{name}: recall {recall:.4f} below designed 0.98 floor"
        return n

    run(spark, "cosine_topk_lsh 100x", lambda: check(
        "lsh", cosine_topk_lsh(e100, queries, k=5, bits=8, tables=16)))
    run(spark, "cosine_topk_ivf 100x", lambda: check(
        "ivf", cosine_topk_ivf(e100, queries, k=5, nlist=64, nprobe=8)))
    spark.stop()


def main_rank100x() -> None:
    """100× stress for the distributed exact-rank machine behind
    dp_ccnet_buckets — WITH the language skew the machine exists to
    survive. 500k docs (100 text-mutated replicas of sf0.1), langs
    reassigned so 'en' holds 60% of the corpus (300k rows) and four
    minor langs 10% each: the naive per-language ntile window would
    sort all of 'en' in ONE task (the straggler shape DIVERGENCES #20
    measured at 176 s for line_dedup's old window); the range-
    partition + two-phase-offset machine must spread it across the
    full parallelism.

    Exact contract: per-(lang, tier) output counts equal the closed-
    form ntile rule on the designed per-language totals (every
    replica text is ≥ 2 chars, so every row scores); evidence to
    watch is max_task_ms near the stage median — a language-sized
    straggler would print as a ~20× max.

        PYTHONPATH=/root/repo python tools/scale_stress.py rank100x
    """
    from pipz_spark.datapipe import perplexity_buckets

    spark = get_session(
        "pipz-scale-stress-rank100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_rank100_")
    docs = load_table(spark, "documents", sf)
    reps = spark.range(100).select(F.col("id").alias("_rep"))
    rid = F.col("doc_id") * 100 + F.col("_rep")
    big = docs.crossJoin(reps).select(
        rid.alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail"), F.col("_rep")).alias("text"),
        F.when(rid % 10 < 6, F.lit("en"))
        .otherwise(F.concat(F.lit("l"), (rid % 10).cast("string")))
        .alias("lang"),
    )
    big.repartition(32).write.mode("overwrite").parquet(f"{tmp}/documents100")
    d100 = spark.read.parquet(f"{tmp}/documents100")
    n_total = d100.count()
    print(f"corpus: {n_total} docs (en-skewed)")
    designed = {r["lang"]: r["n"] for r in
                d100.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert designed["en"] == n_total * 6 // 10, designed

    def check() -> int:
        out = perplexity_buckets(d100, buckets=3)
        got = {
            (r["lang"], r["ppl_bucket"]): r["n"]
            for r in out.groupBy("lang", "ppl_bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        want = {}
        for lang, n in designed.items():
            q, rem = divmod(n, 3)
            for b in (1, 2, 3):
                want[(lang, b)] = q + (1 if b <= rem else 0)
        assert got == want, {k: (got.get(k), want.get(k))
                             for k in set(got) | set(want)
                             if got.get(k) != want.get(k)}
        return sum(got.values())

    run(spark, "perplexity_buckets 100x", check)

    # DSIR importance weights on the same 500k corpus: the machine is
    # two fixed-size (4096-bucket) hash aggregates + one broadcast-
    # scored token pass — nothing corpus-sized ever shuffles, so the
    # evidence to watch is shuffle_mb staying vocabulary-sized and a
    # balanced scoring stage. Exact contract: one output row per pool
    # doc, every one scored (every replica text has tokens).
    from pipz_spark.datapipe import dsir_log_ratio

    target = d100.where(F.col("doc_id") % 50 == 0)
    pool = d100.where(F.col("doc_id") % 50 != 0)
    n_pool = pool.count()

    def check_dsir() -> int:
        out = dsir_log_ratio(pool, target)
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("dsir_logratio").alias("scored"),
        ).first()
        assert agg["n"] == n_pool and agg["scored"] == n_pool, agg
        return agg["n"]

    run(spark, "dsir_log_ratio 100x    ", check_dsir)
    spark.stop()


def main_stream100x() -> None:
    """100× STREAMING stress: the sessions rig — the stateful
    append-mode machine that paces the concurrent block — executed
    over 10M events (100 user-offset replicas of sf0.1's events
    table; each replica user replays the base user's exact event
    times, so the ground truth is the batch session_window twin over
    the same corpus). The replay structure is the rig's own: strict
    time-ordered files, one file per trigger, sentinel watermark
    close — so the state store carries a genuine time-slice of open
    sessions per trigger instead of an artificial all-at-once load.

    Exact contract: the landed streaming result EQUALS the batch
    session_window aggregate row-for-row (exceptAll both ways = 0) —
    1.36M+ sessions at 100×. state_partitions=32 (the knob exists
    because state partitioning is fixed at a stream's first start;
    sizing it to key cardinality is the production posture — the
    sf0.1 rig's tuned 2 would funnel 10M rows through two stores).

        PYTHONPATH=/root/repo python tools/scale_stress.py stream100x
    """
    from oracle_suite.queries import QUERIES
    from oracle_suite import streams as streams_mod

    spark = get_session(
        "pipz-scale-stress-stream100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_stream100_")
    ev = load_table(spark, "events", sf)
    reps = spark.range(100).select(F.col("id").alias("_rep"))
    big = ev.crossJoin(reps).select(
        (F.col("event_id") * 100 + F.col("_rep")).alias("event_id"),
        F.col("ts"),
        (F.col("user_id") * 100 + F.col("_rep")).alias("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
    )
    big.repartition(32).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
    print(f"corpus: {spark.read.parquet(f'{tmp}/events.parquet').count()} events")

    batch = QUERIES["events_sessions"].build(spark, tmp)
    batch.write.mode("overwrite").parquet(f"{tmp}/truth")
    truth = spark.read.parquet(f"{tmp}/truth")
    n_truth = truth.count()
    print(f"batch sessions (ground truth): {n_truth}")

    # pre-materialize the time-ordered replay + sentinel merge (the
    # same fixture-construction split bench.py makes): the range-
    # sorted file writes are test-INPUT building, not rig cost.
    # n_files=8: at 100× the honest replay is MANY trigger rounds of
    # ~1.25M rows (the sf0.1 rig's 2-file minimum would make each
    # micro-batch scan one 5M-row file — a single-task decode that
    # says nothing about the operator); 8 data triggers also make
    # the state story real — sessions open across SEVEN batch
    # boundaries before the watermark closes them.
    streams_mod._sessions_replay(spark, tmp, n_files=8)

    def check() -> int:
        out = streams_mod.stream_events_sessions(
            spark, tmp, state_partitions=32, n_files=8
        )
        missing = truth.exceptAll(out).count()
        extra = out.exceptAll(truth).count()
        assert missing == 0 and extra == 0, (missing, extra)
        return n_truth

    run(spark, "stream_sessions 100x", check)
    spark.stop()


def main_dedup100x(only: str | None = None) -> None:
    """100× DEDUP stress (VERDICT r8 #7): ANN/PQ earned 100× evidence
    in r8; this gives the dedup side's worst cases the same treatment
    at 100× document count (500k docs from sf0.1's 5k).

    Corpus shape: 100 replicas arranged as 10 FAMILIES of 10 members
    per base doc — members share text (plus a per-member tail),
    families differ. This scales the 10× corpus's near-dup STRUCTURE
    (family size ~10, gram df ~10, under the df-cap) to 100× the
    volume, which is how real web dups grow: more documents and more
    duplicate clusters, not 100-member clusters of everything. (An
    all-100-member-family corpus would instead push every gram past
    max_doc_freq=64 and measure the pruning path, not the join.)

        PYTHONPATH=/root/repo python tools/scale_stress.py dedup100x

    Evidence to watch, per the 100 TB argument: wall scaling ~linear
    vs the 10× run, max_task_ms near the mean (bucketed equi-joins
    shard; salting bounds hot buckets), and shuffle tracking the
    skinny candidate/pair volume — never the text payload.
    """
    from pipz_spark.datapipe import cross_near_dup_pairs

    spark = get_session(
        "pipz-scale-stress-dedup100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_dedup100_")
    docs = load_table(spark, "documents", sf)
    reps = spark.range(100).select(F.col("id").alias("_rep"))
    # Family separation must happen at the SHINGLE-SET level: a short
    # " familyX" suffix adds ~15 distinct 5-grams to a ~1000-shingle
    # doc, so every replica of a base doc — all 100, not the intended
    # 10-member family — stays jaccard ~0.97 with every other, and the
    # corpus degenerates into 100-member cliques (~12.5M cross pairs
    # whose verify join moves hundreds of GB of shingle arrays — the
    # r9 first run died ENOSPC exactly there; it ALSO pushes every
    # base gram past the df-cap, which is the failure mode the note
    # below warns about). Repetition can't fix it (periodic text has
    # constantly many DISTINCT shingles); 60 md5-derived 8-char tokens
    # per (doc, family) add ~700 distinct shingles, putting
    # cross-family jaccard at ~0.4 (< .5/.7 thresholds) and
    # within-family at ~0.99.
    fam = F.floor(F.col("_rep") / 10).cast("string")
    # family tokens key on (_base, fam) — NOT on a column literally
    # named doc_id: the output select aliases doc_id to the replica
    # id, and Spark's lateral-column-alias resolution would bind the
    # family hash to THAT (unique per row → zero shared family
    # tokens → zero pairs, the r9 silent-corpus-bug rerun)
    fam_text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda i: F.substring(
                F.md5(
                    F.concat(
                        F.col("_base").cast("string"), F.lit("|"), fam,
                        F.lit("|"), i.cast("string"),
                    )
                ),
                1, 8,
            ),
        ),
    )
    big = (
        docs.crossJoin(reps)
        .select(F.col("doc_id").alias("_base"), "_rep", "text")
        .select(
            (F.col("_base") * 100 + F.col("_rep")).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" "), fam_text,
                F.lit(" rep"), (F.col("_rep") % 10).cast("string"),
            ).alias("text"),
        )
    )
    big.write.mode("overwrite").parquet(f"{tmp}/documents100")
    d100 = spark.read.parquet(f"{tmp}/documents100")
    print(f"corpus: {d100.count()} docs")

    # One op per PROCESS invocation (pass jaccard|cross|minhash|line|text):
    # local-mode shuffle files live until session stop, so chaining
    # three 100× ops in one JVM stacks ~tens of GB of dead shuffle
    # state on the root volume (the r9 first attempt died ENOSPC in
    # op 2 with op 1's blocks still on disk). Separate processes give
    # each op a clean scratch AND honest per-op shuffle accounting.
    if only in (None, "jaccard"):
        # the exact-Jaccard pair stage — the quadratic-looking
        # candidate generator whose df-cap + hashed-gram design must
        # keep it linear
        run(spark, "jaccard_ngram 100x ",
            lambda: jaccard_near_dup_pairs(d100, threshold=0.5).count())
    if only in (None, "cross"):
        # incremental cross-corpus dedup — banded strictly-cross
        # candidates over a hot family-straddling split
        run(spark, "cross_near_dup 100x",
            lambda: cross_near_dup_pairs(
                d100.where(F.col("doc_id") % 2 == 1),
                d100.where(F.col("doc_id") % 2 == 0),
                threshold=0.7,
            ).count())
    if only in (None, "minhash"):
        # the MinHash headline at the same scale for the wall/shuffle
        # reference row
        run(spark, "near_dup_minhash100",
            lambda: near_dup_pairs(d100, threshold=0.7).count())
    if only in (None, "line"):
        # C4-style duplicate-line removal at 100×: family members
        # share most 8-token lines, so the keep-first decision sees a
        # realistic mix of hot (family-wide) and unique line keys.
        # PLUS the r9-verdict heavy-hitter: one exact 8-token
        # boilerplate line PREPENDED to half the corpus (250k docs →
        # one line digest with 250k occurrences, the web-navigation
        # skew shape this operator exists for). The r9 row missed the
        # row_number-window skew cliff precisely because no such key
        # existed; with the aggregate keep-first, map-side partial
        # collapse must keep max task ≈ median. Prepending (not
        # appending) keeps the hot line window-aligned at line_idx 0.
        from pipz_spark.datapipe import line_dedup

        hot = "nav home about contact privacy terms login search"
        assert len(hot.split()) == 8
        d_line = d100.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit(hot + " "), F.col("text")),
            ).otherwise(F.col("text")),
        )
        # aggregate computed columns, NOT count(): with the unique-key
        # LEFT rebuild join, a bare count collapses to the pre-filter
        # scan (Catalyst eliminates the row-preserving join and with
        # it the entire dedup computation — "measured" 1.9s of
        # nothing)
        # sum(length(clean_text)) forces the reassembly projection
        # too — without it column pruning skips the rebuild entirely
        run(spark, "line_dedup 100x    ",
            lambda: tuple(line_dedup(d_line).agg(
                F.sum("n_kept"), F.sum("n_dropped"),
                F.sum(F.length("clean_text"))).first()))
    if only == "text":
        # the r9 text-analysis trio on the same 500k corpus: BM25's
        # inverted-index factorization (only query-vocab postings
        # materialize), the vocab report's agg + TakeOrdered, and the
        # Gopher report's pure single-projection scan — each should
        # show near-mean max tasks and shuffle far below text volume
        from pipz_spark.datapipe import bm25_topk, gopher_quality, top_ngrams

        run(spark, "bm25_topk 100x     ",
            lambda: bm25_topk(
                d100, [(0, "hash join"), (1, "fast vector query")], k=10
            ).count())
        run(spark, "top_ngrams 100x    ",
            lambda: top_ngrams(d100, n=3, k=100).count())
        # aggregate over keep, NOT count(): a bare count over the pure
        # projection collapses to parquet count-star metadata and
        # would "measure" 0.4s of nothing
        run(spark, "gopher_quality 100x",
            lambda: gopher_quality(d100).agg(
                F.sum(F.col("keep").cast("int"))).first()[0])
        # the BPE trainer's one corpus-sized stage, declared as
        # dp_pretoken_hist (r10): one map-side-combining histogram
        # shuffle whose cardinality is the distinct pre-token
        # vocabulary — aggregate over counts, not count() (the
        # count-star trap)
        from pipz_spark.datapipe import pretoken_topk

        run(spark, "pretoken_hist 100x ",
            lambda: tuple(pretoken_topk(d100, k=100).agg(
                F.sum("n"), F.count(F.lit(1))).first()))
    spark.stop()


def main_semdedup100x() -> None:
    """100× SemDeDup stress (r11 verdict ask #4): the composed
    operator — embedding pair stage + transitive closure + keeper
    election — at ann100x's 200k-vector scale, with an EXACT designed
    cluster/keeper contract (the dedup100x treatment, vector-side).

    Corpus: 100 replicas per sf0.1 base vector arranged as 10
    FAMILIES of 10 members (dedup100x's structure). The family offset
    is comparable to the base norm (components up to ±0.3 against a
    base norm ~1.6), so variants of the SAME base sit far below the
    threshold across families; the member noise is ±0.001-scale, so
    the worst within-family pair sits at cosine ≈ 0.999. The base corpus's own max
    off-diagonal cosine is 0.60 (measured over all C(2000,2) pairs),
    leaving three margins around threshold=0.99 — which makes the
    truth EXACT: the cluster set must be precisely the 20,000
    (base, family) groups of 10, keeper = the family's min vec_id.
    A pair-stage recall miss (family split), a closure error (family
    merged or split), or a keeper mis-election each fails a hard
    assertion — no recall floor, no sampling.

        PYTHONPATH=/root/repo python tools/scale_stress.py semdedup100x

    Evidence to watch: the shuffle is the corpus riding its table
    signatures into the bucket exchange (the pair stage's honest
    scale cost, same shape ann100x pinned) plus skinny (long, long)
    closure labels; max task near the stage median.
    """
    spark = get_session(
        "pipz-scale-stress-semdedup100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_semdedup100_")
    emb = load_table(spark, "embeddings", sf)
    reps = spark.range(100).select(F.col("id").alias("_rep"))
    fam = F.floor(F.col("_rep") / 10)
    # family offset: deterministic per (base, family, dim), magnitude
    # up to 0.3/dim — breaks cosine across families of the same base;
    # member noise: per (member, dim), ≤ 0.004/dim — keeps the family
    # internally at cos ≈ 0.9999
    # the offset keys on _base — NOT on a column literally named
    # vec_id: the output select aliases vec_id to the replica id, and
    # Spark's lateral-column-alias resolution would bind the family
    # offset to THAT (unique per row → per-member offsets → no
    # families, the dedup100x r9 silent-corpus bug)
    big = (
        emb.crossJoin(reps)
        .select(F.col("vec_id").alias("_base"), "_rep", "embedding")
        .select(
            (F.col("_base") * 100 + F.col("_rep")).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: (
                    x
                    + ((F.col("_base") * 31 + fam * 7 + i) % 11 - 5).cast(
                        "double"
                    )
                    / 5.0
                    * 0.3
                    + ((F.col("_rep") % 10) * (i % 5 - 2)).cast("double")
                    * 0.001
                ).cast("float"),
            ).alias("embedding"),
        )
    )
    # 32 even files (the ann100x scan-skew lesson: one 85 MB file
    # hands ~all rows to a single row-group-bounded scan task)
    big.repartition(32).write.mode("overwrite").parquet(f"{tmp}/embeddings100")
    e100 = spark.read.parquet(f"{tmp}/embeddings100")
    print(f"corpus: {e100.count()} vectors")

    from pipz_spark.datapipe import semantic_dedup

    def check() -> tuple:
        out = semantic_dedup(e100, threshold=0.99, bits=8, tables=16)
        # exact designed contract: clusters == the (base, family)
        # groups. One aggregate proves all of it: per (base, family),
        # exactly 10 members, ONE distinct cluster id, ONE keeper,
        # and the keeper is the family's min vec_id; per cluster id,
        # exactly one (base, family) — i.e. families never merge.
        # vec_id = base·100 + fam·10 + member → floor(/10) is the
        # (base, family) key, unique per family
        fam_key = F.floor(F.col("vec_id") / 10)
        agg = (
            out.groupBy(fam_key.alias("_fam"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("cluster_id").alias("n_cl"),
                F.sum(F.col("is_keeper").cast("int")).alias("n_keep"),
                F.min(F.when(F.col("is_keeper"), F.col("vec_id"))).alias("keeper"),
                F.min("vec_id").alias("lo"),
            )
        )
        bad = agg.where(
            (F.col("n") != 10)
            | (F.col("n_cl") != 1)
            | (F.col("n_keep") != 1)
            | (F.col("keeper") != F.col("lo"))
        ).count()
        n_fam = agg.count()
        n_clusters = out.select("cluster_id").distinct().count()
        n_rows = out.count()
        assert n_rows == 200_000, f"every row labeled: {n_rows}"
        assert n_fam == 20_000, f"expected 20k families, got {n_fam}"
        assert bad == 0, f"{bad} families violate the exact contract"
        assert n_clusters == 20_000, f"families merged: {n_clusters} clusters"
        return (n_rows, n_clusters)

    run(spark, "semantic_dedup 100x", check)
    spark.stop()


def main_kmeans100x() -> None:
    """100× k-means stress: the iterative broadcast-centroid machine
    at 200k vectors (ann100x's corpus recipe), with an EXACT truth —
    a vectorized numpy replay of the operator's integer-quantized
    arithmetic (same IEEE doubles, same md5 seed order) recomputes
    every assignment and distance on the driver and must match all
    200k rows. The scale numbers to watch are the machine's whole
    point: shuffle ≈ the k-row per-iteration aggregates (kilobytes
    against a 100 MB corpus — nothing corpus-sized ever exchanges),
    and max task near the stage median (the assignment is a pure
    projection; the aggregate is map-side partial).

        PYTHONPATH=/root/repo python tools/scale_stress.py kmeans100x
    """
    import hashlib

    import numpy as np

    spark = get_session(
        "pipz-scale-stress-kmeans100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_kmeans100_")
    emb = load_table(spark, "embeddings", sf)
    reps = spark.range(100).select(F.col("id").alias("_rep"))
    big = emb.crossJoin(reps).select(
        (F.col("vec_id") * 100 + F.col("_rep")).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x + (F.col("_rep") * (i % 7 - 3)).cast("float") * 0.0005,
        ).alias("embedding"),
    )
    big.repartition(32).write.mode("overwrite").parquet(f"{tmp}/embeddings100")
    e100 = spark.read.parquet(f"{tmp}/embeddings100")
    print(f"corpus: {e100.count()} vectors")

    from pipz_spark.datapipe import kmeans_embeddings

    K, ITERS, CQ, DQ = 16, 2, 10_000_000, 1_000_000_000

    # exact numpy replay, computed BEFORE the timed run (it is the
    # truth oracle, not the operator): float32 → float64 widening,
    # then the same floor-quantized IEEE arithmetic the operator
    # defines — every op is exact or correctly-rounded identically
    # in numpy and the JVM, so equality is bit-for-bit
    pdf = e100.toPandas()
    ids = pdf["vec_id"].to_numpy()
    # the replica builder's transform emits doubles (no float cast),
    # so the stored column is array<double>; take the values as-is —
    # a float32 round-trip here would diverge from the operator,
    # which casts whatever the scan provides straight to double
    X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    hashes = np.array(
        [hashlib.md5((str(i) + "kmeans").encode()).hexdigest() for i in ids]
    )
    seed_idx = np.lexsort((ids, hashes))[:K]  # primary=hash, tie=id
    cent = np.floor(X[seed_idx] * CQ + 0.5) / CQ

    def assign(C):
        # per-(row, cell) distance: exact integer sum of
        # floor((x-c)*(x-c) * DQ + 0.5); argmin ties → lowest cell
        D = np.zeros((len(X), K), dtype=np.int64)
        for j in range(K):
            diff = X - C[j]
            D[:, j] = (
                np.floor(diff * diff * DQ + 0.5).astype(np.int64).sum(axis=1)
            )
        cells = D.argmin(axis=1)  # first min = lowest cell index
        return cells, D[np.arange(len(X)), cells]

    for _ in range(ITERS):
        cells, _ = assign(cent)
        for j in range(K):
            m = cells == j
            if m.any():
                s = np.floor(X[m] * CQ + 0.5).astype(np.int64).sum(axis=0)
                cent[j] = np.array(
                    [si / (int(m.sum()) * CQ) for si in s.tolist()]
                )
    cells, dists = assign(cent)
    want = {int(i): (int(c), int(d)) for i, c, d in zip(ids, cells, dists)}

    def check() -> tuple:
        got = {
            r["vec_id"]: (r["cell"], r["dist_q"])
            for r in kmeans_embeddings(e100, k=K, iters=ITERS).collect()
        }
        assert len(got) == 200_000, f"every row labeled: {len(got)}"
        mismatches = sum(1 for i, cd in want.items() if got.get(i) != cd)
        assert mismatches == 0, f"{mismatches} rows diverge from the replay"
        n_cells = len({c for c, _ in got.values()})
        return (len(got), n_cells)

    run(spark, "kmeans 100x (k=16) ", check)
    spark.stop()


def main() -> None:
    # the stress rig needs the UI's REST API for task/shuffle evidence
    spark = get_session("pipz-scale-stress", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"

    # ---- build the 10× corpus (replica 0 = original; others mutate)
    tmp = tempfile.mkdtemp(prefix="pipz_stress_")
    docs = load_table(spark, "documents", sf)
    reps = spark.range(REPLICAS).select(F.col("id").alias("_rep"))
    big_docs = (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") * REPLICAS + F.col("_rep")).alias("doc_id"),
            F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" rep"), F.col("_rep"))
            ).alias("text"),
        )
    )
    big_docs.write.mode("overwrite").parquet(f"{tmp}/documents")
    emb = load_table(spark, "embeddings", sf)
    big_emb = (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") * REPLICAS + F.col("_rep")).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: x + (F.col("_rep") * (i % 7 - 3)).cast("float") * 0.001,
            ).alias("embedding"),
        )
    )
    big_emb.write.mode("overwrite").parquet(f"{tmp}/embeddings")
    d10 = spark.read.parquet(f"{tmp}/documents")
    e10 = spark.read.parquet(f"{tmp}/embeddings")
    print(f"corpus: {d10.count()} docs, {e10.count()} vectors")

    run(spark, "exact_dedup        ",
        lambda: split_ok(exact_dedup("dedup")(d10)).count())
    run(spark, "near_dup_minhash   ",
        lambda: near_dup_pairs(d10, threshold=0.7).count())
    run(spark, "simhash_near_dup   ",
        lambda: simhash_near_dup_pairs(d10, max_hamming=3).count())
    # exact n-gram Jaccard at 10×: each replica family (10 docs)
    # shares ~all 5-grams, so every gram's df ≈ 10 — well under the
    # cap, and candidates grow ~45 pairs per base doc, linear in the
    # corpus. (A >cap exact-dup cluster is the method's documented
    # blind spot — boilerplate grams are PRUNED, which is why exact
    # dedup runs before jaccard in the composed pipeline.)
    run(spark, "jaccard_ngram      ",
        lambda: jaccard_near_dup_pairs(d10, threshold=0.5).count())
    # transitive closure over the 10× pair graph (250k+ edges, dense
    # template components): rounds = component min-label eccentricity,
    # each round one skinny (long,long) shuffle — watch max_task_ms
    run(spark, "dedup_clusters     ",
        lambda: dedup_clusters(d10, threshold=0.7).where("NOT is_keeper").count())
    # jaccard clusters END-TO-END (r6 judge ask #8): the df-capped
    # exact-gram candidate generator feeding the same closure — the
    # composed dp_jaccard_clusters path at 10×; per-round shuffle
    # stays (long,long) regardless of how pairs were generated
    run(spark, "jaccard_clusters   ",
        lambda: dedup_clusters(
            d10, pairs=jaccard_near_dup_pairs(d10, threshold=0.5)
        ).where("NOT is_keeper").count())
    # cross-corpus dedup at 10×: template families straddle the
    # odd/even split, so every family is a hot (band, band_hash) JOIN
    # key — the evidence to watch is max_task_ms staying bounded via
    # AQE skew-splitting of an ordinary join (no manual salting here)
    from pipz_spark.datapipe import cross_near_dup_pairs

    run(spark, "cross_near_dup     ",
        lambda: cross_near_dup_pairs(
            d10.where(F.col("doc_id") % 2 == 1),
            d10.where(F.col("doc_id") % 2 == 0),
            threshold=0.7,
        ).count())
    run(spark, "embed_near_dup 0.9 ",
        lambda: embedding_near_dup_pairs(e10, threshold=0.9).count())
    run(spark, "embed_near_dup 0.4 ",
        lambda: embedding_near_dup_pairs(e10, threshold=0.4, bits=3, tables=32).count())
    run(spark, "cosine_topk_lsh    ",
        lambda: cosine_topk_lsh(e10, e10.where(F.col("vec_id") < 100), k=5).count())
    # PQ at 10×: codebook training stays O(train_rows) on the driver
    # regardless of corpus size (TakeOrdered sample); the encode+ADC
    # scan is linear and shuffle carries only (qid, nid, approx)
    # partials — watch shuffle_mb staying ~flat vs the LSH line
    from pipz_spark.datapipe import cosine_topk_pq

    run(spark, "cosine_topk_pq     ",
        lambda: cosine_topk_pq(
            e10, e10.where(F.col("vec_id") < 100), k=5, m=32, ksub=64,
            shortlist=128,
        ).count())

    # ---- repeated spans at 10×: the gram explode is ~|chars| skinny
    # rows (the method's intrinsic cost); frequency count + semi-join
    # shuffle longs, the islands window shuffles only matched
    # positions — watch max task staying near the mean and shuffle
    # tracking matched-position volume, not text volume
    from pipz_spark.datapipe import repeated_spans

    run(spark, "repeated_spans     ",
        lambda: repeated_spans(d10, min_len=20).count())

    # ---- decontamination at 10×: gram explode is linear in corpus
    # tokens; the collision join is broadcast (eval side tiny by
    # definition) so the train side never shuffles — expect wall to
    # scale with the explode, max task bounded by a fan_out split
    from pipz_spark.datapipe.dedup import contamination

    ev10 = d10.where(F.col("doc_id") % 50 == 0)
    tr10 = d10.where(F.col("doc_id") % 50 != 0)
    run(spark, "contamination      ",
        lambda: contamination(tr10, ev10, n=4).count())

    # ---- range join at 10×: replicas shift one month each, so the
    # corpus spans ~10 months — intervals AND points both grow 10×,
    # join work grows linearly (each point meets ~1 interval via its
    # bin); the failure mode this guards is candidate blowup from a
    # mis-chosen bin width
    from pipz_spark.operators.relational import range_join

    events = load_table(spark, "events", sf)
    big_ev = (
        events.crossJoin(reps)
        .select(
            (F.col("event_id") * REPLICAS + F.col("_rep")).alias("event_id"),
            F.expr("ts + make_interval(0, CAST(_rep AS INT), 0, 0, 0, 0, 0)").alias("ts"),
            "user_id", "event_type", "value",
        )
    )
    big_ev.write.mode("overwrite").parquet(f"{tmp}/events10")
    ev10x = spark.read.parquet(f"{tmp}/events10")

    def _range_join_10x() -> int:
        iv = (
            ev10x.where(F.col("event_type") == "error")
            .groupBy(F.date_trunc("hour", "ts").alias("hour"))
            .agg(F.count(F.lit(1)).alias("n_err"),
                 F.min("ts").alias("start"), F.max("ts").alias("end"))
            .where(F.col("n_err") >= 5)
            .select("hour", "start", "end")
        )
        return range_join(
            ev10x, iv, "ts", "start", "end", bin_width_us=900_000_000, end_inclusive=True
        ).count()

    run(spark, "range_join         ", _range_join_10x)

    # ---- anomaly z-scores at 10× (r6 judge ask #8): the two-pass
    # broadcast-stats shape — the stats frame stays |event_type|-sized
    # no matter how the fact table grows, so the evidence to watch is
    # shuffle_mb ≈ the tiny stats aggregate (the fact scan itself
    # must NOT shuffle; z is computed in the scan projection after
    # the broadcast join). The EXACT declared-query builder runs here
    # (shared helper) so the stress evidence measures the gated plan.
    from oracle_suite.queries import build_anomaly_z

    run(spark, "events_anomaly     ",
        lambda: build_anomaly_z(ev10x).count())

    # ---- synthetic hot bucket (VERDICT r4 #6): a viral template
    # cluster far above max_bucket forces the salted big-bucket
    # branch; the evidence to watch is max_task_ms staying bounded
    # (per-task pairs ≤ k·max_bucket by construction, never k²)
    hot_docs = d10.unionByName(_viral_bucket(spark))
    run(spark, "minhash_hot_bucket ",
        lambda: near_dup_pairs(hot_docs, threshold=0.7).count())
    run(spark, "simhash_hot_bucket ",
        lambda: simhash_near_dup_pairs(hot_docs, max_hamming=3).count())
    spark.stop()


def _viral_bucket(spark):
    """1,500 docs of one boilerplate template with a 5-way tail
    variant: every pair is a near-dup, so it lands C(1500, 2) =
    1,124,250 pairs through one hot bucket per band."""
    return spark.range(1500).select(
        (F.lit(10_000_000) + F.col("id")).alias("doc_id"),
        F.concat(
            F.lit("identical viral boilerplate template text repeated across "
                  "the whole cluster with a tiny per-doc tail variant "),
            (F.col("id") % 5).cast("string"),
        ).alias("text"),
    )


def main_hotbucket() -> None:
    """The viral hot bucket alone: sf0.1 documents plus the 1,500-doc
    viral bucket through ``near_dup_pairs`` at 0.7, printing the pair
    count, an order-free checksum of the (id_a, id_b, jaccard) rows
    (equal on two trees = the same pair set, scores included) and the
    wall time of the one action. 1,124,506 pairs: the bucket's
    1,124,250 plus sf0.1's own 256. A fraction of the full 10× run,
    which builds the 10× corpus first. The documents come from the
    catalog's default scale directory (``SPARK_GRAFT_SF_DIR``, sf0.1).

        PYTHONPATH=. python tools/scale_stress.py hotbucket
    """
    spark = get_session("pipz-scale-stress-hotbucket")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, "documents", DEFAULT_SF_DIR)
    hot_docs = docs.select("doc_id", "text").unionByName(_viral_bucket(spark))
    t0 = time.time()
    row = near_dup_pairs(hot_docs, threshold=0.7).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("id_a", "id_b", "jaccard")).alias("h"),
    ).first()
    print(f"minhash_hot_bucket sf0.1: {row['n']} pairs, checksum {row['h']}, "
          f"{time.time() - t0:.1f}s wall")
    release_caches()
    spark.stop()


def main_megabucket(only: str | None = None) -> None:
    """Mega-bucket stress (VERDICT r9 #7): prove the chunk-grid
    bucket path holds when a SINGLE bucket dominates —
    one template family orders of magnitude above ``max_bucket``,
    the skew shape task 1's heavy-hitter line models for line_dedup.

        PYTHONPATH=/root/repo python tools/scale_stress.py megabucket bucket
        PYTHONPATH=/root/repo python tools/scale_stress.py megabucket simhash

    ONE op per process invocation (same rule as dedup100x, and this
    mode re-measured why: the mega100k op leaves ~27 GB of dead
    shuffle state in the local JVM, and a simhash run chained after
    it in the same process measured 523 s with a 414 s GC/IO
    straggler vs 69.5 s with balanced ~61 s tasks in a clean
    process). Two rows:

    * ``bucket_pairs mega100k`` — `_bucket_pairs` (the candidate
      machine minhash LSH banding and simhash pigeonhole SHARE) fed
      one 100,000-id bucket plus 10,000 ten-id buckets. Designed
      output is exactly C(100k,2) + 10k*C(10,2) = 5,000,400,000
      pairs; the hot bucket splits into ~(k/max_bucket)^2/2 chunk
      cells of at most max_bucket^2 pairs each, spread by an
      explicitly numbered exchange, so the evidence is the row count
      landing exactly and max_task_ms staying near the task median
      (NOT ~k^2/32 — one unsplit task would be minutes on its own).
    * ``simhash mega10k`` — the operator end-to-end: 10,000
      byte-identical template docs (one simhash => every pigeonhole
      chunk collides => 4 hot buckets of 10k) over 490,000 fillers of
      60 unique md5 tokens each (their simhashes are ~uniform 64-bit;
      P(any filler pair within hamming 3) ~ 1.2e11 * 4.2e4/2^64 ~
      3e-4, so the designed count is exactly C(10k,2) = 49,995,000).
    """
    spark = get_session(
        "pipz-scale-stress-megabucket", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="pipz_stress_mega_")

    if only in (None, "bucket"):
        _run_mega_bucket(spark, tmp)
    if only in (None, "simhash"):
        _run_mega_simhash(spark, tmp)
    spark.stop()


def _run_mega_bucket(spark, tmp: str) -> None:
    from pipz_spark.datapipe.dedup import _bucket_pairs

    mega = spark.range(100_000).select(
        F.lit(0).alias("block"),
        F.lit(0).cast("long").alias("chunk"),
        F.col("id").alias("_id"),
    )
    small = spark.range(100_000).select(
        F.lit(0).alias("block"),
        (F.col("id") % 10_000 + 1).cast("long").alias("chunk"),
        (F.col("id") + 1_000_000).alias("_id"),
    )
    mega.unionByName(small).write.mode("overwrite").parquet(f"{tmp}/buckets")
    bucketed = spark.read.parquet(f"{tmp}/buckets")
    expect_pairs = 100_000 * 99_999 // 2 + 10_000 * 45

    def _mega():
        n = _bucket_pairs(bucketed, ["block", "chunk"], 256).count()
        assert n == expect_pairs, f"designed {expect_pairs}, got {n}"
        return n

    run(spark, "bucket_pairs mega100k", _mega)
    release_caches()


def _run_mega_simhash(spark, tmp: str) -> None:
    template = " ".join(f"template{i:02d}" for i in range(60))
    fam = spark.range(10_000).select(
        (F.col("id") + 5_000_000).alias("doc_id"), F.lit(template).alias("text")
    )
    fillers = spark.range(490_000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(60)),
                lambda i: F.substring(
                    F.md5(
                        F.concat(
                            F.col("id").cast("string"),
                            F.lit("#"),
                            i.cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
            ),
        ).alias("text"),
    )
    fillers.unionByName(fam).write.mode("overwrite").parquet(f"{tmp}/docs")
    docs = spark.read.parquet(f"{tmp}/docs")
    expect_fam = 10_000 * 9_999 // 2

    def _simhash_mega():
        n = simhash_near_dup_pairs(docs, max_hamming=3).count()
        assert n == expect_fam, f"designed {expect_fam}, got {n}"
        return n

    run(spark, "simhash mega10k      ", _simhash_mega)


def main_pagerank100x() -> None:
    """100× PageRank stress: the iterative DISTRIBUTED-state machine
    at ~117M directed edges / 1.6M nodes (100 disjoint replicas of
    the sf0.1 customer↔supplier purchase graph, both directions).
    Truth is EXACT without a driver-sized collect: ranks on disjoint
    replicas must equal the base graph's ranks, which a pure-Python
    integer replay computes from the 587k base pairs; the comparison
    joins the 16k-row want table against all 1.6M result rows IN
    SPARK and asserts zero mismatches. Scale numbers to watch:
    per-iteration shuffle ~ O(edges + nodes) rows (never quadratic),
    max task near the stage median (the Pregel join/agg shard
    cleanly; contributions combine map-side so no dst hot key).

        PYTHONPATH=/root/repo python tools/scale_stress.py pagerank100x
    """
    spark = get_session(
        "pipz-scale-stress-pagerank100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_pagerank100_")
    o = load_table(spark, "orders", sf)
    li = load_table(spark, "lineitem", sf)
    pairs = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    base_pairs = [(r["ck"], r["sk"]) for r in pairs.collect()]
    print(f"base graph: {len(base_pairs)} pairs")

    reps = spark.range(100).select(F.col("id").alias("_rep"))
    big = pairs.crossJoin(reps).select(
        F.concat_ws("_", F.lit("c"), F.col("_rep"), F.col("ck")).alias("src"),
        F.concat_ws("_", F.lit("s"), F.col("_rep"), F.col("sk")).alias("dst"),
    )
    dbl = big.unionByName(
        big.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    dbl.repartition(64).write.mode("overwrite").parquet(f"{tmp}/edges")
    e100 = spark.read.parquet(f"{tmp}/edges")
    print(f"edges: {e100.count()}")

    # exact integer replay on the BASE graph (each replica must equal it)
    ITERS, INIT, NUM, DEN = 2, 10**12, 17, 20
    ep = [("c_" + str(c), "s_" + str(s)) for c, s in base_pairs]
    ep = ep + [(d, s) for s, d in ep]
    nodes = sorted({s for s, _ in ep})
    deg: dict = {}
    for s, _ in ep:
        deg[s] = deg.get(s, 0) + 1
    base_tp = (INIT * (DEN - NUM)) // DEN
    rank = {n: INIT for n in nodes}
    for _ in range(ITERS):
        ins: dict = {}
        for s, d in ep:
            ins[d] = ins.get(d, 0) + rank[s] // deg[s]
        rank = {n: base_tp + (ins.get(n, 0) * NUM) // DEN for n in nodes}
    want = spark.createDataFrame(
        [(n, rank[n], deg[n]) for n in nodes],
        "base_node string, want_rank long, want_deg long",
    )

    from pipz_spark.datapipe import pagerank

    def check() -> tuple:
        got = pagerank(e100, iters=ITERS)
        # strip the replica index: c_<rep>_<key> -> c_<key>
        keyed = got.select(
            F.concat_ws(
                "_",
                F.split(F.col("node"), "_")[0],
                F.split(F.col("node"), "_")[2],
            ).alias("base_node"),
            "rank_q",
            "outdeg",
        )
        joined = keyed.join(F.broadcast(want), "base_node", "left")
        bad = joined.where(
            F.col("want_rank").isNull()
            | (F.col("rank_q") != F.col("want_rank"))
            | (F.col("outdeg") != F.col("want_deg"))
        ).count()
        total = joined.count()
        assert bad == 0, f"{bad} of {total} nodes diverge from the replay"
        assert total == len(nodes) * 100, total
        return (total, bad)

    run(spark, "pagerank 100x (2 iters)", check)

    # ---- HITS on the DIRECTED 100× graph (same replicas, customer
    # → supplier direction only): the mutual-recursion twin of the
    # pagerank machine — exact python-int replay of a ← Σ_in h,
    # h ← Σ_out a at 2 iterations, all 1.6M (auth, hub) pairs
    # asserted bit-identical. Same scale axes: per-half-iteration
    # shuffle O(edges + nodes), map-side-combined sums, no hot key.
    from pipz_spark.datapipe import hits

    dir100 = spark.read.parquet(f"{tmp}/edges").where(
        F.col("src").startswith("c_")
    )
    a_want: dict = {}
    h_want = {n: 1 for n in nodes}
    dir_ep = [(s, d) for s, d in ep if s.startswith("c_")]
    for _ in range(ITERS):
        a_want = {n: 0 for n in nodes}
        for s, d in dir_ep:
            a_want[d] += h_want[s]
        h_want = {n: 0 for n in nodes}
        for s, d in dir_ep:
            h_want[s] += a_want[d]
    want_ah = spark.createDataFrame(
        [(n, a_want[n], h_want[n]) for n in nodes],
        "base_node string, want_auth long, want_hub long",
    )

    def check_hits() -> tuple:
        got = hits(dir100, iters=ITERS)
        keyed = got.select(
            F.concat_ws(
                "_",
                F.split(F.col("node"), "_")[0],
                F.split(F.col("node"), "_")[2],
            ).alias("base_node"),
            "auth_q",
            "hub_q",
        )
        joined = keyed.join(F.broadcast(want_ah), "base_node", "left")
        bad = joined.where(
            F.col("want_auth").isNull()
            | (F.col("auth_q") != F.col("want_auth"))
            | (F.col("hub_q") != F.col("want_hub"))
        ).count()
        total = joined.count()
        assert bad == 0, f"{bad} of {total} nodes diverge from the replay"
        assert total == len(nodes) * 100, total
        return (total, bad)

    run(spark, "hits 100x (2 iters)    ", check_hits)
    spark.stop()


def main_hll100x() -> None:
    """100× HLL stress: 10M event rows / 150k distinct users per
    group shape (100 replicas of sf0.1 events, user space expanded
    100×), b=12 → 4096 registers. Truth is exact twice over: the
    register pipeline must equal a pure-Python md5 replay computed
    from the DISTINCT user set (HLL is a pure function of the value
    set — the replay is 150k hashes on the driver, not 10M rows),
    and the estimate must land within 5 standard errors (5.2%) of
    the exact distinct count. Scale numbers to watch: the register
    exchange stays ≤ partitions × groups × 4096 rows — kilobytes
    against the 10M-row corpus.

        PYTHONPATH=/root/repo python tools/scale_stress.py hll100x
    """
    import hashlib
    import math

    spark = get_session(
        "pipz-scale-stress-hll100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_hll100_")
    ev = load_table(spark, "events", sf)
    reps = spark.range(100).select(F.col("id").alias("_rep"))
    big = ev.crossJoin(reps).select(
        "event_type", (F.col("user_id") * 100 + F.col("_rep")).alias("user_id")
    )
    big.repartition(64).write.mode("overwrite").parquet(f"{tmp}/events100")
    e100 = spark.read.parquet(f"{tmp}/events100")
    print(f"corpus: {e100.count()} rows")

    from pipz_spark.datapipe import hll_distinct

    B = 12
    m = 1 << B
    distinct = (
        e100.where(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
        .collect()
    )
    by_g: dict = {}
    for r in distinct:
        by_g.setdefault(r["event_type"], []).append(r["user_id"])

    def ref(vals):
        regs: dict = {}
        for u in vals:
            h = hashlib.md5((str(u) + "hll").encode()).hexdigest()
            bkt = int(h[:3], 16)
            st = h[3:16].lstrip("0")
            if not st:
                rho = 53
            else:
                z = 13 - len(st)
                v = int(st[0], 16)
                extra = 0 if v >= 8 else (1 if v >= 4 else (2 if v >= 2 else 3))
                rho = 4 * z + extra + 1
            regs[bkt] = max(regs.get(bkt, 0), rho)
        sp = sum(1 << (50 - min(x, 50)) for x in regs.values())
        ve = m - len(regs)
        s = sp + ve * (1 << 50)
        numer = 0.7213 / (1.0 + 1.079 / m) * m * m * float(2**50)
        raw = numer / s
        if raw <= 2.5 * m and ve > 0:
            est = m * (math.floor(math.log(m / ve) * 1e6 + 0.5) / 1e6)
        else:
            est = raw
        return est, s, ve

    want = {g: ref(vs) for g, vs in by_g.items()}

    def check() -> tuple:
        got = {
            r["event_type"]: (r["hll_distinct"], r["hll_s"], r["hll_empty"])
            for r in hll_distinct(e100, "user_id", ["event_type"], b=B).collect()
        }
        assert got == want, {
            g: (got.get(g), want.get(g)) for g in want if got.get(g) != want.get(g)
        }
        worst = 0.0
        for g, vs in by_g.items():
            err = abs(got[g][0] - len(vs)) / len(vs)
            worst = max(worst, err)
        assert worst < 5 * 1.04 / math.sqrt(m), f"worst rel err {worst:.4f}"
        return (len(got), round(worst, 4))

    run(spark, "hll 100x (b=12)      ", check)
    spark.stop()


def main_sketch100x() -> None:
    """100× stress for the two tail sketches. (a) CMS: sketch the
    ~27M-token stream of 500k docs (100 replicas of sf0.1) into
    3 × 4096 counters and point-query the exact top-20 tokens —
    counters must equal EXACTLY 100× the base corpus's counters
    (same token stream replicated), estimates one-sided. The scale
    number: the counter exchange is ≤ partitions × 3 × 4096 rows —
    kilobytes against a 27M-occurrence stream. (b) Bloom decontam:
    the 10k-doc eval split's grams build one bitmap literal and the
    490k-doc train side is scan → explode → bit test → count, no
    join; flagged docs AND per-doc counts must EQUAL the exact
    broadcast-join contamination pass (FP rate ~1e-9 at this filter
    size). Note the replica build makes this the total-contamination
    regime (every train doc's text also exists in some eval replica,
    so all 490k flag) — which makes the equality assertion a 490k-doc
    exact-count comparison, the strongest version of the check; the
    measured wall includes the exact-join truth pass it compares to.

        PYTHONPATH=/root/repo python tools/scale_stress.py sketch100x
    """
    spark = get_session(
        "pipz-scale-stress-sketch100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_sketch100_")
    docs = load_table(spark, "documents", sf)
    reps = spark.range(100).select(F.col("id").alias("_rep"))
    big = docs.crossJoin(reps).select(
        (F.col("doc_id") * 100 + F.col("_rep")).alias("doc_id"), "text"
    )
    big.repartition(64).write.mode("overwrite").parquet(f"{tmp}/docs100")
    d100 = spark.read.parquet(f"{tmp}/docs100")
    print(f"corpus: {d100.count()} docs")

    from pipz_spark.datapipe import bloom_contamination, cms_lookup, cms_sketch
    from pipz_spark.datapipe import contamination
    from pipz_spark.datapipe.text import WS

    W, D = 4096, 3

    def toks_of(frame):
        return frame.select(
            F.explode(
                F.filter(
                    F.split(
                        F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), WS
                    ),
                    lambda x: x != "",
                )
            ).alias("t")
        )

    base_ctr = {
        (r["cms_row"], r["cms_pos"]): r["cms_count"]
        for r in cms_sketch(toks_of(docs), "t", width=W, depth=D).collect()
    }

    def check_cms() -> tuple:
        toks = toks_of(d100)
        sk = cms_sketch(toks, "t", width=W, depth=D)
        got = {(r["cms_row"], r["cms_pos"]): r["cms_count"] for r in sk.collect()}
        assert got == {k: v * 100 for k, v in base_ctr.items()}, "counters != 100x base"
        top = (
            toks.groupBy("t")
            .agg(F.count(F.lit(1)).alias("n_true"))
            .orderBy(F.col("n_true").desc(), F.col("t"))
            .limit(20)
        )
        est = cms_lookup(sk, top, "t", width=W, depth=D).collect()
        assert all(r["cms_est"] >= r["n_true"] for r in est)
        n_tok = toks.count()
        return (n_tok, len(got))

    run(spark, "cms 100x (3x4096)    ", check_cms)

    ev = d100.where(F.col("doc_id") % 50 == 0)
    tr = d100.where(F.col("doc_id") % 50 != 0)

    def check_bloom() -> tuple:
        flagged = {
            r["doc_id"]: r["n_flagged"]
            for r in bloom_contamination(tr, ev, n=4, n_words=8192).collect()
        }
        exact = {
            r["doc_id"]: r["n_collisions"]
            for r in contamination(tr, ev, n=4).collect()
        }
        assert flagged == exact, (
            len(flagged), len(exact), "bloom != exact at this filter size"
        )
        return (len(flagged), len(exact))

    run(spark, "bloom decontam 100x  ", check_bloom)
    spark.stop()


def main_pca100x() -> None:
    """100× PCA stress: the one-pass scatter machine at 200k × 64-dim
    vectors (ann100x's corpus recipe). Truth is EXACT — a vectorized
    numpy/python-int replay of the integer contract (int64 Gram
    matmul, python-int power steps with truncating division)
    recomputes every projection integer, and all 200k must match
    bit-for-bit. The scale numbers to watch: the corpus's ONLY pass
    emits d² rows per Arrow task (the per-task Gram fold — a
    dims-pair explode would generate 4096 rows per VECTOR instead),
    so the shuffle is kilobytes; scoring is a pure projection.

        PYTHONPATH=/root/repo python tools/scale_stress.py pca100x
    """
    import numpy as np

    spark = get_session(
        "pipz-scale-stress-pca100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_pca100_")
    emb = load_table(spark, "embeddings", sf)
    reps = spark.range(100).select(F.col("id").alias("_rep"))
    big = emb.crossJoin(reps).select(
        (F.col("vec_id") * 100 + F.col("_rep")).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x + (F.col("_rep") * (i % 7 - 3)).cast("float") * 0.0005,
        ).alias("embedding"),
    )
    big.repartition(32).write.mode("overwrite").parquet(f"{tmp}/emb100")
    e100 = spark.read.parquet(f"{tmp}/emb100")
    print(f"corpus: {e100.count()} vectors")

    from pipz_spark.datapipe import pca_project

    Q, ITERS = 10_000, 2
    pdf = e100.toPandas()
    ids = pdf["vec_id"].to_numpy()
    X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    Xq = np.floor(X * Q + 0.5).astype(np.int64)
    d = Xq.shape[1]
    A = (Xq.T @ Xq).tolist()  # exact int64 Gram; lists -> python ints
    k = [1_000_000] * d
    for _ in range(ITERS):
        w = [sum(A[i][j] * k[j] for j in range(d)) for i in range(d)]
        s = max(abs(x) for x in w)
        k = [(abs(wi) * 1_000_000 // s) * (1 if wi >= 0 else -1) for wi in w]
    pq = Xq @ np.asarray(k, dtype=np.int64)
    want = {int(i): int(p) for i, p in zip(ids, pq)}

    def check() -> tuple:
        got = {r["vec_id"]: r["pc1_q"] for r in pca_project(e100, iters=ITERS).collect()}
        assert len(got) == 200_000, len(got)
        bad = sum(1 for i, p in want.items() if got.get(i) != p)
        assert bad == 0, f"{bad} projections diverge from the replay"
        return (len(got), bad)

    run(spark, "pca 100x (d=64)      ", check)
    spark.stop()


def main_graph100x() -> None:
    """Graph stress: triangle counting on 10 disjoint replicas of
    the sf0.1 part co-occurrence graph (12M canonical edges — the
    base graph is DENSE: 1.2M edges over 20k parts, 41M oriented
    wedges per replica measured, so 10 replicas drive ~410M wedge
    rows through the closing join; 100 replicas would be 4.1B, past
    this box's disk, and the wedge row count — not the edge count —
    is the scale axis for this machine) + min-label propagation on
    100 replicas of the customer↔supplier graph (117M directed edges
    after symmetrization, 3 rounds). Truth is EXACT: disjoint
    replicas must reproduce the BASE graph's answer, which
    pure-Python references compute (degree-oriented node iterator /
    synchronous min rounds); the comparison joins the want table
    against every replica's rows IN SPARK and asserts zero
    mismatches. Scale numbers to watch: wedge rows ≈ Σ C(outdeg,2),
    orientation capping max out-degree at O(√m) (measured 97 vs the
    √(2m) ≈ 1550 bound on the base graph); labelprop per-round
    shuffle O(edges + nodes).

        PYTHONPATH=/root/repo python tools/scale_stress.py graph100x
    """
    spark = get_session(
        "pipz-scale-stress-graph100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_graph100_")
    from pipz_spark.datapipe import propagate_min_labels, triangle_count

    # ---- triangles over the part co-occurrence graph -------------
    li = load_table(spark, "lineitem", sf).select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    und = (
        a.join(b, "k")
        .where(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    base_edges = [(r["pa"], r["pb"]) for r in und.collect()]
    print(f"base co-occurrence graph: {len(base_edges)} canonical edges")

    # python reference: degree-oriented node iterator on the base
    t0 = time.time()
    deg: dict = {}
    for u, v in base_edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    out: dict = {}
    eset = set()
    for u, v in base_edges:
        lo, hi = (u, v) if (deg[u], u) < (deg[v], v) else (v, u)
        out.setdefault(lo, []).append(hi)
        eset.add((lo, hi))
    tri_want: dict = {}
    for a_n, nbrs in out.items():
        nbrs = sorted(nbrs, key=lambda x: (deg[x], x))
        for i in range(len(nbrs)):
            for j in range(i + 1, len(nbrs)):
                if (nbrs[i], nbrs[j]) in eset:
                    for n in (a_n, nbrs[i], nbrs[j]):
                        tri_want[n] = tri_want.get(n, 0) + 1
    print(
        f"python reference: {sum(tri_want.values()) // 3} triangles over "
        f"{len(tri_want)} closing nodes [{time.time() - t0:.1f}s]"
    )
    want_tri = spark.createDataFrame(
        list(tri_want.items()), "base_node long, want_tri long"
    )

    treps = spark.range(10).select(F.col("id").alias("_rep"))
    big = und.crossJoin(treps).select(
        (F.col("pa") * 1000 + F.col("_rep")).alias("src"),
        (F.col("pb") * 1000 + F.col("_rep")).alias("dst"),
    )
    big.repartition(64).write.mode("overwrite").parquet(f"{tmp}/tri_edges")
    e100 = spark.read.parquet(f"{tmp}/tri_edges")
    print(f"triangle edges: {e100.count()}")

    def check_tri() -> tuple:
        got = triangle_count(e100)
        keyed = got.select(
            F.expr("node DIV 1000").alias("base_node"), "triangles"
        )
        joined = keyed.join(F.broadcast(want_tri), "base_node", "left")
        bad = joined.where(
            F.col("want_tri").isNull()
            | (F.col("triangles") != F.col("want_tri"))
        ).count()
        total = joined.count()
        assert bad == 0, f"{bad} of {total} nodes diverge from the replay"
        assert total == len(tri_want) * 10, total
        return (total, bad)

    run(spark, "triangles 10x (410M wedges)", check_tri)

    # ---- min-label propagation over the purchase graph -----------
    o = load_table(spark, "orders", sf)
    li2 = load_table(spark, "lineitem", sf)
    pairs = (
        o.join(li2, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    base_pairs = [(r["ck"], r["sk"]) for r in pairs.collect()]
    ITERS = 3
    ep = [("c_" + str(c), "s_" + str(s)) for c, s in base_pairs]
    adj: dict = {}
    for s, d in ep:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    lab = {n: n for n in adj}
    for _ in range(ITERS):
        lab = {n: min([lab[n]] + [lab[m] for m in adj[n]]) for n in adj}
    want_lab = spark.createDataFrame(
        list(lab.items()), "base_node string, want_label string"
    )

    reps = spark.range(100).select(F.col("id").alias("_rep"))
    bigp = pairs.crossJoin(reps).select(
        F.concat_ws("_", F.lit("c"), F.col("_rep"), F.col("ck")).alias("src"),
        F.concat_ws("_", F.lit("s"), F.col("_rep"), F.col("sk")).alias("dst"),
    )
    bigp.repartition(64).write.mode("overwrite").parquet(f"{tmp}/lab_edges")
    p100 = spark.read.parquet(f"{tmp}/lab_edges")
    print(f"labelprop edges (pre-symmetrize): {p100.count()}")

    def check_lab() -> tuple:
        got = propagate_min_labels(p100, iters=ITERS, checkpoint_every=2)
        # c_<rep>_<key> -> c_<key>; labels strip the same way (every
        # replica's min label is the replica copy of the base min)
        strip = lambda c: F.concat_ws(
            "_", F.split(c, "_")[0], F.split(c, "_")[2]
        )
        keyed = got.select(
            strip(F.col("node")).alias("base_node"),
            strip(F.col("label")).alias("label"),
        )
        joined = keyed.join(F.broadcast(want_lab), "base_node", "left")
        bad = joined.where(
            F.col("want_label").isNull()
            | (F.col("label") != F.col("want_label"))
        ).count()
        total = joined.count()
        assert bad == 0, f"{bad} of {total} nodes diverge from the replay"
        assert total == len(lab) * 100, total
        return (total, bad)

    run(spark, "labelprop 100x (3 it) ", check_lab)

    # ---- k-core peeling on the 10-replica co-occurrence graph ----
    from pipz_spark.datapipe import kcore_peel

    K, ROUNDS = 22, 3
    t0 = time.time()
    # python reference: synchronous peel on the base graph
    pedges = set(base_edges)
    for _ in range(ROUNDS):
        pdeg: dict = {}
        for u, v in pedges:
            pdeg[u] = pdeg.get(u, 0) + 1
            pdeg[v] = pdeg.get(v, 0) + 1
        keep = {n for n, c in pdeg.items() if c >= K}
        pedges = {(u, v) for u, v in pedges if u in keep and v in keep}
    core_want: dict = {}
    for u, v in pedges:
        core_want[u] = core_want.get(u, 0) + 1
        core_want[v] = core_want.get(v, 0) + 1
    print(
        f"python reference: {len(core_want)} nodes in the {K}-core after "
        f"{ROUNDS} peels [{time.time() - t0:.1f}s]"
    )
    want_core = spark.createDataFrame(
        list(core_want.items()), "base_node long, want_deg long"
    )

    def check_core() -> tuple:
        got = kcore_peel(e100, k=K, rounds=ROUNDS, checkpoint_every=1)
        keyed = got.select(F.expr("node DIV 1000").alias("base_node"), "degree")
        joined = keyed.join(F.broadcast(want_core), "base_node", "left")
        bad = joined.where(
            F.col("want_deg").isNull() | (F.col("degree") != F.col("want_deg"))
        ).count()
        total = joined.count()
        assert bad == 0, f"{bad} of {total} nodes diverge from the replay"
        assert total == len(core_want) * 10, total
        return (total, bad)

    run(spark, "kcore 10x (3 peels)   ", check_core)
    spark.stop()


def main_kll100x() -> None:
    """100× KLL stress: the day-shard merge story at 60M values.
    100 perturbed replicas of sf0.1 lineitem prices (600k × 100,
    each replica offset so the global distribution is genuinely
    mixed), one k=256 sketch PER replica built on the grouped_rank
    machine (the per-day write path), all 100 merged and queried at
    four quantiles. Truth is EXACT rank arithmetic in Spark: for
    each answer v the true rank bracket [#{x < v}+1, #{x ≤ v}] must
    sit within the DOCUMENTED bound of the target rank — the MRL
    composition is ADDITIVE over shards, so the sound bound is
    Σ_shards ceil(n_shard/k) + one merge stride ceil(N/k), ≈ 2·N/k
    here (the realized error runs well under it). Also asserts Σ merged weights = N exactly (the
    cum-weight-is-exact-rank invariant survives the merge) and that
    re-running the merge reproduces identical rows (determinism at
    scale). Scale numbers: sketches are ≤ 100 × 257 rows — the merge
    + query stages never touch the 60M-value frame again.

        PYTHONPATH=/root/repo python tools/scale_stress.py kll100x
    """
    spark = get_session(
        "pipz-scale-stress-kll100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_kll100_")
    from pipz_spark.datapipe import kll_merge, kll_quantile, kll_sketch

    li = load_table(spark, "lineitem", sf).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    reps = spark.range(100).select(F.col("id").alias("_rep"))
    big = li.crossJoin(reps).select(
        F.col("_rep"),
        (
            F.col("l_extendedprice").cast("double")
            + F.col("_rep").cast("double") * 0.13
        ).alias("price"),
        (
            F.col("l_orderkey") * 800
            + F.col("l_linenumber") * 100
            + F.col("_rep")
        ).alias("_rid"),
    )
    big.repartition(64).write.mode("overwrite").parquet(f"{tmp}/prices100")
    p100 = spark.read.parquet(f"{tmp}/prices100").persist()
    n_total = p100.count()
    n_shard = n_total // 100
    print(f"corpus: {n_total} values across 100 shards")

    K = 256
    PROBS = [(1, 4), (1, 2), (3, 4), (99, 100)]
    # additive over the 100 shard builds + one merge stride
    bound = 100 * ((n_shard + K - 1) // K) + (n_total + K - 1) // K

    def check() -> tuple:
        shard_sk = kll_sketch(p100, "price", ["_rep"], k=K, id_col="_rid")
        merged = kll_merge(shard_sk, [], k=K).localCheckpoint()
        rows = merged.collect()
        assert sum(r["kll_weight"] for r in rows) == n_total
        assert len(rows) <= K + 1, len(rows)
        # determinism: a second merge pass reproduces identical rows
        again = sorted(
            (r["kll_value"], r["kll_weight"])
            for r in kll_merge(
                kll_sketch(p100, "price", ["_rep"], k=K, id_col="_rid"), [], k=K
            ).collect()
        )
        assert again == sorted((r["kll_value"], r["kll_weight"]) for r in rows)
        worst = 0
        by_q = {qn / qd: (qn, qd) for qn, qd in PROBS}
        for r in kll_quantile(merged, PROBS, []).collect():
            v = r["kll_quantile"]
            # the engine's exact integer target ceil(qn·W/qd) — NOT a
            # float product (int() truncates 0.99·N one rank short)
            qn, qd = by_q[r["q"]]
            target = (qn * n_total + qd - 1) // qd
            lo = p100.where(F.col("price") < v).count() + 1
            hi = p100.where(F.col("price") <= v).count()
            err = min(abs(lo - target), abs(hi - target))
            worst = max(worst, err)
            assert err <= bound, (r["q"], v, err, bound)
        print(f"  worst rank error {worst} vs bound {bound}")
        return (n_total, worst)

    run(spark, "kll 100-shard merge   ", check)
    spark.stop()


def main_mg100x() -> None:
    """100× Misra-Gries stress: the shard-merge heavy-hitters story
    at 60M keys with a DESIGNED frequency structure whose summary is
    computable in closed form. Corpus = 100 replicas of sf0.1
    lineitem rows keyed so that 200 designed hot keys carry ~0.3% of
    the mass each while ~600k tail keys carry ~100 rows each; one
    k=256 summary PER replica (the per-day write path, pruned on the
    grouped_rank range exchange), all 100 add-then-prune merged at
    k=64, top-32 enumerated. Asserts:

    - every merged report satisfies est ≤ true ≤ est + err against
      EXACT Spark group counts (the MG invariant at 60M rows);
    - the top-32 enumeration is exactly the 32 hottest designed keys
      (hot keys dominate the tail by construction, so enumeration
      order is the true-count order);
    - total offset err·(k+1) ≤ W (the classical merge bound);
    - re-running build+merge reproduces identical rows (determinism
      at scale — the canonical tie rule leaves the engine no
      choice).

    Scale numbers: the only corpus-sized stages are the exact count
    aggregate (map-side combined) and the grouped_rank exchange; the
    merge + enumeration stages see ≤ 100 × 257 summary rows.

        PYTHONPATH=/root/repo python tools/scale_stress.py mg100x
    """
    spark = get_session(
        "pipz-scale-stress-mg100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="pipz_stress_mg100_")
    from pipz_spark.datapipe.sketches import mg_merge, mg_summary, mg_topk

    li = load_table(spark, "lineitem", sf).select("l_orderkey", "l_linenumber")
    reps = spark.range(100).select(F.col("id").alias("_rep"))
    # key design: rows whose orderkey lands in the lowest 200 buckets
    # of (l_orderkey % 3000) collapse onto 200 hot keys (~200 designed
    # heavy hitters, each ≈ n/3000 per replica × 100); everything
    # else keys by (orderkey, linenumber) — ~600k distinct tail keys
    # of ~100 occurrences each
    big = li.crossJoin(reps).select(
        F.col("_rep"),
        F.when(
            F.col("l_orderkey") % 3000 < 200,
            F.concat(F.lit("hot_"), F.format_string("%04d", F.col("l_orderkey") % 3000)),
        )
        .otherwise(
            F.concat_ws("_", F.col("l_orderkey"), F.col("l_linenumber"))
        )
        .alias("key"),
    )
    big.repartition(64).write.mode("overwrite").parquet(f"{tmp}/keys100")
    k100 = spark.read.parquet(f"{tmp}/keys100").persist()
    n_total = k100.count()
    print(f"corpus: {n_total} keyed rows across 100 shards")

    K_BUILD, K_MERGE, TOP = 256, 64, 32
    true_hot = {
        r["key"]: r["c"]
        for r in k100.where(F.col("key").startswith("hot_"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    top_true = sorted(true_hot.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP]

    def check() -> tuple:
        summ = mg_summary(k100, "key", k=K_BUILD, group_cols=["_rep"])
        merged = mg_merge(summ, k=K_MERGE, source_cols=["_rep"]).localCheckpoint()
        rows = merged.collect()
        err_g = max(r["mg_err"] for r in rows)
        assert err_g * (K_MERGE + 1) <= n_total, (err_g, n_total)
        reported = {
            r["mg_key"]: (r["mg_est"], r["mg_err"])
            for r in rows
            if r["mg_key"] is not None
        }
        for key, (est, err) in reported.items():
            t = true_hot.get(key)
            if t is None:
                t = k100.where(F.col("key") == key).count()
            assert est <= t <= est + err, (key, est, err, t)
        top = [
            (r["mg_key"], r["mg_est"], r["mg_err"])
            for r in mg_topk(merged, TOP).collect()
        ]
        assert [k for k, _, _ in top] == [k for k, _ in top_true], (
            top[:5],
            top_true[:5],
        )
        # determinism: a full second build+merge reproduces the rows
        again = sorted(
            ((r["mg_key"] or ""), r["mg_est"], r["mg_err"])
            for r in mg_merge(
                mg_summary(k100, "key", k=K_BUILD, group_cols=["_rep"]),
                k=K_MERGE,
                source_cols=["_rep"],
            ).collect()
        )
        assert again == sorted(
            ((r["mg_key"] or ""), r["mg_est"], r["mg_err"]) for r in rows
        )
        print(
            f"  {len(reported)} reported keys, top-{TOP} exact, "
            f"offset {err_g} vs bound {n_total // (K_MERGE + 1)}"
        )
        return (n_total, len(reported))

    run(spark, "mg 100-shard merge    ", check)
    spark.stop()


def main_kmv100x() -> None:
    """100× KMV/theta stress: set algebra at 55M rows with DESIGNED
    set structure so every answer has a closed form. Side A = ids
    [0, 3M), side B = ids [2.5M, 5.5M) — 3M distinct each, 500k
    intersection, 2.5M exclusive each way, 5.5M union — each id
    replicated 10× (the multiset the sketch must dedupe). One k=4096
    sketch per side built on the grouped_rank bottom-k machine,
    then kmv_set_estimates. Asserts:

    - per-side kmv_estimate within 4/√(k−2) relative error of the
      exact 3M (the estimator's ~4-sigma band);
    - all four set estimates within the same band of their designed
      truths (union 5.5M, intersection 500k, 2.5M each exclusive);
    - determinism: a full second build reproduces the sketches
      row-for-row (md5 bottom-k leaves the engine no choice).

    Scale numbers: the distinct-hash aggregate is the only
    corpus-sized stage (map-side combined); everything after sees
    ≤ 2k sketch rows.

        PYTHONPATH=/root/repo python tools/scale_stress.py kmv100x
    """
    spark = get_session(
        "pipz-scale-stress-kmv100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="pipz_stress_kmv100_")
    from pipz_spark.datapipe.sketches import (
        kmv_estimate,
        kmv_set_estimates,
        kmv_sketch,
    )

    N, OVER, REP = 3_000_000, 500_000, 10
    reps = spark.range(REP).select(F.col("id").alias("_rep"))
    a = spark.range(N).crossJoin(reps).select(F.col("id").alias("v"))
    b = (
        spark.range(N)
        .crossJoin(reps)
        .select((F.col("id") + N - OVER).alias("v"))
    )
    a.repartition(32).write.mode("overwrite").parquet(f"{tmp}/a")
    b.repartition(32).write.mode("overwrite").parquet(f"{tmp}/b")
    pa = spark.read.parquet(f"{tmp}/a").persist()
    pb = spark.read.parquet(f"{tmp}/b").persist()
    n_rows = pa.count() + pb.count()
    print(f"corpus: {n_rows} rows, {N} distinct per side, overlap {OVER}")

    K = 4096
    band = 4.0 / (K - 2) ** 0.5
    truths = {
        "kmv_union": 2 * N - OVER,
        "kmv_intersect": OVER,
        "kmv_a_only": N - OVER,
        "kmv_b_only": N - OVER,
    }

    def check() -> tuple:
        sa = kmv_sketch(pa, "v", k=K).localCheckpoint()
        sb = kmv_sketch(pb, "v", k=K).localCheckpoint()
        worst = 0.0
        for sk in (sa, sb):
            est = kmv_estimate(sk, k=K).collect()[0]["kmv_distinct"]
            rel = abs(est - N) / N
            worst = max(worst, rel)
            assert rel <= band, (est, N, band)
        out = kmv_set_estimates(sa, sb, k=K).collect()[0]
        for col, truth in truths.items():
            rel = abs(out[col] - truth) / truth
            worst = max(worst, rel)
            assert rel <= band, (col, out[col], truth, band)
        # determinism: rebuild reproduces the sketches row-for-row
        again = sorted(r["kmv_hash"] for r in kmv_sketch(pa, "v", k=K).collect())
        assert again == sorted(r["kmv_hash"] for r in sa.collect())
        print(f"  worst relative error {worst:.4f} vs band {band:.4f}")
        return (n_rows, round(worst, 5))

    run(spark, "kmv 55M set algebra   ", check)
    spark.stop()


def main_img100x() -> None:
    """100× image near-dup stress: the banded aHash machine at 505k
    binary payloads with a DESIGNED duplicate structure. Corpus =
    500k unique blobs (md5-derived bytes, so byte profiles are
    uniform and accidental Hamming ≤ 3 pairs are astronomically
    unlikely but handled anyway) + 5k seed blobs × 10 IDENTICAL
    copies each (Hamming 0 by construction). Asserts:

    - RECALL: every one of the 5k × C(10,2) = 225,000 designed
      clique pairs appears in the output (the pigeonhole guarantee
      at scale — a lost band bucket would drop whole cliques);
    - SOUNDNESS: every reported pair's hamming is ≤ 3 AND re-derives
      exactly from the two signatures (recomputed on a 1k-pair
      sample via the pure-Python reference);
    - no single-task blowup: the 100-member cliques share one
      (band, chunk) bucket per band, exercising the salted
      hot-bucket path (max_bucket=256 < clique size × bands).

    Scale numbers: the aHash is one Arrow-batched mapInPandas scan;
    candidates come only from band buckets (never all-pairs over
    505k blobs = 127 BILLION pairs brute-force).

        PYTHONPATH=/root/repo python tools/scale_stress.py img100x
    """
    spark = get_session(
        "pipz-scale-stress-img100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="pipz_stress_img100_")
    from pipz_spark.datapipe.multimodal import image_near_dup

    # unique blobs: 8 md5 hex blocks (256 bytes) seeded by id —
    # uniform byte profiles, all distinct
    blob_expr = F.encode(
        F.concat(
            *[
                F.md5(F.concat(F.col("seed").cast("string"), F.lit(f"_b{i}")))
                for i in range(8)
            ]
        ),
        "utf-8",
    )
    uniq = spark.range(500_000).select(
        F.col("id").alias("doc_id"), F.col("id").alias("seed")
    )
    copies = (
        spark.range(5_000)
        .select((F.col("id") + 500_000).alias("seed"))
        .crossJoin(spark.range(10).select(F.col("id").alias("_c")))
        .select(
            (F.col("seed") * 100 + F.col("_c") + 10_000_000).alias("doc_id"),
            "seed",
        )
    )
    corpus = uniq.unionByName(copies).select("doc_id", "seed", blob_expr.alias("blob"))
    corpus.repartition(64).write.mode("overwrite").parquet(f"{tmp}/blobs")
    blobs = spark.read.parquet(f"{tmp}/blobs").persist()
    n = blobs.count()
    print(f"corpus: {n} blobs (500k unique + 5k cliques of 10 copies)")

    def check() -> tuple:
        pairs = image_near_dup(
            blobs, max_hamming=3, max_bucket=256
        ).persist()
        n_pairs = pairs.count()
        # RECALL: designed clique pairs all present — join pairs back
        # to seeds; a clique pair is (same seed, both copy ids)
        sa = blobs.select(F.col("doc_id").alias("id_a"), F.col("seed").alias("_sa"))
        sb = blobs.select(F.col("doc_id").alias("id_b"), F.col("seed").alias("_sb"))
        clique_found = (
            pairs.join(sa, "id_a")
            .join(sb, "id_b")
            .where(
                (F.col("_sa") == F.col("_sb"))
                & (F.col("id_a") >= 10_000_000)
                & (F.col("id_b") >= 10_000_000)
            )
            .count()
        )
        want = 5_000 * 45
        assert clique_found == want, (clique_found, want)
        # SOUNDNESS: hamming column within threshold everywhere, and a
        # 1k-pair sample re-derives exactly from the reference hash
        assert pairs.where(F.col("hamming") > 3).count() == 0
        sample = pairs.limit(1000).collect()
        blob_ids = {r["id_a"] for r in sample} | {r["id_b"] for r in sample}
        bmap = {
            r["doc_id"]: bytes(r["blob"])
            for r in blobs.where(F.col("doc_id").isin(list(blob_ids))).collect()
        }

        def ref_bands(b):
            L = len(b)
            if L == 0:
                return (0, 0, 0, 0)
            tot = sum(b)
            bits = []
            for i in range(64):
                lo, hi = (i * L) // 64, ((i + 1) * L) // 64
                bs, bl = sum(b[lo:hi]), hi - lo
                bits.append(1 if bs * L > tot * bl else 0)
            return tuple(
                sum(bits[16 * j + r] << r for r in range(16)) for j in range(4)
            )

        for r in sample:
            ha, hb = ref_bands(bmap[r["id_a"]]), ref_bands(bmap[r["id_b"]])
            hd = sum(bin(ha[t] ^ hb[t]).count("1") for t in range(4))
            assert hd == r["hamming"], (r, hd)
        pairs.unpersist()
        print(f"  {n_pairs} pairs, all {want} designed clique pairs present")
        return (n, n_pairs)

    run(spark, "img 505k banded ahash ", check)
    spark.stop()


def main_cc100x() -> None:
    """Star-contraction stress: connected components of a 5M-node
    CHAIN graph — 100 runs of ~50k consecutive ids (breaks at
    multiples of 50,000), the adversarial shape the operator's
    'contract' mode exists for (min-label propagation would need
    Θ(50k) rounds; contraction closes in ⌈log₂ 50k⌉ ≈ 16 alternating
    rounds, each two skinny (long, long) shuffles + one exact
    fixpoint check). Truth is CLOSED FORM — on a chain the component
    of id is the run head ((id−1) DIV 50000)·50000 + 1 — so every
    one of the ~5M labels is checked exactly in Spark, zero collects.

        PYTHONPATH=/root/repo python tools/scale_stress.py cc100x
    """
    spark = get_session(
        "pipz-scale-stress-cc100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pipz_spark.datapipe import connected_components

    N, RUN = 5_000_000, 50_000
    tmp = tempfile.mkdtemp(prefix="pipz_stress_cc100_")
    edges = (
        spark.range(1, N)
        .where((F.col("id") % RUN != 0) & ((F.col("id") + 1) % RUN != 0))
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    edges.repartition(64).write.mode("overwrite").parquet(f"{tmp}/chain")
    e = spark.read.parquet(f"{tmp}/chain")
    n_edges = e.count()
    print(f"chain edges: {n_edges} ({N} ids, breaks every {RUN})")

    def check() -> tuple:
        got = connected_components(e, algorithm="contract")
        want = F.expr(f"((node - 1) DIV {RUN}) * {RUN} + 1")
        bad = got.where(F.col("component") != want).count()
        total = got.count()
        assert bad == 0, f"{bad} of {total} labels diverge from closed form"
        # node universe = every id with a kept neighbor: each of the
        # (N−1)//RUN + 1 runs holds one more node than it has edges
        assert total == n_edges + (N - 1) // RUN + 1, total
        return (total, bad)

    run(spark, "cc contract 5M chain  ", check)
    spark.stop()


def main_lpa100x() -> None:
    """LPA stress: community detection on a RING OF CLIQUES — 20,000
    cliques of 50 nodes (1M nodes, 24.5M intra-clique pairs + 20k cut
    edges, 49M symmetric edge rows per round), the shape whose
    converged labeling is CLOSED FORM: after 3 synchronous self-vote
    rounds every clique is uniformly labeled by its minimum member —
    round 1 floods each clique with its base (all vote counts are 1,
    MIN tie-break), the one bridge node that transiently adopts its
    lower ring-neighbor's label is outvoted (m−2) : 1 in round 2, and
    round 3 confirms the fixpoint. All 1M labels are checked exactly
    in Spark (zero collects), the cc100x discipline.

        PYTHONPATH=/root/repo python tools/scale_stress.py lpa100x
    """
    spark = get_session(
        "pipz-scale-stress-lpa100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pipz_spark.datapipe import label_propagation

    K, M = 20_000, 50
    tmp = tempfile.mkdtemp(prefix="pipz_stress_lpa100_")
    combos = [(i, j) for i in range(M) for j in range(i + 1, M)]
    cdf = spark.createDataFrame(combos, "i int, j int")
    intra = (
        spark.range(K)
        .crossJoin(F.broadcast(cdf))
        .select(
            (F.col("id") * M + F.col("i")).alias("src"),
            (F.col("id") * M + F.col("j")).alias("dst"),
        )
    )
    bridges = spark.range(K).select(
        (F.col("id") * M + (M - 1)).alias("src"),
        (((F.col("id") + 1) % K) * M).alias("dst"),
    )
    intra.union(bridges).repartition(64).write.mode("overwrite").parquet(
        f"{tmp}/ring"
    )
    e = spark.read.parquet(f"{tmp}/ring")
    n_edges = e.count()
    print(f"ring-of-cliques edges: {n_edges} ({K} cliques x {M})")

    def check() -> tuple:
        got = label_propagation(e, iters=3)
        want = F.expr(f"(node DIV {M}) * {M}")
        bad = got.where(F.col("label") != want).count()
        total = got.count()
        assert bad == 0, f"{bad} of {total} labels diverge from clique base"
        assert total == K * M, total
        return (total, bad)

    run(spark, "lpa 20k cliques x 50   ", check)
    spark.stop()


def main_bfs100x() -> None:
    """BFS stress: hop distances over an 8-layer / 500k-wide layered
    DAG (4M nodes, 10.5M directed edges — each (l, w) points at
    (l+1, (7w+j) mod W) for j in 0..2; 7 is coprime to W so every
    node past layer 0 has in-edges). Seeded with ALL of layer 0, the
    truth is closed form — every edge crosses exactly one layer, so
    hops(node) = its layer index — and all 4M distances are checked
    exactly in Spark after 7 min-plus rounds, zero collects.

        PYTHONPATH=/root/repo python tools/scale_stress.py bfs100x
    """
    spark = get_session(
        "pipz-scale-stress-bfs100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pipz_spark.datapipe import bfs_hops

    L, W = 8, 500_000
    tmp = tempfile.mkdtemp(prefix="pipz_stress_bfs100_")
    base = spark.range((L - 1) * W).select(
        F.expr(f"id DIV {W}").alias("_l"), (F.col("id") % W).alias("_w")
    )
    edges = base.select(
        (F.col("_l") * W + F.col("_w")).alias("src"),
        F.explode(
            F.array(
                *[
                    (F.col("_l") + 1) * W + (F.col("_w") * 7 + F.lit(j)) % W
                    for j in range(3)
                ]
            )
        ).alias("dst"),
    )
    edges.repartition(64).write.mode("overwrite").parquet(f"{tmp}/dag")
    e = spark.read.parquet(f"{tmp}/dag")
    n_edges = e.count()
    print(f"layered-DAG edges: {n_edges} ({L} layers x {W})")
    seeds = spark.range(W).select(F.col("id").alias("node"))

    def check() -> tuple:
        got = bfs_hops(e, seeds, iters=L - 1)
        bad = got.where(F.col("hops") != F.expr(f"node DIV {W}")).count()
        total = got.count()
        assert bad == 0, f"{bad} of {total} distances diverge from layer index"
        assert total == L * W, total
        return (total, bad)

    run(spark, "bfs 8-layer 4M DAG     ", check)
    spark.stop()


def main_kcenter100x() -> None:
    """k-center stress: greedy farthest-point selection over 200k
    8-dim vectors (deterministic integer-derived coordinates), k=8 —
    every selected center AND all 200,000 assignments checked
    BIT-IDENTICAL against a vectorized numpy/python-int replay of
    the exact-integer-distance contract (the pca100x discipline; the
    replay collect is rig-side verification, never operator state —
    the operator itself collects only the 8 selected rows).

        PYTHONPATH=/root/repo python tools/scale_stress.py kcenter100x
    """
    spark = get_session(
        "pipz-scale-stress-kcenter100x", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    import hashlib
    import math

    import numpy as np

    from pipz_spark.datapipe import kcenter_select

    N, D, K, Q = 200_000, 8, 8, 1_000_000_000
    MOD = 1_000_003
    tmp = tempfile.mkdtemp(prefix="pipz_stress_kcenter_")
    vec = F.array(
        *[
            (
                (F.col("id") * 1315423911 + F.lit(d) * 2654435761) % MOD
            ).cast("double")
            / F.lit(float(MOD))
            for d in range(D)
        ]
    )
    spark.range(N).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    ).repartition(32).write.mode("overwrite").parquet(f"{tmp}/vecs")
    corpus = spark.read.parquet(f"{tmp}/vecs")

    ids = np.arange(N, dtype=np.int64)
    X = np.empty((N, D), dtype=np.float64)
    for d in range(D):
        X[:, d] = ((ids * 1315423911 + d * 2654435761) % MOD) / float(MOD)

    def dq_np(c):
        # replay the engine's per-dim floor((x-c)^2*Q + 0.5) exactly:
        # identical IEEE doubles, identical floors, exact int64 sums
        t = X - c[None, :]
        return np.floor(t * t * float(Q) + 0.5).astype(np.int64).sum(axis=1)

    seed = min(
        range(N),
        key=lambda i: (hashlib.md5((str(i) + "kcenter").encode()).hexdigest(), i),
    )
    centers = [seed]
    mind = dq_np(X[seed])
    for _ in range(K - 1):
        far = np.lexsort((ids, -mind))[0]
        centers.append(int(far))
        mind = np.minimum(mind, dq_np(X[far]))
    # assignment: argmin of (distance, center id) — sort columns by
    # center id so argmin's first-occurrence rule IS the tie-break
    csorted = np.array(sorted(centers), dtype=np.int64)
    dall = np.stack([dq_np(X[c]) for c in csorted], axis=1)
    cmin = np.argmin(dall, axis=1)
    want_center = csorted[cmin]
    want_d = dall[ids, cmin]

    def check() -> tuple:
        got = kcenter_select(corpus, k=K)
        truth = spark.createDataFrame(
            __import__("pandas").DataFrame(
                {
                    "vec_id": ids,
                    "w_center": want_center,
                    "w_d": want_d,
                }
            )
        )
        bad = (
            got.join(truth, "vec_id")
            .where(
                (F.col("center_id") != F.col("w_center"))
                | (F.col("d2_q") != F.col("w_d"))
            )
            .count()
        )
        total = got.count()
        assert bad == 0, f"{bad} of {total} assignments diverge from numpy replay"
        assert total == N, total
        return (total, bad)

    run(spark, "kcenter 200k x 8d k=8  ", check)
    # the selected centers themselves, in selection order
    print(f"greedy centers (replay): {centers}")
    spark.stop()


if __name__ == "__main__":
    import sys as _sys

    if "hotbucket" in _sys.argv[1:]:
        main_hotbucket()
    elif "pq100x" in _sys.argv[1:]:
        main_pq100x()
    elif "ann100x" in _sys.argv[1:]:
        main_ann100x()
    elif "rank100x" in _sys.argv[1:]:
        main_rank100x()
    elif "stream100x" in _sys.argv[1:]:
        main_stream100x()
    elif "megabucket" in _sys.argv[1:]:
        _ops = [a for a in _sys.argv[1:] if a in ("bucket", "simhash")]
        main_megabucket(_ops[0] if _ops else None)
    elif "semdedup100x" in _sys.argv[1:]:
        main_semdedup100x()
    elif "kmeans100x" in _sys.argv[1:]:
        main_kmeans100x()
    elif "pagerank100x" in _sys.argv[1:]:
        main_pagerank100x()
    elif "hll100x" in _sys.argv[1:]:
        main_hll100x()
    elif "sketch100x" in _sys.argv[1:]:
        main_sketch100x()
    elif "pca100x" in _sys.argv[1:]:
        main_pca100x()
    elif "graph100x" in _sys.argv[1:]:
        main_graph100x()
    elif "cc100x" in _sys.argv[1:]:
        main_cc100x()
    elif "kll100x" in _sys.argv[1:]:
        main_kll100x()
    elif "mg100x" in _sys.argv[1:]:
        main_mg100x()
    elif "kmv100x" in _sys.argv[1:]:
        main_kmv100x()
    elif "img100x" in _sys.argv[1:]:
        main_img100x()
    elif "lpa100x" in _sys.argv[1:]:
        main_lpa100x()
    elif "bfs100x" in _sys.argv[1:]:
        main_bfs100x()
    elif "kcenter100x" in _sys.argv[1:]:
        main_kcenter100x()
    elif "dedup100x" in _sys.argv[1:]:
        _ops = [
            a for a in _sys.argv[1:] if a in ("jaccard", "cross", "minhash", "line", "text")
        ]
        main_dedup100x(_ops[0] if _ops else None)
    else:
        main()
