"""Property-based tests (hypothesis): invariants of the Either row
model that must hold for ANY predicate/update combination."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from pipz_spark import P, split_failed, split_ok

THRESHOLDS = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False)
FACTORS = st.floats(min_value=-10, max_value=10, allow_nan=False)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(threshold=THRESHOLDS, factor=FACTORS)
def test_split_partitions_input(spark_prop, orders_prop, threshold, factor):
    """ok + failed always partition the input exactly, and failed rows
    never receive updates — for arbitrary predicates and factors."""
    step = P.sequence(
        "flow",
        P.apply("validate", error_when=F.col("o_totalprice") < threshold, message="low"),
        P.transform("scale", {"scaled": F.col("o_totalprice") * factor}),
    )
    out = step(orders_prop)
    n_ok, n_failed = split_ok(out).count(), split_failed(out).count()
    assert n_ok + n_failed == orders_prop.count()
    assert split_failed(out).where(F.col("scaled").isNotNull()).count() == 0


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(t1=THRESHOLDS, t2=THRESHOLDS)
def test_race_totality(spark_prop, orders_prop, t1, t2):
    """race: every row gets a value or an error — never neither —
    whatever the failure predicates are (incl. always/never/NULL)."""
    step = P.race(
        "src",
        [
            P.Attempt("a", {"v": F.lit(1.0)}, fail_when=F.col("o_totalprice") < t1),
            P.Attempt("b", {"v": F.lit(2.0)}, fail_when=F.col("o_totalprice") > t2),
        ],
    )
    out = step(orders_prop)
    ok, failed = split_ok(out), split_failed(out)
    assert ok.count() + failed.count() == orders_prop.count()
    assert ok.where(F.col("v").isNull()).count() == 0


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pts=st.lists(st.integers(min_value=-50, max_value=150), min_size=1, max_size=20),
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=150),
            st.integers(min_value=-50, max_value=150),
        ),
        min_size=1,
        max_size=10,
    ),
    bin_s=st.sampled_from([3, 7, 10, 64]),
    inclusive=st.booleans(),
)
def test_range_join_equals_naive_join(spark_prop, pts, ivs, bin_s, inclusive):
    """For ARBITRARY points, intervals (degenerate ones included),
    bin widths, and end-bound modes — negative/pre-epoch seconds too
    — the binned range join returns exactly the naive inequality
    join's pairs."""
    from pipz_spark.operators.relational import range_join

    left = spark_prop.createDataFrame(
        [(i, s) for i, s in enumerate(pts)], "pid long, sec long"
    ).select("pid", F.timestamp_seconds("sec").alias("ts"))
    right = spark_prop.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(ivs)], "iid long, a long, b long"
    ).select(
        "iid",
        F.timestamp_seconds("a").alias("start"),
        F.timestamp_seconds("b").alias("end"),
    )
    got = {
        (r["pid"], r["iid"])
        for r in range_join(
            left, right, "ts", "start", "end",
            bin_width_us=bin_s * 1_000_000, end_inclusive=inclusive,
        ).collect()
    }
    upper = (
        (left["ts"] <= right["end"]) if inclusive else (left["ts"] < right["end"])
    )
    naive = {
        (r["pid"], r["iid"])
        for r in left.join(right, (left["ts"] >= right["start"]) & upper, "inner").collect()
    }
    assert got == naive


VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(st.text(max_size=24), min_size=1, max_size=8),
    k=st.integers(min_value=1, max_value=6),
)
@example(texts=["", "abc", "abcde", "a\U0001F600b\U0001D518c\U0001F600d", "aaaaaaaa"], k=5)
def test_signature_windows_are_char_shingles(spark_prop, texts, k):
    """The MinHash UDF's windows are ``char_shingles``' shingles for
    any Unicode text: code points (non-BMP included), a text shorter
    than k as one whole-text shingle, "" as one empty shingle. Each
    shingle hashes as a one-window text, so equal hash sets with
    equal distinct counts mean equal window sets."""
    from pipz_spark.datapipe.dedup import _shingle_hashes, char_shingles

    df = spark_prop.createDataFrame(list(enumerate(texts)), "i long, text string")
    rows = df.select("i", char_shingles(F.col("text"), k).alias("sh")).orderBy("i").collect()
    for t, row in zip(texts, rows):
        shingles = set(row["sh"])
        assert shingles == {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}
        got = _shingle_hashes(t, k)
        assert len(got) == len(shingles)
        assert set(got.tolist()) == {int(_shingle_hashes(s, k)[0]) for s in shingles}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(st.text(max_size=24), min_size=2, max_size=8),
    k=st.integers(min_value=1, max_value=6),
)
@example(texts=["", "abc", "abcde", "a\U0001F600b\U0001D518c\U0001F600d", "abcdX", ""], k=5)
def test_pair_text_jaccard_equals_ngram_jaccard(spark_prop, texts, k):
    """The near-dup verify (one Arrow UDF over a candidate's two
    texts) scores every pair exactly as ``ngram_jaccard``'s JVM
    ``char_shingles`` arrays do, after ``quantize4``, for any Unicode
    text: non-BMP code points, texts shorter than k, "". Doc 0's id
    is repeated with a second text, so one batch carries one id with
    two texts and the UDF's per-text memo must keep them apart."""
    from pyspark.sql import functions as F

    from pipz_spark.datapipe import ngram_jaccard, release_caches
    from pipz_spark.datapipe.dedup import _text_jaccard_udf
    from pipz_spark.datapipe.text import quantize4

    rows = list(enumerate(texts)) + [(0, texts[0] + "\U0001F600")]
    docs = spark_prop.createDataFrame(rows, "doc_id long, text string")
    ids = range(len(texts))
    pairs = spark_prop.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
    )
    want = sorted(map(tuple, ngram_jaccard(docs, pairs, shingle_k=k).collect()))
    release_caches()

    def side(s):
        return docs.select(F.col("doc_id").alias(f"id_{s}"), F.col("text").alias(f"_t{s}"))

    jac = quantize4(_text_jaccard_udf(k)(F.col("_ta"), F.col("_tb")))
    got = sorted(
        map(
            tuple,
            pairs.join(side("a"), "id_a").join(side("b"), "id_b")
            .coalesce(1)
            .select("id_a", "id_b", jac.alias("jaccard"))
            .collect(),
        )
    )
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(VOCAB), min_size=1, max_size=12),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.25, 0.5, 0.75]),
)
def test_jaccard_ngram_exhaustive_when_uncapped(spark_prop, docs, threshold):
    """With the df-cap not binding (cap ≥ corpus size), the candidate
    rule "share ≥1 gram" is EXHAUSTIVE for any threshold > 0 (a pair
    with positive Jaccard has a non-empty gram intersection), so
    jaccard_near_dup_pairs must equal the all-pairs brute force —
    pairs AND rounded scores — for arbitrary corpora, short docs
    (below n tokens → whole-text fallback gram) included."""
    from decimal import ROUND_HALF_UP, Decimal

    from pipz_spark.datapipe import jaccard_near_dup_pairs, release_caches

    n = 2
    texts = [" ".join(toks) for toks in docs]
    df = spark_prop.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_near_dup_pairs(
            df, threshold=threshold, n=n, max_doc_freq=len(texts)
        ).collect()
    }
    release_caches()

    def grams(text: str) -> set[str]:
        toks = text.strip().lower().split()
        cnt = max(len(toks) - n + 1, 1)
        return {" ".join(toks[i : i + n]) for i in range(cnt)}

    expect = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            ga, gb = grams(texts[a]), grams(texts[b])
            j = len(ga & gb) / len(ga | gb)
            rj = float(
                Decimal(repr(j)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
            )
            if rj >= threshold:
                expect[(a, b)] = rj
    assert got == expect


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    counts=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=6),
    target=st.sampled_from([0.2, 0.5, 0.8, 1.0]),
)
def test_temperature_resample_rate_invariants(spark_prop, counts, target):
    """For ANY stratum size profile and target fraction: membership is
    deterministic, a stratum's keep rate never exceeds 1.0 (kept ≤
    stratum size), flattening is monotone (a smaller stratum's keep
    RATE is >= a larger one's), and with alpha=0.5 no stratum is
    wiped out (rates are strictly positive)."""
    from pipz_spark.datapipe import temperature_resample
    from pipz_spark import split_ok

    rows = []
    rid = 0
    for s, n in enumerate(counts):
        for _ in range(n):
            rows.append((rid, f"s{s}"))
            rid += 1
    df = spark_prop.createDataFrame(rows, "doc_id long, stratum string")
    step = temperature_resample("t", "doc_id", "stratum", target)
    kept = split_ok(step(df)).groupBy("stratum").count().collect()
    kept_by = {r["stratum"]: r["count"] for r in kept}
    rates = {f"s{s}": kept_by.get(f"s{s}", 0) / n for s, n in enumerate(counts)}
    for s, n in enumerate(counts):
        assert kept_by.get(f"s{s}", 0) <= n
    ordered = sorted(enumerate(counts), key=lambda x: x[1])
    # monotone flattening holds for the TRUE rates; the realized
    # counts wobble by the md5-bucket granularity (±1/10000·n), so
    # compare rates only between strata whose sizes differ enough
    # that bucket noise cannot invert them
    for (sa, na), (sb, nb) in zip(ordered, ordered[1:]):
        if nb >= 2 * na:
            assert rates[f"s{sa}"] >= rates[f"s{sb}"] - 0.15
    # determinism
    kept2 = split_ok(step(df)).groupBy("stratum").count().collect()
    assert {r["stratum"]: r["count"] for r in kept2} == kept_by


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(
            # \n and \t included since r10: trim strips only 0x20, so
            # these exercise the empty-split-cell filter + the rlike
            # blank gate (a '\n'-only doc must vanish, and wrapped
            # whitespace must not mint phantom lines)
            alphabet=st.sampled_from("ab c\n\t"), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=12,
    ),
    line_words=st.integers(min_value=1, max_value=4),
)
def test_line_dedup_invariants(spark_prop, docs, line_words):
    """line_dedup invariants for ANY corpus / line width: (a) every
    distinct normalized line survives exactly once corpus-wide;
    (b) per doc, n_kept + n_dropped = its line count; (c) clean_text
    is exactly the doc's kept lines in original order; (d) the output
    id set equals the non-blank input id set."""
    from pipz_spark.datapipe import line_dedup

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark_prop.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_dropped"])
        for r in line_dedup(df, line_words=line_words).collect()
    }
    # reference: first occurrence in (doc_id, line_idx) order wins
    def lines(t):
        toks = t.strip().split()
        return [
            " ".join(toks[s : s + line_words])
            for s in range(0, max(len(toks), 1), line_words)
        ] if toks else []

    seen: set[str] = set()
    expect = {}
    for i, t in rows:
        if not t.strip():
            continue
        kept = []
        dropped = 0
        for ln in lines(t):
            if ln in seen:
                dropped += 1
            else:
                seen.add(ln)
                kept.append(ln)
        expect[i] = (" ".join(kept), len(kept), dropped)
    assert out == expect


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(alphabet=st.sampled_from("ab c\n"), min_size=0, max_size=40),
        min_size=1,
        max_size=10,
    ),
)
def test_line_dedup_delim_invariants(spark_prop, docs):
    """line_delim mode for ANY corpus: lines are the literal-delimiter
    pieces, 0x20-trimmed, empties dropped; keep-first corpus-wide;
    survivors rejoin with the same delimiter; docs with zero lines
    are absent."""
    from pipz_spark.datapipe import line_dedup

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark_prop.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_dropped"])
        for r in line_dedup(df, line_delim="\n").collect()
    }
    seen: set[str] = set()
    expect = {}
    for i, t in rows:
        # mirror the engine exactly: split on the literal delimiter,
        # strip 0x20 only (Spark trim), drop empties
        ls = [p.strip(" ") for p in t.split("\n") if p.strip(" ")]
        if not ls:
            continue
        kept = []
        dropped = 0
        for ln in ls:
            if ln in seen:
                dropped += 1
            else:
                seen.add(ln)
                kept.append(ln)
        expect[i] = ("\n".join(kept), len(kept), dropped)
    assert out == expect


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(alphabet=st.sampled_from("aB0 .#x7"), min_size=0, max_size=30),
        min_size=1,
        max_size=10,
    ),
)
def test_pretoken_histogram_matches_re(spark_prop, docs):
    """pretoken_histogram must equal a Python re.findall count over
    the same PRETOKEN_PATTERN for ANY text (letters runs, digit runs,
    single symbols; whitespace/control chars never tokenized; NULL
    text contributes nothing) — pins Java-regex/Python-re agreement
    on the exact alternation bpe_train consumes."""
    from collections import Counter

    from pipz_spark.datapipe import pretoken_histogram
    from pipz_spark.datapipe.bpe import _PRETOKEN_RE

    rows = [(i, t) for i, t in enumerate(docs)] + [(10_000, None)]
    df = spark_prop.createDataFrame(rows, "doc_id long, text string")
    got = {r["w"]: r["n"] for r in pretoken_histogram(df).collect()}
    exp = Counter(w for t in docs for w in _PRETOKEN_RE.findall(t))
    assert got == dict(exp)



@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from(["apple", "pear", "kiwi", "fig", "plum"]),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    ),
    k=st.integers(min_value=1, max_value=5),
)
def test_bm25_topk_agrees_with_reference(spark_prop, corpus, k):
    """bm25_topk equals an independent in-test BM25 (same log-free
    rational IDF, decimal-quantized per-term scores) for ANY corpus
    and k: same ranking, same tie-break, same score to 6 decimals."""
    from collections import Counter
    from decimal import Decimal

    from pipz_spark.datapipe import bm25_topk

    rows = [(i, " ".join(ws)) for i, ws in enumerate(corpus)]
    df = spark_prop.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in bm25_topk(df, [(0, "apple fig")], k=k)
        .orderBy("rank")
        .collect()
    ]
    # independent reference
    n_docs = len(rows)
    dls = {i: len(ws) for i, ws in enumerate(corpus)}
    avgdl = sum(dls.values()) / n_docs
    tf = {i: Counter(ws) for i, ws in enumerate(corpus)}
    dfreq = {
        t: sum(1 for ws in tf.values() if ws[t] > 0) for t in ("apple", "fig")
    }
    scores = {}
    for i in tf:
        s = Decimal(0)
        for t in ("apple", "fig"):
            f = tf[i][t]
            if not f:
                continue
            idf = (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
            tsat = (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * (dls[i] / avgdl)))
            s += Decimal(f"{idf * tsat:.6f}")
        if s:
            scores[i] = s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    expect = [
        (0, r + 1, i, float(s)) for r, (i, s) in enumerate(ranked)
    ]
    assert [(q, r, i) for q, r, i, _ in got] == [(q, r, i) for q, r, i, _ in expect]
    for (_, _, _, a), (_, _, _, b) in zip(got, expect):
        assert abs(a - b) < 1e-9, (a, b)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    groups=st.lists(
        st.sampled_from(["en", "en", "en", "de", "zh", None]),  # en-skewed
        min_size=1,
        max_size=60,
    ),
    nparts=st.integers(min_value=1, max_value=8),
)
def test_grouped_rank_matches_window_for_any_skew(spark_prop, groups, nparts):
    """The distributed rank machine equals the window row_number twin
    for ANY group distribution — including all-one-group skew, NULL
    groups, duplicate order keys — at ANY partition count (r11
    verdict ask #7: the null-group equi-join bug was caught by
    inspection; this pins the invariant mechanically)."""
    from pyspark.sql import Window

    from pipz_spark.datapipe import grouped_rank, release_caches

    rows = [(i, g, float((i * 37) % 7)) for i, g in enumerate(groups)]
    df = spark_prop.createDataFrame(rows, "id long, g string, score double")
    w = Window.partitionBy("g").orderBy(F.col("score").desc(), F.col("id"))
    cnt = Window.partitionBy("g")
    want = {
        r["id"]: (r["r"], r["n"])
        for r in df.select(
            "id",
            F.row_number().over(w).alias("r"),
            F.count(F.lit(1)).over(cnt).alias("n"),
        ).collect()
    }
    try:
        got = {
            r["id"]: (r["rank"], r["group_count"])
            for r in grouped_rank(
                df,
                group_cols=["g"],
                order_cols=[F.col("score").desc(), F.col("id")],
                num_partitions=nparts,
            ).collect()
        }
    finally:
        release_caches()
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    fracs=st.lists(
        st.floats(min_value=0.05, max_value=1.0, allow_nan=False),
        min_size=2,
        max_size=4,
    ),
    groups=st.lists(
        st.sampled_from(["en", "en", "de", "zh"]), min_size=4, max_size=50
    ),
)
def test_exact_split_exact_for_any_fractions(spark_prop, fracs, groups):
    """exact_stratified_split delivers floor(cum·n+0.5)-exact per-group
    counts and partitions the input, for ANY normalized fraction set
    and ANY group skew."""
    import math

    from pipz_spark.datapipe import exact_stratified_split, release_caches

    total = sum(fracs)
    fr = {f"s{i}": round(f / total, 10) for i, f in enumerate(fracs)}
    # re-normalize the rounded dict exactly (the operator validates
    # sum ≈ 1; the last label absorbs the rounding residue)
    last = list(fr)[-1]
    fr[last] = round(1.0 - sum(v for k, v in fr.items() if k != last), 10)
    rows = [(i, g) for i, g in enumerate(groups)]
    df = spark_prop.createDataFrame(rows, "doc_id long, lang string")
    try:
        out = exact_stratified_split(df, fr).collect()
    finally:
        release_caches()
    assert len(out) == len(rows)  # partition: nothing dropped or dup'd
    sizes: dict = {}
    got: dict = {}
    for g in groups:
        sizes[g] = sizes.get(g, 0) + 1
    for r in out:
        got[(r["lang"], r["split"])] = got.get((r["lang"], r["split"]), 0) + 1
    labels = list(fr)
    for g, n in sizes.items():
        cum, prev = 0.0, 0
        for lab in labels[:-1]:
            cum = round(cum + fr[lab], 10)
            b = math.floor(cum * n + 0.5)
            assert got.get((g, lab), 0) == b - prev, (g, lab, fr, n)
            prev = b
        assert got.get((g, labels[-1]), 0) == n - prev, (g, fr, n)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    weights=st.lists(
        st.floats(min_value=0.01, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=40,
    ),
    n=st.integers(min_value=1, max_value=12),
    nparts=st.integers(min_value=1, max_value=6),
)
def test_priority_sample_nested_and_partition_invariant(
    spark_prop, weights, n, nparts
):
    """Priority samples nest (top-(n-1) ⊂ top-n — the consistency that
    makes the scheme a SAMPLE, not n independent draws) and the
    selection is invariant to the input partitioning, for ANY positive
    weights."""
    from pipz_spark.datapipe import priority_sample

    rows = [(i, float(w)) for i, w in enumerate(weights)]
    df = spark_prop.createDataFrame(rows, "doc_id long, w double")
    picked = [
        r["doc_id"] for r in priority_sample(df, n, "w", id_col="doc_id").collect()
    ]
    assert len(picked) == min(n, len(rows))
    assert len(set(picked)) == len(picked)  # without replacement
    if n > 1:
        smaller = [
            r["doc_id"]
            for r in priority_sample(df, n - 1, "w", id_col="doc_id").collect()
        ]
        assert smaller == picked[: len(smaller)]  # nested prefix
    again = [
        r["doc_id"]
        for r in priority_sample(
            df.repartition(nparts), n, "w", id_col="doc_id"
        ).collect()
    ]
    assert again == picked


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=64),
        min_size=12,
        max_size=48,
    ),
    k=st.integers(min_value=2, max_value=4),
    iters=st.integers(min_value=0, max_value=2),
)
def test_kmeans_matches_replay_for_any_vectors(spark_prop, vals, k, iters):
    """kmeans_embeddings equals the pure-Python replay of its
    quantized-arithmetic contract for ANY input vectors / k / iters —
    the mechanical guard on the engine-portability construction (the
    grouped_rank property-test pattern)."""
    from test_datapipe import _ref_kmeans

    from pipz_spark.datapipe import kmeans_embeddings

    dims = 3
    n = len(vals) // dims
    ids_vecs = [(i, vals[i * dims : (i + 1) * dims]) for i in range(n)]
    if n < k:
        ids_vecs += [(n + j, [float(j), -1.0, 1.0]) for j in range(k - n)]
    df = spark_prop.createDataFrame(
        [(i, v) for i, v in ids_vecs], "vec_id long, embedding array<double>"
    )
    want = _ref_kmeans(ids_vecs, k=k, iters=iters)
    got = {
        r["vec_id"]: (r["cell"], r["dist_q"])
        for r in kmeans_embeddings(df, k=k, iters=iters).collect()
    }
    assert got == want


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    toks=st.lists(st.integers(min_value=1, max_value=130), min_size=1, max_size=60),
    budget=st.integers(min_value=20, max_value=120),
    shards=st.integers(min_value=1, max_value=5),
)
def test_pack_ffd_matches_replay_for_any_sizes(spark_prop, toks, budget, shards):
    """pack_ffd equals the pure-Python per-shard FFD replay for ANY
    chunk sizes / budget / shard count (r12 verdict ask #7): exact
    assignment equality subsumes capacity (no pack over budget except
    oversize singletons), exactly-once, and shard-local optimality."""
    import hashlib

    from test_datapipe import _ref_ffd

    from pipz_spark.datapipe import pack_ffd

    rows = [(i // 3, i % 3, t) for i, t in enumerate(toks)]
    df = spark_prop.createDataFrame(
        rows, "doc_id long, chunk_id long, n_chunk_tokens long"
    )

    def shard_of(d):
        return (
            int(hashlib.md5((str(d) + "pack").encode()).hexdigest()[8:16], 16)
            % shards
        )

    want = _ref_ffd([(d, c, t, shard_of(d)) for d, c, t in rows], budget)
    got = {
        (r["doc_id"], r["chunk_id"]): (r["shard"], r["pack_id"])
        for r in pack_ffd(df, budget, shards=shards).collect()
    }
    assert got == want
    # capacity invariant, independent of the replay: only oversize
    # singletons may exceed budget
    fills: dict = {}
    toks_by = {(d, c): t for d, c, t in rows}
    members: dict = {}
    for key, pack in got.items():
        fills[pack] = fills.get(pack, 0) + toks_by[key]
        members.setdefault(pack, []).append(key)
    for pack, fill in fills.items():
        assert fill <= budget or (
            len(members[pack]) == 1 and toks_by[members[pack][0]] > budget
        )


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=30
    ),
    iters=st.integers(min_value=0, max_value=3),
)
def test_pagerank_matches_replay_for_any_graph(spark_prop, edges, iters):
    """pagerank equals the pure-Python integer replay for ANY small
    digraph (self-loops, multi-edges, dangling nodes included) and
    any iteration count — the mechanical guard on the fixed-point
    contract (the kmeans/grouped_rank property-test pattern)."""
    from test_datapipe import _ref_pagerank

    from pipz_spark.datapipe import pagerank, release_caches

    pairs = [(f"n{a}", f"n{b}") for a, b in edges]
    df = spark_prop.createDataFrame(pairs, "src string, dst string")
    got = {
        r["node"]: (r["rank_q"], r["outdeg"])
        for r in pagerank(df, iters=iters).collect()
    }
    release_caches()
    assert got == _ref_pagerank(pairs, iters)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=-(10**9), max_value=10**9), max_size=80),
    b=st.sampled_from([4, 8]),
)
def test_hll_matches_replay_for_any_values(spark_prop, vals, b):
    """hll_distinct equals the pure-Python register replay for ANY
    value multiset and register width — estimate, exact harmonic
    integer, and empty-bucket count all bit-equal."""
    from test_datapipe import _ref_hll

    from pipz_spark.datapipe import hll_distinct

    df = spark_prop.createDataFrame([(v,) for v in vals], "v long")
    if not vals:
        df = spark_prop.createDataFrame([], "v long")
    rows = hll_distinct(df, "v", b=b).collect()
    if not vals:
        # a GLOBAL aggregate over zero rows yields one row (SQL
        # semantics); all buckets empty -> linear counting of V=m ->
        # m*ln(1) = exactly 0 distinct
        assert len(rows) == 1 and rows[0]["hll_distinct"] == 0.0
        return
    got = (rows[0]["hll_distinct"], rows[0]["hll_s"], rows[0]["hll_empty"])
    assert got == _ref_hll(vals, b)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=40),
    probes=st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=40),
    n_words=st.integers(min_value=1, max_value=4),
    k=st.integers(min_value=1, max_value=4),
)
def test_bloom_membership_matches_replay_for_any_keys(
    spark_prop, keys, probes, n_words, k
):
    """build_bloom + the membership bit test equal the pure-Python
    bitmap replay for ANY key/probe sets and (tiny) filter geometry —
    tiny filters maximize false positives, so the replay checks the
    FP behavior, not just the happy path."""
    import hashlib

    from pipz_spark.datapipe import build_bloom
    from pyspark.sql import functions as F

    ref = spark_prop.createDataFrame([(str(v),) for v in keys], "g string")
    words = build_bloom(ref, "g", n_words=n_words, k=k)
    m_bits = n_words * 48

    def pos(g, i):
        return (
            int(hashlib.md5((g + "bloom" + str(i)).encode()).hexdigest()[:13], 16)
            % m_bits
        )

    ref_words = [0] * n_words
    for v in set(keys):
        for i in range(k):
            p = pos(str(v), i)
            ref_words[p // 48] |= 1 << (p % 48)
    assert words == ref_words
    # membership replay over the probe set via the same expression
    # pipeline bloom_contamination uses
    pf = spark_prop.createDataFrame([(str(v),) for v in probes], "g string")
    probe = pf.withColumn("_bf", F.lit(words))
    cond = F.lit(True)
    for i in range(k):
        probe = probe.withColumn(
            f"_p{i}",
            F.conv(
                F.substring(F.md5(F.concat(F.col("g"), F.lit("bloom" + str(i)))), 1, 13),
                16,
                10,
            ).cast("long")
            % m_bits,
        )
        cond = cond & F.expr(
            f"(shiftright(element_at(_bf, cast(_p{i} DIV 48 as int) + 1),"
            f" cast(_p{i} % 48 as int)) & 1L) = 1L"
        )
    got = {r["g"] for r in probe.where(cond).collect()}
    want = {
        str(v)
        for v in set(probes)
        if all(
            (ref_words[pos(str(v), i) // 48] >> (pos(str(v), i) % 48)) & 1
            for i in range(k)
        )
    }
    assert got == want


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=64),
        min_size=6,
        max_size=48,
    ),
    iters=st.integers(min_value=0, max_value=3),
)
def test_pca_matches_replay_for_any_vectors(spark_prop, vals, iters):
    """pca_project equals the pure-Python integer replay for ANY
    vectors and iteration count — the mechanical guard on the
    scatter/power-iteration contract (the kmeans property pattern)."""
    from test_datapipe import _ref_pca

    from pipz_spark.datapipe import pca_project

    dims = 3
    n = max(len(vals) // dims, 1)
    pts = [(i, vals[i * dims : (i + 1) * dims] or [0.0, 0.0, 0.0]) for i in range(n)]
    pts = [(i, v if len(v) == dims else (v + [0.0] * dims)[:dims]) for i, v in pts]
    df = spark_prop.createDataFrame(pts, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["pc1_q"], r["pc1"])
        for r in pca_project(df, iters=iters).collect()
    }
    assert got == _ref_pca(pts, iters)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    shared=st.lists(
        st.integers(min_value=0, max_value=30), min_size=0, max_size=5, unique=True
    ),
    train_only=st.lists(
        st.integers(min_value=31, max_value=200), min_size=1, max_size=8, unique=True
    ),
    eval_only=st.lists(
        st.integers(min_value=201, max_value=400), min_size=1, max_size=8, unique=True
    ),
    n_words=st.integers(min_value=1, max_value=4),
    k=st.integers(min_value=1, max_value=3),
)
def test_bloom_contamination_superset_of_exact(
    spark_prop, shared, train_only, eval_only, n_words, k
):
    """r13 verdict ask #7: for ANY train/eval split and ANY (tiny —
    FP-maximizing) filter geometry, bloom_contamination flags a
    SUPERSET of the exact contamination join, and per doc counts at
    least as many grams — false positives only ever over-remove."""
    from pipz_spark.datapipe import bloom_contamination
    from pipz_spark.datapipe.dedup import contamination

    def doc(v):
        return f"alpha{v} beta{v} gamma{v}"

    train = spark_prop.createDataFrame(
        [(v, doc(v)) for v in shared + train_only], "doc_id long, text string"
    )
    eva = spark_prop.createDataFrame(
        [(v, doc(v)) for v in shared + eval_only], "doc_id long, text string"
    )
    exact = {
        r["doc_id"]: r["n_collisions"]
        for r in contamination(train, eva, n=4).collect()
    }
    bloom = {
        r["doc_id"]: r["n_flagged"]
        for r in bloom_contamination(
            train, eva, n=4, n_words=n_words, k=k
        ).collect()
    }
    assert set(exact) <= set(bloom)
    for did, n_coll in exact.items():
        assert bloom[did] >= n_coll


def test_bloom_fp_rate_within_formula_bound(spark_prop):
    """The documented sizing formula — FP rate ≈ (set_bits/m_bits)^k —
    bounds the realized rate on a fully DISJOINT train/eval pair
    (every flag is a false positive). Deterministic: md5 hashing over
    fixed vocabularies, so the factor-2 slack covers the binomial
    deviation once and the test never flakes."""
    from pyspark.sql import functions as F

    from pipz_spark.datapipe import bloom_contamination, build_bloom
    from pipz_spark.datapipe.dedup import word_ngrams

    n_words, k = 64, 3
    train = spark_prop.createDataFrame(
        [(i, f"traintok{i}") for i in range(4000)], "doc_id long, text string"
    )
    eva = spark_prop.createDataFrame(
        [(i, f"evaltok{i}") for i in range(200)], "doc_id long, text string"
    )
    eg = eva.select(F.explode(word_ngrams(F.col("text"), 4)).alias("_g")).distinct()
    words = build_bloom(eg, "_g", n_words=n_words, k=k)
    set_bits = sum(bin(w).count("1") for w in words)
    bound = (set_bits / (n_words * 48)) ** k
    flagged = bloom_contamination(
        train, eva, n=4, n_words=n_words, k=k
    ).count()
    rate = flagged / 4000
    assert rate <= 2 * bound + 1e-9, (rate, bound, set_bits)
    # and the bound is non-vacuous for this geometry: fill ~20%
    assert 0.0 < bound < 0.05


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)),
        min_size=0,
        max_size=30,
    )
)
def test_triangle_count_matches_bruteforce_for_any_graph(spark_prop, edges):
    """triangle_count equals the brute-force replay for ANY small
    multigraph (self-loops and duplicate/reversed edges included)."""
    from test_datapipe import _ref_triangles

    from pipz_spark.datapipe import triangle_count

    pairs = [(str(u), str(v)) for u, v in edges]
    if not pairs:
        return
    df = spark_prop.createDataFrame(pairs, "src string, dst string")
    got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
    assert got == _ref_triangles(pairs)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)),
        min_size=1,
        max_size=25,
    ),
    iters=st.integers(min_value=0, max_value=4),
)
def test_min_labels_match_replay_for_any_graph(spark_prop, edges, iters):
    """propagate_min_labels equals the synchronous replay for ANY
    small graph and iteration count; labels never increase round to
    round (the idempotent-MIN convergence invariant)."""
    from test_datapipe import _ref_minlabels

    from pipz_spark.datapipe import propagate_min_labels

    pairs = [(str(u), str(v)) for u, v in edges]
    df = spark_prop.createDataFrame(pairs, "src string, dst string")
    got = {
        r["node"]: r["label"]
        for r in propagate_min_labels(df, iters=iters).collect()
    }
    assert got == _ref_minlabels(pairs, iters)
    if iters:
        prev = _ref_minlabels(pairs, iters - 1)
        assert all(got[n] <= prev[n] for n in got)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=0,
            max_size=20,
        ),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=1, max_value=4),
    w=st.integers(min_value=1, max_value=5),
)
def test_winnow_matches_replay_for_any_doc(spark_prop, docs, k, w):
    """winnow_fingerprints equals the pure-Python robust-winnowing
    replay for ANY token stream and any (k, w) — tiny vocab maximizes
    repeated grams, stressing the rightmost-tie rule."""
    from test_datapipe import _ref_winnow

    from pipz_spark.datapipe import winnow_fingerprints

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark_prop.createDataFrame(rows, "doc_id long, text string")
    got: dict = {}
    for r in winnow_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["fp_hash"], r["fp_pos"]))
    for i, toks in enumerate(docs):
        text = " ".join(toks)
        if not text.strip():
            assert i not in got
        else:
            assert got[i] == _ref_winnow(text, k=k, w=w), (i, k, w)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=8), st.integers(min_value=0, max_value=8)),
        min_size=1,
        max_size=25,
    ),
    k=st.integers(min_value=1, max_value=4),
    rounds=st.integers(min_value=0, max_value=3),
)
def test_kcore_matches_replay_for_any_graph(spark_prop, edges, k, rounds):
    """kcore_peel equals the synchronous peel replay for ANY small
    graph, k, and round count; survivors shrink monotonically with
    rounds (peeling never adds nodes)."""
    from test_datapipe import _ref_kcore

    from pipz_spark.datapipe import kcore_peel

    pairs = [(str(u), str(v)) for u, v in edges]
    df = spark_prop.createDataFrame(pairs, "src string, dst string")
    got = {
        r["node"]: r["degree"]
        for r in kcore_peel(df, k=k, rounds=rounds).collect()
    }
    assert got == _ref_kcore(pairs, k, rounds)
    if rounds:
        prev = set(_ref_kcore(pairs, k, rounds - 1))
        assert set(got) <= prev


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    supplies=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d", "e", "f"]),
        st.integers(min_value=1, max_value=40),
        min_size=1,
        max_size=6,
    ),
    budget=st.integers(min_value=1, max_value=200),
)
def test_waterfill_matches_replay_for_any_mix(spark_prop, supplies, budget):
    """waterfill_allocation equals the integer max-min replay for ANY
    supply mix and budget, conserves the budget exactly, and never
    allocates above supply."""
    from test_datapipe import _ref_waterfill

    from pipz_spark.datapipe import waterfill_allocation

    rows = [(d,) for d, s in supplies.items() for _ in range(s)]
    df = spark_prop.createDataFrame(rows, "lang string")
    got = {
        r["lang"]: r["allocation"]
        for r in waterfill_allocation(df, budget).collect()
    }
    assert got == _ref_waterfill(supplies, budget)
    assert sum(got.values()) == min(budget, sum(supplies.values()))
    assert all(got[d] <= supplies[d] for d in supplies)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    a_vals=st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=40),
    b_vals=st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=40),
)
def test_hll_overlap_matches_register_replay(spark_prop, a_vals, b_vals):
    """hll_intersect_estimate is ENGINE-EXACT, not just accurate: for
    ANY two value sets, the three estimates equal the pure-Python
    register replay (part registers + max-merged union) and the
    overlap is exactly their IEEE inclusion-exclusion sum."""
    from test_datapipe import _ref_hll

    from pipz_spark.datapipe import hll_intersect_estimate

    rows = [("a", v) for v in a_vals] + [("b", v) for v in b_vals]
    df = spark_prop.createDataFrame(rows, "part string, val long")
    out = hll_intersect_estimate(df, "val", "part", "a", "b", b=8).collect()[0]
    ea = _ref_hll(a_vals, 8)[0]
    eb = _ref_hll(b_vals, 8)[0]
    eu = _ref_hll(list(set(a_vals) | set(b_vals)), 8)[0]
    assert out["hll_a"] == ea
    assert out["hll_b"] == eb
    assert out["hll_union"] == eu
    assert out["hll_overlap"] == ea + eb - eu


def _ref_mg_build(counts: dict, k: int):
    """Pure-Python replay of mg_summary's canonical prune (offset
    row included): subtract the (k+1)-th count, tie (count DESC,
    key ASC)."""
    items = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    t = items[k][1] if len(items) > k else 0
    kept = [(key, c - t, t) for key, c in items[:k] if c > t]
    return kept + [(None, 0, t)]


def _ref_mg_merge(summaries: list, k: int):
    """Pure-Python replay of mg_merge's add-then-prune over intact
    summaries (each a list of (key, est, err) rows incl. offset)."""
    est: dict = {}
    err_in = 0
    for s in summaries:
        err_in += max(e for _, _, e in s)
        for key, c, _ in s:
            if key is not None:
                est[key] = est.get(key, 0) + c
    items = sorted(est.items(), key=lambda kv: (-kv[1], kv[0]))
    t = items[k][1] if len(items) > k else 0
    kept = [(key, c - t, err_in + t) for key, c in items[:k] if c > t]
    return kept + [(None, 0, err_in + t)]


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30)),
        min_size=1,
        max_size=120,
    ),
    k=st.integers(min_value=1, max_value=6),
)
def test_mg_summary_merge_match_replay_for_any_multiset(spark_prop, pairs, k):
    """mg_summary per shard + mg_merge across shards equal the
    pure-Python canonical replay EXACTLY (keys, estimates, offsets,
    the offset row) for ANY multiset and any k — including the
    all-counts-tied shards whose key rows all prune away (the case
    the offset row exists for)."""
    from collections import Counter

    from pipz_spark.datapipe import release_caches
    from pipz_spark.datapipe.sketches import mg_merge, mg_summary

    df = spark_prop.createDataFrame(pairs, "shard int, key long")
    summ = mg_summary(df, "key", k=k, group_cols=["shard"])
    keyfn = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    got_summ = sorted(
        (
            (r["shard"], r["mg_key"], r["mg_est"], r["mg_err"])
            for r in summ.collect()
        ),
        key=keyfn,
    )
    shards = sorted({s for s, _ in pairs})
    ref_by_shard = {
        s: _ref_mg_build(Counter(key for sh, key in pairs if sh == s), k)
        for s in shards
    }
    exp_summ = sorted(
        (
            (s, key, est, err)
            for s, rows in ref_by_shard.items()
            for key, est, err in rows
        ),
        key=keyfn,
    )
    assert got_summ == exp_summ

    merged = mg_merge(summ, k=k, source_cols=["shard"])
    got_m = sorted(
        ((r["mg_key"], r["mg_est"], r["mg_err"]) for r in merged.collect()),
        key=keyfn,
    )
    exp_m = sorted(_ref_mg_merge(list(ref_by_shard.values()), k), key=keyfn)
    release_caches()
    assert got_m == exp_m

    # the MG guarantees on the merged summary: est <= true <= est+err
    # for present keys, absent keys <= err, total offset <= W/(k+1)
    true = Counter(key for _, key in pairs)
    w = sum(true.values())
    err_g = max(e for _, _, e in exp_m)
    assert err_g * (k + 1) <= w
    m = {key: (est, err) for key, est, err in exp_m if key is not None}
    for key, c in true.items():
        if key in m:
            assert m[key][0] <= c <= m[key][0] + m[key][1]
        else:
            assert c <= err_g


def _ref_ahash_bands(payload: bytes):
    """Pure-Python replay of image_ahash's integer construction."""
    L = len(payload)
    if L == 0:
        return (0, 0, 0, 0)
    tot = sum(payload)
    bits = []
    for i in range(64):
        lo, hi = (i * L) // 64, ((i + 1) * L) // 64
        bs, bl = sum(payload[lo:hi]), hi - lo
        bits.append(1 if bs * L > tot * bl else 0)
    return tuple(
        sum(bits[16 * j + r] << r for r in range(16)) for j in range(4)
    )


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    blobs=st.lists(
        st.binary(min_size=0, max_size=200), min_size=1, max_size=12
    ),
    max_hamming=st.integers(min_value=0, max_value=3),
)
def test_image_near_dup_matches_brute_force(spark_prop, blobs, max_hamming):
    """image_ahash equals the byte-level replay for ANY payloads, and
    image_near_dup is EXHAUSTIVE: its banded candidates + xor verify
    return exactly the brute-force Hamming <= d pair set — with
    max_bucket=2 so degenerate all-equal corpora split a hot bucket
    into many chunk cells, not just one in-array cell."""
    from pipz_spark.datapipe import release_caches
    from pipz_spark.datapipe.multimodal import image_ahash, image_near_dup

    rows = [(i, b) for i, b in enumerate(blobs)]
    df = spark_prop.createDataFrame(rows, "doc_id long, blob binary")
    sigs = {
        r["doc_id"]: tuple(r[f"ahash_b{j}"] for j in range(4))
        for r in image_ahash(df).collect()
    }
    exp_sigs = {i: _ref_ahash_bands(b) for i, b in rows}
    assert sigs == exp_sigs

    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in image_near_dup(df, max_hamming=max_hamming, max_bucket=2).collect()
    )
    exp = []
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            h = sum(
                bin(exp_sigs[i][t] ^ exp_sigs[j][t]).count("1")
                for t in range(4)
            )
            if h <= max_hamming:
                exp.append((i, j, h))
    release_caches()
    assert got == exp


def _ref_kmv(vals, k: int, salt: str = "kmv"):
    """Pure-Python replay of kmv_sketch: k smallest distinct 52-bit
    md5 hashes."""
    import hashlib

    hs = sorted(
        {
            int(hashlib.md5((str(v) + salt).encode()).hexdigest()[:13], 16)
            for v in vals
        }
    )
    return hs[:k]


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    a_vals=st.lists(st.integers(min_value=0, max_value=10**6), max_size=60),
    b_vals=st.lists(st.integers(min_value=0, max_value=10**6), max_size=60),
    k=st.integers(min_value=2, max_value=24),
)
def test_kmv_sketch_and_set_estimates_match_replay(spark_prop, a_vals, b_vals, k):
    """kmv_sketch equals the pure-Python bottom-k replay for ANY
    value sets and k; kmv_merge of the two sketches equals the
    sketch of the union; and kmv_set_estimates' four doubles equal
    the replayed class-count arithmetic bit-for-bit (exact mode when
    the combined sample is complete, the single IEEE division
    otherwise)."""
    from pipz_spark.datapipe import release_caches
    from pipz_spark.datapipe.sketches import (
        kmv_merge,
        kmv_set_estimates,
        kmv_sketch,
    )

    def df_of(vals):
        if not vals:
            return spark_prop.createDataFrame([], "v long")
        return spark_prop.createDataFrame([(v,) for v in vals], "v long")

    sa = kmv_sketch(df_of(a_vals), "v", k=k)
    sb = kmv_sketch(df_of(b_vals), "v", k=k)
    got_a = sorted(r["kmv_hash"] for r in sa.collect())
    got_b = sorted(r["kmv_hash"] for r in sb.collect())
    ref_a, ref_b = _ref_kmv(a_vals, k), _ref_kmv(b_vals, k)
    assert got_a == ref_a and got_b == ref_b

    merged = sorted(
        r["kmv_hash"] for r in kmv_merge(sa.unionByName(sb), k=k).collect()
    )
    assert merged == sorted(set(ref_a) | set(ref_b))[:k]

    out = kmv_set_estimates(sa, sb, k=k).collect()[0]
    comb = sorted(set(ref_a) | set(ref_b))[:k]
    m, theta = len(comb), (max(comb) if comb else 0)
    n_int = sum(1 for h in comb if h in set(ref_a) and h in set(ref_b))
    n_ao = sum(1 for h in comb if h in set(ref_a) and h not in set(ref_b))
    n_bo = sum(1 for h in comb if h not in set(ref_a) and h in set(ref_b))

    def ref_scale(n):
        return float(n) if m < k else (n * 2**52) / theta

    assert out["kmv_m"] == m and out["kmv_theta"] == theta
    assert out["kmv_union"] == ref_scale(m)
    assert out["kmv_intersect"] == ref_scale(n_int)
    assert out["kmv_a_only"] == ref_scale(n_ao)
    assert out["kmv_b_only"] == ref_scale(n_bo)
    release_caches()


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=30
    ),
    iters=st.integers(min_value=0, max_value=3),
)
def test_label_propagation_matches_replay_for_any_graph(spark_prop, edges, iters):
    """label_propagation equals the pure-Python replay for ANY small
    graph (self-loops, multi-edges included) and any round count —
    the deterministic-mode-vote contract, mechanically."""
    from test_datapipe import _ref_lpa

    from pipz_spark.datapipe import label_propagation

    pairs = [(f"n{a}", f"n{b}") for a, b in edges]
    df = spark_prop.createDataFrame(pairs, "src string, dst string")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, iters=iters).collect()
    }
    assert got == _ref_lpa(pairs, iters)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=30
    ),
    seeds=st.lists(st.integers(0, 7), min_size=1, max_size=3),
    iters=st.integers(min_value=0, max_value=3),
    symmetric=st.booleans(),
)
def test_bfs_hops_matches_replay_for_any_graph(
    spark_prop, edges, seeds, iters, symmetric
):
    """bfs_hops equals the pure-Python frontier replay for ANY small
    digraph, seed set, direction mode, and round count."""
    from test_datapipe import _ref_bfs

    from pipz_spark.datapipe import bfs_hops

    pairs = [(f"n{a}", f"n{b}") for a, b in edges]
    snames = [f"n{s}" for s in seeds]
    df = spark_prop.createDataFrame(pairs, "src string, dst string")
    sdf = spark_prop.createDataFrame([(s,) for s in snames], "node string")
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(df, sdf, iters=iters, symmetric=symmetric).collect()
    }
    assert got == _ref_bfs(pairs, snames, iters, symmetric)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(
            st.integers(0, 7), st.integers(0, 7), st.integers(-1, 9)
        ),
        min_size=1,
        max_size=30,
    ),
    seeds=st.lists(st.integers(0, 7), min_size=1, max_size=3),
    iters=st.integers(min_value=0, max_value=3),
    symmetric=st.booleans(),
)
def test_sssp_cost_matches_replay_for_any_graph(
    spark_prop, edges, seeds, iters, symmetric
):
    """sssp_cost equals the pure bounded-Bellman-Ford replay for ANY
    small weighted digraph (non-positive weights dropped), seed set,
    direction mode, and round count."""
    from test_datapipe import _ref_sssp

    from pipz_spark.datapipe import sssp_cost

    wedges = [(f"n{a}", f"n{b}", w) for a, b, w in edges]
    snames = [f"n{s}" for s in seeds]
    df = spark_prop.createDataFrame(wedges, "src string, dst string, w long")
    sdf = spark_prop.createDataFrame([(s,) for s in snames], "node string")
    got = {
        r["node"]: r["cost"]
        for r in sssp_cost(df, sdf, iters=iters, symmetric=symmetric).collect()
    }
    assert got == _ref_sssp(wedges, snames, iters, symmetric)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 30),
            st.lists(
                st.floats(-2, 2, allow_nan=False, width=32), min_size=3, max_size=3
            ),
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(min_value=1, max_value=4),
)
def test_kcenter_matches_replay_for_any_points(spark_prop, pts, k):
    """kcenter_select equals the pure-Python greedy replay for ANY
    small point set and k — seed, every greedy pick, and the full
    (center, distance) assignment."""
    from test_datapipe import _ref_kcenter

    from pipz_spark.datapipe import kcenter_select

    rows = [(i, [float(x) for x in v]) for i, v in pts]
    df = spark_prop.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {
        r["vec_id"]: (r["center_id"], r["d2_q"])
        for r in kcenter_select(df, k=k).collect()
    }
    assert got == _ref_kcenter(rows, k)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    cands=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.integers(0, 20),
            st.floats(0, 1, allow_nan=False, width=16),
            st.lists(
                st.floats(-1, 1, allow_nan=False, width=16), min_size=2, max_size=2
            ),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: (t[0], t[1]),
    ),
    k=st.integers(min_value=1, max_value=3),
)
# both sides score 0.10710043749999998 here; rounding the replay's
# 12-place value again to 9 places lands on a tie, so compare at 12
@example(
    cands=[(0, 0, 0.0, [0.0, 0.0]), (1, 0, 0.0, [0.0, 0.0]),
           (2, 0, 0.982421875, [0.3125, 0.375]), (2, 1, 1.0, [0.0, 1.0])],
    k=2,
)
def test_mmr_matches_replay_for_any_candidates(spark_prop, cands, k):
    """mmr_rerank equals the pure-Python greedy replay for ANY small
    candidate set and k (zero-norm rows dropped on both sides)."""
    from test_datapipe import _ref_mmr

    from pipz_spark.datapipe import mmr_rerank

    rows = [
        (q, f"d{i}", float(rel), [float(x) for x in v])
        for q, i, rel, v in cands
    ]
    df = spark_prop.createDataFrame(
        rows, "query_id int, doc_id string, rel double, embedding array<double>"
    )
    live = [r for r in rows if any(x != 0.0 for x in r[3])]
    got = {
        (r["query_id"], r["doc_id"]): (r["mmr_rank"], round(r["mmr"], 12))
        for r in mmr_rerank(df, k=k).collect()
    }
    assert got == _ref_mmr(live, k)
