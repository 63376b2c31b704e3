"""Similarity search over an embedding column (array<float>).

Two paths, per the standard scale playbook:

* ``cosine_topk_bruteforce`` — exact baseline. The (small) query set
  is broadcast against the corpus: a broadcast nested-loop join whose
  cost is |queries| × |corpus| dot products, all inside codegen —
  correct for recall evaluation and for small query batches. The
  corpus is scanned ONCE; there is no shuffled cross join.
* ``cosine_topk_lsh`` — the 100 TB path: random-hyperplane LSH
  (sign-bit signatures from fixed seeded planes) buckets the corpus;
  queries probe only their own bucket (equi-join on the signature),
  so the pair count drops from |Q|·N to |Q|·bucket_size. Recall is
  tunable via ``bits`` (fewer bits → bigger buckets → higher recall).

Dot products are ``zip_with``/``aggregate`` folds in DOUBLE — JVM
expressions, deterministic order, no Python per row.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._util import local_frame


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (broadcast the queries;
    single corpus scan; per-query k via one window on qid). The scan
    takes the fan_out guard like every dense datapipe stage: the
    |Q|·N·dim scoring fold is CPU work that must not serialize on an
    under-split input (an unsplittable single-file corpus fed 95% of
    a 200k-vector scan to one task at the ann100x stress)."""
    from ._util import fan_out

    q = F.broadcast(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv"))
    )
    pairs = fan_out(corpus).select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("_nv")
    ).join(q, F.col("nid") != F.col("qid"))
    scored = pairs.select(
        "qid",
        "nid",
        F.round(cosine_similarity(F.col("_qv"), F.col("_nv")), 6).alias("cos"),
    )
    return _topk(scored, k, dedup=False)


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (numpy on the
    driver only; shipped as literals into the plan)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim).tolist()


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature packed into one BIGINT: bit i = dot(v, p_i) > 0."""
    v = vec.cast("array<double>")
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        pl = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(v, pl) > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(bit)
    return sig


def _table_signatures_df(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    all_planes: list[list[list[float]]],
    keep_vec: bool = False,
) -> DataFrame:
    """(id, table, signature[, vec]) for every vector.

    Dense plane projection is exactly the sanctioned pandas-UDF case:
    an Arrow-batched numpy matmul (batch x dim) @ (dim x tables*bits)
    beats both an expression fold (per-row array allocations) and a
    64-aggregate groupBy (whose Catalyst/codegen PLANNING cost alone
    was ~7s). Per-partition work, no shuffle; the plane matrix ships
    once in the closure.

    ``keep_vec=True`` carries the raw vector alongside each exploded
    signature row — ONE corpus scan for consumers that need vectors
    inside the buckets, instead of a second scan + join back on id.

    Deliberately NOT fan_out-rebalanced: one (n × dim) matmul per
    Arrow batch is microseconds even for a single-split corpus, and
    the bucket shuffle right after this projection already spreads
    the real work (in-bucket scoring) across the cluster — an extra
    repartition here measured strictly slower at sf0.1."""
    import numpy as np

    bits = len(all_planes[0])
    tables = len(all_planes)
    plane_matrix = np.array(
        [p for table in all_planes for p in table], dtype="float64"
    ).T  # (dim, tables*bits)
    weights = (1 << np.arange(bits)).astype("int64")

    @F.pandas_udf("array<bigint>")
    def sig_udf(vs: pd.Series) -> pd.Series:
        V = np.stack(vs.to_numpy()).astype("float64")  # (n, dim)
        signs = (V @ plane_matrix) > 0  # (n, tables*bits)
        sigs = signs.reshape(len(V), tables, bits) @ weights  # (n, tables)
        return pd.Series(list(sigs))

    carry = [F.col(vec_col).alias("_v")] if keep_vec else []
    out = ["_id", F.posexplode("_sigs").alias("_tbl", "_sig")] + (
        ["_v"] if keep_vec else []
    )
    return df.select(
        F.col(id_col).alias("_id"), *carry, sig_udf(F.col(vec_col)).alias("_sigs")
    ).select(*out)


def _id_type(df: DataFrame, id_col: str) -> str:
    """DDL type of the id column, preserved through the in-bucket
    scorers' applyInPandas schemas (string/long/int ids all work —
    numpy object arrays compare elementwise just like numeric ones)."""
    return df.schema[id_col].dataType.simpleString()


def _score_buckets_two_sided(
    bucketed: DataFrame, keys: list[str], id_type: str = "bigint", block_rows: int = 2048
) -> DataFrame:
    """Score every query×corpus pair that shares a bucket, INSIDE the
    bucket: ``bucketed`` is (keys..., _side 'q'|'c', _id, _v); each
    bucket computes Q @ Cᵀ as a blocked numpy matmul and emits skinny
    (qid, nid, cos) rows. The alternative — joining vector payloads
    onto candidate pairs and folding per row — shuffles |pairs| ×
    2·vec-size bytes and was the 10× stress's worst offender (50 s
    max task, 616 MB shuffle for 20k vectors); here vectors cross the
    wire once per bucket membership and pairs travel as 24-byte rows.

    Per-bucket work is |Q_b|·|C_b| dot products — intrinsic to
    candidate verification — blocked at ``block_rows`` so peak memory
    stays bounded; a bucket must fit in one task (same contract as
    embedding_near_dup_pairs: size buckets via bits/nlist)."""
    import numpy as np

    empty = {
        "qid": pd.Series(dtype="object"),
        "nid": pd.Series(dtype="object"),
        "cos": pd.Series(dtype="float64"),
    }

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        qm = pdf["_side"] == "q"
        if not qm.any() or qm.all():
            return pd.DataFrame(empty)
        qdf, cdf = pdf[qm], pdf[~qm]
        qids = qdf["_id"].to_numpy()
        nids = cdf["_id"].to_numpy()
        Q = np.stack(qdf["_v"].to_numpy()).astype("float64")
        C = np.stack(cdf["_v"].to_numpy()).astype("float64")
        # norm clamp (r7 review finding, same guard as the PQ path):
        # a zero embedding (padding / failed encoder) otherwise makes
        # cos = 0/0 = NaN, and NaN sorts ABOVE every real double in
        # the top-k desc window — the zero vector would outrank every
        # true neighbor. Clamped, its cos is 0.0 and it never wins.
        qn = np.maximum(np.sqrt((Q * Q).sum(axis=1)), 1e-30)
        cn = np.maximum(np.sqrt((C * C).sum(axis=1)), 1e-30)
        out_q, out_n, out_c = [], [], []
        for i0 in range(0, len(Q), block_rows):
            Qi = Q[i0 : i0 + block_rows]
            cos = np.round((Qi @ C.T) / np.outer(qn[i0 : i0 + block_rows], cn), 6)
            ii, jj = np.nonzero(qids[i0 : i0 + block_rows, None] != nids[None, :])
            out_q.append(qids[ii + i0])
            out_n.append(nids[jj])
            out_c.append(cos[ii, jj])
        return pd.DataFrame(
            {
                "qid": np.concatenate(out_q),
                "nid": np.concatenate(out_n),
                "cos": np.concatenate(out_c),
            }
        )

    return bucketed.groupBy(*keys).applyInPandas(
        score, f"qid {id_type}, nid {id_type}, cos double"
    )


def _topk(scored: DataFrame, k: int, dedup: bool = True) -> DataFrame:
    """Per-query top-k on (qid, nid, cos) candidates. ``dedup``
    collapses multi-bucket duplicates first; exact paths that score
    each pair exactly once skip the extra shuffle."""
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    if dedup:
        scored = scored.dropDuplicates(["qid", "nid"])
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("qid", "nid", "cos", F.col("_rn").alias("rank"))
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 4,
    tables: int = 16,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE hyperplane LSH: ``tables``
    independent signatures per vector (different seeded planes);
    candidates = pairs agreeing in ANY table; exact cosine + per-query
    top-k on the candidate set only.

    Multi-table probing is what makes hyperplane LSH usable — one
    table at ``bits`` b has per-neighbor recall (1-θ/π)^b, while L
    tables lift it to 1-(1-(1-θ/π)^b)^L. Cost stays |pairs sharing a
    bucket|, never |Q|·N. Corpus and query vectors ride their exploded
    signatures into the bucket shuffle ONCE (one scan per side) and
    pairs are scored inside the buckets as blocked matmuls
    (``_score_buckets_two_sided``) — only skinny (qid, nid, cos) rows
    leave; at 1000 executors the signature pass is embarrassingly
    parallel and the bucket groupBy is the only exchange."""
    if dim is None:
        first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None or first["d"] is None:
            # empty corpus / NULL first embedding: degrade to an empty
            # result like the PQ sibling instead of a TypeError inside
            # the dim probe (r7 review finding)
            id_t = _id_type(corpus, id_col)
            return local_frame(
                corpus.sparkSession, [], f"qid {id_t}, nid {id_t}, cos double, rank int"
            )
        dim = int(first["d"])
    all_planes = [_hyperplanes(dim, bits, seed + t) for t in range(tables)]
    c = _table_signatures_df(corpus, id_col, vec_col, all_planes, keep_vec=True
                             ).withColumn("_side", F.lit("c"))
    q = _table_signatures_df(queries, id_col, vec_col, all_planes, keep_vec=True
                             ).withColumn("_side", F.lit("q"))
    scored = _score_buckets_two_sided(
        c.unionByName(q), ["_tbl", "_sig"], id_type=_id_type(corpus, id_col)
    )
    return _topk(scored, k)


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    train_fraction: float = 0.25,
) -> DataFrame:
    """IVF-style ANN: a k-means coarse quantizer partitions the corpus
    into ``nlist`` cells; each query probes its ``nprobe`` closest
    cells, so scoring touches ~nprobe/nlist of the corpus instead of
    all of it. Candidates come from an equi-join on cell id — the same
    no-cross-join discipline as the LSH path, but with data-adaptive
    buckets (better recall on clustered embeddings).

    100 TB posture: the quantizer trains on a DETERMINISTIC
    content-hash sample (default 25% — a coarse quantizer needs only
    enough points per cell, never the full corpus), and cell
    assignment runs as an Arrow-batched numpy argmax with the
    (nlist × dim) centroid matrix shipped ONCE in the UDF closure —
    at real index sizes (nlist ≥ 4096) embedding centroids as plan
    literals would bloat every plan evaluation; the closure matrix
    keeps the plan size O(1) and the work zero-shuffle."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from .sampling import hash_bucket

    train = corpus
    if train_fraction < 1.0:
        # content-stable sample: same rows regardless of partitioning
        # or cluster size (unlike .sample, which is split-dependent)
        cut = int(round(train_fraction * 10000))
        train = corpus.where(hash_bucket(F.col(id_col), "ivf-train") < cut)
        # degenerate-sample guard (r3 ADVICE): a coarse quantizer
        # needs ~10 points per cell — on a small corpus the hash
        # sample can undershoot nlist and KMeans degenerates/throws.
        # The count scans only the sampled fraction, once, at fit.
        if train.count() < 10 * nlist:
            train = corpus
    # a coarse quantizer doesn't need convergence — 5 Lloyd iterations
    # place centroids well enough for bucketing and cost a fraction of
    # the default 20
    model = KMeans(k=nlist, seed=seed, featuresCol="_feat", maxIter=5).fit(
        train.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("_feat")
        )
    )
    import numpy as np

    centers_m = np.array([c.tolist() for c in model.clusterCenters()], dtype="float64")

    @F.pandas_udf("int")
    def best_cell_udf(vs: pd.Series) -> pd.Series:
        V = np.stack(vs.to_numpy()).astype("float64")  # (n, dim)
        return pd.Series(np.argmax(V @ centers_m.T, axis=1).astype("int32"))

    @F.pandas_udf("array<int>")
    def probe_cells_udf(vs: pd.Series) -> pd.Series:
        V = np.stack(vs.to_numpy()).astype("float64")
        scores = V @ centers_m.T  # (n, nlist)
        # stable sort on negated scores: descending by score, ties by
        # lower cell id — deterministic across runs and partitionings
        order = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32") for row in order])

    # vectors ride their cell assignment into the bucket shuffle once;
    # scoring happens inside each cell as a blocked matmul emitting
    # skinny rows (same shape as the LSH path — see
    # _score_buckets_two_sided)
    c = corpus.select(
        best_cell_udf(F.col(vec_col)).alias("_cell"),
        F.lit("c").alias("_side"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
    )
    q = queries.select(
        F.explode(probe_cells_udf(F.col(vec_col))).alias("_cell"),
        F.lit("q").alias("_side"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
    )
    scored = _score_buckets_two_sided(
        c.unionByName(q), ["_cell"], id_type=_id_type(corpus, id_col)
    )
    return _topk(scored, k)


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    ksub: int = 64,
    shortlist: int = 128,
    seed: int = 42,
    train_rows: int = 1024,
    iters: int = 10,
) -> DataFrame:
    """Product-quantization ANN with exact rerank — the memory-bound
    scale path: PQ compresses each vector to ``m`` one-byte codes
    (64-dim float32 → 8 bytes, 32×), and query scoring becomes ``m``
    table lookups per corpus vector instead of a ``dim``-wide dot
    product. Candidates = per-query approximate top-``shortlist``;
    the final answer reranks ONLY those with exact cosine, so
    correctness degrades gracefully: output = exact top-k whenever
    the shortlist recall holds (tunable via ``shortlist``), and the
    declared-query gate runs at parameters where it provably does.

    Pipeline (all per-partition except two skinny shuffles):
      1. codebooks train on a BOUNDED deterministic sample —
         ``orderBy(content-hash, id).limit(train_rows)`` compiles to
         TakeOrderedAndProject (per-partition top-N + driver merge),
         so the driver materializes ≤ train_rows vectors at ANY
         corpus size. Per-subspace Lloyd iterations run in numpy on
         the driver: codebook training is O(train_rows · ksub · dim)
         — never a cluster-scale job (contrast IVF, whose coarse
         quantizer trains distributed because nlist is large).
      2. queries collect to the driver (small-query-batch contract,
         same as cosine_topk_bruteforce's broadcast) and become an
         ADC lookup tensor LUT[q, j, c] = <q_j, centroid_jc> shipped
         ONCE in the scorer's closure.
      3. one ``mapInPandas`` corpus scan: encode each Arrow batch
         (argmin L2 per subspace), score ALL queries against the
         batch via LUT gathers, keep per-batch partial top-shortlist
         per query → skinny (qid, nid, approx) rows out. No shuffle
         carries vectors.
      4. global per-query top-shortlist (one window over skinny
         partials), then exact rerank: candidates join corpus
         vectors on nid (shuffle of |Q|·shortlist rows), queries
         broadcast, cosine as the same JVM expression the exact path
         uses, per-query top-k.

    Vectors are L2-normalized in float64 before encode/LUT, so ADC
    approximates cosine directly. Ties everywhere break toward the
    lower id (np.argmin / lexsort / window orderBy nid) — output is
    a pure function of the inputs and parameters.
    """
    import numpy as np

    from .sampling import hash_bucket

    if m <= 0 or ksub <= 1:
        raise ValueError("m must be >= 1 and ksub >= 2")

    # --- 1. bounded deterministic training sample -> codebooks
    sample = (
        corpus.select(
            hash_bucket(F.col(id_col), "pq-train").alias("_b"),
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy("_b", "_id")
        .limit(train_rows)
        .collect()
    )
    X = np.array([r["_v"] for r in sample], dtype="float64")
    if X.shape[0] < ksub:
        raise ValueError(
            f"corpus sample ({X.shape[0]} rows) smaller than ksub={ksub}"
        )
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)

    # All m sub-codebooks train JOINTLY: one batched matmul per Lloyd
    # iteration over a (m, n, ksub) distance tensor — m separate
    # skinny matmuls pay ~10× their FLOPs in allocation/dispatch
    # overhead (measured 5s vs 0.3s for m=32, ksub=256).
    P = np.ascontiguousarray(Xn.reshape(-1, m, dsub).transpose(1, 0, 2))  # (m, n, dsub)
    n_train = P.shape[1]
    rng = np.random.RandomState(seed)
    init = np.stack([rng.choice(n_train, ksub, replace=False) for _ in range(m)])
    codebooks = np.stack([P[j, init[j]] for j in range(m)])  # (m, ksub, dsub)
    P_sq = (P * P).sum(axis=2)[:, :, None]  # (m, n, 1)
    for _ in range(iters):
        d2 = (
            P_sq
            + (codebooks * codebooks).sum(axis=2)[:, None, :]
            - 2.0 * (P @ codebooks.transpose(0, 2, 1))
        )  # (m, n, ksub)
        assign = np.argmin(d2, axis=2)  # ties -> lowest centroid id
        for j in range(m):
            sums = np.stack(
                [
                    np.bincount(assign[j], weights=P[j, :, d], minlength=ksub)
                    for d in range(dsub)
                ],
                axis=1,
            )
            counts = np.bincount(assign[j], minlength=ksub)
            nonempty = counts > 0
            codebooks[j, nonempty] = sums[nonempty] / counts[nonempty, None]
            if not nonempty.all():
                # deterministic reseed with DISTINCT points: the k
                # farthest-from-their-centroid points, one per empty
                # slot — a single shared reseed point would make every
                # empty centroid identical, and argmin's lowest-index
                # tie-break would then starve all but one forever
                n_empty = int((~nonempty).sum())
                far = np.argsort(-d2[j].min(axis=1), kind="stable")[:n_empty]
                codebooks[j, ~nonempty] = P[j, far]

    # --- 2. query LUTs (driver-side; |Q| small by contract)
    qrows = sorted(
        queries.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")).collect(),
        key=lambda r: r["_id"],
    )
    if not qrows:
        # degrade to an empty result like the bruteforce/LSH/IVF
        # siblings (their joins yield zero rows naturally); without
        # this, np.linalg.norm(axis=1) on the (0,) query matrix
        # raises AxisError before any Spark job runs (r6 advisor)
        id_t = _id_type(corpus, id_col)
        return local_frame(
            corpus.sparkSession, [], f"qid {id_t}, nid {id_t}, cos double, rank int"
        )
    qids = np.array([r["_id"] for r in qrows])
    Q = np.array([r["_v"] for r in qrows], dtype="float64")
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-30)
    # LUT[q, j, c] = <q_j, codebook[j, c]>
    lut = np.einsum("qjd,jcd->qjc", Qn.reshape(len(Q), m, dsub), codebooks)

    id_type = _id_type(corpus, id_col)
    out_schema = f"qid {id_type}, nid {id_type}, approx double"
    cap = shortlist

    # --- 3. encode + ADC score + per-batch partial top-shortlist
    cb_t = codebooks.transpose(0, 2, 1)  # (m, dsub, ksub)
    cnorm = (codebooks * codebooks).sum(axis=2)  # (m, ksub)

    def score_partition(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            nids = pdf["_id"].to_numpy()
            V = np.stack(pdf["_v"].to_numpy()).astype("float64")
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
            sub = np.ascontiguousarray(
                Vn.reshape(n, m, dsub).transpose(1, 0, 2)
            )  # (m, n, dsub)
            # codes[i, j] = argmin_c ||sub[j,i] - codebook[j,c]||²
            # (||x||² constant per x so argmin is unaffected) and
            # approx[q, i] = Σ_j LUT[q, j, codes[i, j]] — both over
            # MEMORY-BUDGETED chunks of g subspaces at a time. The two
            # endpoints both lose: one (m, n, ksub) distance tensor +
            # one (nq, n, m) fancy-gather churns ~100 MB of
            # temporaries per 6k-row batch and went memory-bound at
            # the 100× stress (18 s/task, r8), while strict per-
            # subspace loops bound memory but lose the batched matmul.
            # g = largest chunk whose distance slab AND gather slab
            # stay under ~4 MB — measured fastest at BOTH batch widths
            # (145 ms vs 157 ms loop / 275 ms 32 MB-chunk at the 100×
            # 6k-row shape; equal at the sf0.1 shape): slabs stay
            # cache-resident per task, and the CONCURRENT footprint
            # (32 tasks × ~12 MB) can never re-create the r8
            # memory-bound cliff, whose 18 s/task came from 32 × ~100
            # MB of temporaries contending for memory bandwidth.
            # Accumulation stays j-sequential inside each chunk, so
            # codes and approx are bit-identical to the loop form.
            budget = 4 << 20
            g = max(
                1,
                min(
                    m,
                    budget // max(1, n * ksub * 8),  # (g, n, ksub) slab
                    budget // max(1, len(qids) * n * 8),  # (nq, n·g) slab
                ),
            )
            codes = np.empty((n, m), dtype=np.int64)
            for j0 in range(0, m, g):
                j1 = min(m, j0 + g)
                d2 = cnorm[j0:j1, None, :] - 2.0 * np.matmul(sub[j0:j1], cb_t[j0:j1])
                codes[:, j0:j1] = np.argmin(d2, axis=2).T
            lutf = lut.reshape(len(qids), m * ksub)
            offs = np.arange(m, dtype=np.int64) * ksub
            approx = np.zeros((len(qids), n))
            for j0 in range(0, m, g):
                j1 = min(m, j0 + g)
                idx = (codes[:, j0:j1] + offs[j0:j1][None, :]).ravel()
                slab = lutf[:, idx].reshape(len(qids), n, j1 - j0)
                for t in range(j1 - j0):
                    approx += slab[:, :, t]
            take = min(cap, n)
            # partial top-take per query; ties -> lower nid (lexsort
            # is stable: secondary key nids, primary -approx)
            order = np.lexsort((nids[None, :].repeat(len(qids), 0), -approx), axis=1)[
                :, :take
            ]
            yield pd.DataFrame(
                {
                    "qid": np.repeat(qids, take),
                    "nid": nids[order].ravel(),
                    "approx": np.take_along_axis(approx, order, axis=1).ravel(),
                }
            )

    # UNLIKE the signature UDFs (one matmul per batch — not worth a
    # shuffle), the ADC scan does real per-row work: encode + an
    # (nq × n) LUT gather + per-query partial sort. A small corpus
    # arriving as 1-3 file splits serializes that on as many cores
    # (measured 4.6 s max task at 20k vectors / 3 splits → ~0.5 s
    # fanned out); at real scale the scan has thousands of splits and
    # fan_out is a no-op.
    from ._util import fan_out

    partials = fan_out(
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    ).mapInPandas(score_partition, out_schema)

    # --- 4. global shortlist + exact rerank
    w = Window.partitionBy("qid").orderBy(F.col("approx").desc(), F.col("nid"))
    cand = (
        partials.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") <= cap) & (F.col("qid") != F.col("nid")))
        .select("qid", "nid")
    )
    cvec = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("_nv"))
    qvec = F.broadcast(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv"))
    )
    scored = (
        cand.join(cvec, "nid")
        .join(qvec, "qid")
        .select(
            "qid",
            "nid",
            F.round(cosine_similarity(F.col("_qv"), F.col("_nv")), 6).alias("cos"),
        )
    )
    return _topk(scored, k, dedup=False)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    block_rows: int = 2048,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the semantic-dedup
    companion to MinHash): multi-table hyperplane buckets generate
    candidates, exact cosine filters at ``threshold``. High thresholds
    are exactly where hyperplane LSH shines — near-identical vectors
    collide in almost every table, so the defaults use FINE buckets
    (8 bits → 256 cells/table: recall ~0.97 at cos 0.95 with 8
    tables, while the pair count per table stays ~n²/256). For
    mid-range thresholds lower ``bits`` (coarser cells, more
    candidates).

    Execution shape — scored INSIDE the bucket, not via pair
    join-back. Vectors co-shuffle with their (table, signature) keys
    once (~vec-size × tables bytes/row), then each bucket computes its
    intra-bucket cosine matrix as a blocked numpy matmul and emits
    ONLY the pairs at/above threshold; a final dropDuplicates
    collapses multi-table hits of the survivors. Versus the skinny-
    pair + groupBy + vector-join-back plan this removes the
    candidate-pair shuffle and the per-pair payload join entirely —
    measured 14.3s → ~1.1s on a 2M-candidate corner (2k vectors,
    exhaustive-recall parameters), identical output.

    100 TB posture: per-bucket work is Σ b² dot products — intrinsic
    to in-bucket verification in ANY plan shape — and a whole bucket
    must fit in one task (vec-size × b bytes; the matmul itself is
    blocked at ``block_rows`` so peak memory stays
    block_rows × b × 8 B). Choose ``bits`` so the expected bucket
    size n/2^bits stays ≤ ~10k rows; at n = 1e9 that means
    bits ≥ 17, where the per-table pair count n²/2^bits is also what
    keeps LSH sub-quadratic. Skewed (hot) buckets split across tasks
    only via AQE skew handling of the groupBy shuffle; a pathological
    single hot bucket is the same failure mode as a hot LSH band in
    ``near_dup_pairs`` and argues for more bits, not a bigger task.

    The cosine agrees with the expression/oracle form at the
    6-decimal round in all but measure-zero cases: float32 → float64
    widening is exact and num/den are float64, but numpy's blocked
    matmul sums in a different order (pairwise/SIMD) than the SQL
    left-fold, so a dot product landing within ~1 ulp of a 5e-7
    rounding boundary could round differently — triage a future
    oracle mismatch here before suspecting the bucketing."""
    import numpy as np

    if dim is None:
        first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None or first["d"] is None:
            # empty corpus: no pairs, by construction (r7 review)
            id_t = _id_type(corpus, id_col)
            return local_frame(
                corpus.sparkSession, [], f"id_a {id_t}, id_b {id_t}, cos double"
            )
        dim = int(first["d"])
    all_planes = [_hyperplanes(dim, bits, seed + t) for t in range(tables)]
    # one corpus scan: the vector rides along with its exploded
    # signatures straight into the bucket shuffle (which must carry
    # the payload in any design — the join-back it replaces paid the
    # same shuffle plus a second scan and a build side)
    bucketed = _table_signatures_df(corpus, id_col, vec_col, all_planes, keep_vec=True)

    id_type = _id_type(corpus, id_col)
    empty = {
        "id_a": pd.Series(dtype="object"),
        "id_b": pd.Series(dtype="object"),
        "cos": pd.Series(dtype="float64"),
    }

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(empty)
        ids = pdf["_id"].to_numpy()
        V = np.stack(pdf["_v"].to_numpy()).astype("float64")
        # same zero-norm clamp as the query/corpus scorer: NaN would
        # satisfy no threshold but poison cos >= threshold via numpy
        # warnings; clamped, a zero vector scores 0 against everything
        norms = np.maximum(np.sqrt((V * V).sum(axis=1)), 1e-30)
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, n, block_rows):
            Vi = V[i0 : i0 + block_rows]
            cos = np.round(
                (Vi @ V.T) / np.outer(norms[i0 : i0 + block_rows], norms), 6
            )
            ii, jj = np.nonzero(cos >= threshold)
            gi = ii + i0
            keep = ids[gi] < ids[jj]
            out_a.append(ids[gi][keep])
            out_b.append(ids[jj][keep])
            out_c.append(cos[ii, jj][keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    return (
        bucketed.groupBy("_tbl", "_sig")
        .applyInPandas(score_bucket, f"id_a {id_type}, id_b {id_type}, cos double")
        .dropDuplicates(["id_a", "id_b"])
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication over an
    embedding column — group vectors whose cosine exceeds
    ``threshold`` into duplicate clusters and keep ONE representative
    per cluster. The published recipe clusters first (k-means) and
    dedups within cells purely to bound the pair search; here the
    multi-table hyperplane buckets of ``embedding_near_dup_pairs``
    play that role (same sub-quadratic candidate bound, and recall is
    a declared dial instead of a cell-boundary artifact — two near-
    identical vectors straddling a k-means boundary are simply missed
    by the paper's form, while multi-table LSH still buckets them
    together in some table).

    Returns (id, cluster_id, is_keeper) for EVERY corpus row —
    ``dedup_clusters``' contract, built from the same transitive
    closure + canonical-keeper machine (components of the pair graph,
    min-id representative). Filter ``is_keeper`` for the deduped
    corpus. 100 TB posture: candidate generation is bucketed
    (no cross join), closure shuffles only skinny (long, long) label
    rows, and the keeper election is a groupBy — every stage the
    text-side cluster dedup already stress-proved."""
    from .dedup import dedup_clusters

    pairs = embedding_near_dup_pairs(
        corpus,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        bits=bits,
        tables=tables,
        seed=seed,
    )
    return dedup_clusters(corpus, pairs=pairs, id_col=id_col)


_INDEX_META_KEYS = ("pipz_lsh_bits", "pipz_lsh_tables", "pipz_lsh_seed", "pipz_lsh_dim")


def embedding_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Reusable LSH index over an embedding corpus — the vector-side
    analog of ``banded_signatures``' stored-index contract. Returns
    (_id, _tbl, _sig, _v): each vector's multi-table hyperplane
    signatures WITH the vector riding along, i.e. exactly the bucket-
    shuffle input the scorers consume — persist or parquet it once
    and every incremental batch skips re-projecting the corpus.

    The LSH family parameters (bits/tables/seed/dim) ARE the index's
    identity: a batch signed with a different family collides on
    nothing. They're pinned into the ``_sig`` column's schema metadata
    (zero storage cost, survives parquet round-trips), and
    ``cross_embedding_pairs`` adopts + enforces them from there.
    """
    if dim is None:
        first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None or first["d"] is None:
            raise ValueError(
                "embedding_index: empty corpus (or NULL first embedding) — "
                "pass dim= explicitly to build an empty index"
            )
        dim = int(first["d"])
    all_planes = [_hyperplanes(dim, bits, seed + t) for t in range(tables)]
    out = _table_signatures_df(corpus, id_col, vec_col, all_planes, keep_vec=True)
    meta = dict(zip(_INDEX_META_KEYS, (bits, tables, seed, dim)))
    return out.select(
        "_id", "_tbl", F.col("_sig").alias("_sig", metadata=meta), "_v"
    )


def cross_embedding_pairs(
    new: DataFrame,
    ref: DataFrame | None = None,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int | None = None,
    tables: int | None = None,
    seed: int | None = None,
    dim: int | None = None,
    ref_index: DataFrame | None = None,
    block_rows: int = 2048,
) -> DataFrame:
    """Incremental-crawl SEMANTIC dedup: which NEW embeddings are
    within cosine ``threshold`` of any REFERENCE embedding — the
    vector mirror of ``cross_near_dup_pairs``. Returns
    (new_id, ref_id, cos) with cos >= threshold; strictly cross —
    the batch is never paired against itself, nor the corpus against
    itself. A pair whose two sides share an id value is suppressed
    (the same item re-observed, not a duplicate); use distinct id
    spaces if re-embedded items must still pair.

    Pass ``ref_index`` — a persisted ``embedding_index`` frame — to
    skip re-projecting the corpus every batch; the family parameters
    travel in the index's schema metadata and the new batch is signed
    with THE SAME family automatically. bits/tables/seed default to
    ``None`` = "adopt the index family, else 8/8/42", so an
    EXPLICITLY passed value — including one equal to the old default,
    e.g. ``bits=8`` against a ``bits=3`` index (r8 advisor) — that
    disagrees with the stored family always raises: a mismatched
    family would collide on nothing and silently return empty. The
    index is used as the caller owns it: never
    persisted or cache-tracked here, so ``release_caches()`` between
    batches cannot unpersist it.

    Execution shape: one Arrow-batched projection over the (small)
    batch, union with the index rows, ONE bucket shuffle, in-bucket
    blocked matmuls emitting skinny (new_id, ref_id, cos) rows
    (``_score_buckets_two_sided``), dropDuplicates over multi-table
    hits, threshold cut. At 100 TB the corpus-side shuffle is the
    index scan itself — no signature recompute, no pair join-back.
    """
    if (ref is None) == (ref_index is None):
        raise ValueError(
            "cross_embedding_pairs: pass exactly one of ref= or ref_index="
        )
    if ref_index is not None:
        meta = ref_index.schema["_sig"].metadata or {}
        if all(k in meta for k in _INDEX_META_KEYS):
            ib, it, isd, idim = (int(meta[k]) for k in _INDEX_META_KEYS)
            # None = defaulted (adopt the index family); anything the
            # caller actually passed — even a value equal to the old
            # 8/8/42 defaults — must agree with the stored family
            given = dict(zip(("bits", "tables", "seed", "dim"),
                             (bits, tables, seed, dim)))
            stored = dict(zip(("bits", "tables", "seed", "dim"),
                              (ib, it, isd, idim)))
            clash = [k for k, v in given.items()
                     if v is not None and v != stored[k]]
            if clash:
                raise ValueError(
                    f"cross_embedding_pairs: {clash} disagree with the "
                    f"index's stored family {stored} — a mismatched LSH "
                    "family collides on nothing"
                )
            bits, tables, seed, dim = ib, it, isd, idim
        # metadata stripped (e.g. the frame went through a transform):
        # fall back to the caller's explicit parameters — the contract
        # is then the caller's to uphold, as with ref_sigs width checks
        bits = 8 if bits is None else bits
        tables = 8 if tables is None else tables
        seed = 42 if seed is None else seed
        if dim is None:
            first = new.select(F.size(F.col(vec_col)).alias("d")).first()
            if first is None or first["d"] is None:
                id_t = _id_type(new, id_col)
                return local_frame(
                    new.sparkSession, [], f"new_id {id_t}, ref_id {id_t}, cos double"
                )
            dim = int(first["d"])
        c_side = ref_index.withColumn("_side", F.lit("c"))
        id_type = _id_type(new, id_col)
    else:
        bits = 8 if bits is None else bits
        tables = 8 if tables is None else tables
        seed = 42 if seed is None else seed
        if dim is None:
            first = ref.select(F.size(F.col(vec_col)).alias("d")).first()
            if first is None or first["d"] is None:
                id_t = _id_type(new, id_col)
                return local_frame(
                    new.sparkSession, [], f"new_id {id_t}, ref_id {id_t}, cos double"
                )
            dim = int(first["d"])
        planes = [_hyperplanes(dim, bits, seed + t) for t in range(tables)]
        c_side = _table_signatures_df(
            ref, id_col, vec_col, planes, keep_vec=True
        ).withColumn("_side", F.lit("c"))
        id_type = _id_type(ref, id_col)
    all_planes = [_hyperplanes(dim, bits, seed + t) for t in range(tables)]
    q_side = _table_signatures_df(
        new, id_col, vec_col, all_planes, keep_vec=True
    ).withColumn("_side", F.lit("q"))
    scored = _score_buckets_two_sided(
        q_side.unionByName(c_side.select(*q_side.columns)),
        ["_tbl", "_sig"],
        id_type=id_type,
        block_rows=block_rows,
    )
    return (
        scored.dropDuplicates(["qid", "nid"])
        .where(F.col("cos") >= threshold)
        .select(
            F.col("qid").alias("new_id"),
            F.col("nid").alias("ref_id"),
            "cos",
        )
    )


__all__ = [
    "cosine_similarity",
    "cosine_topk_bruteforce",
    "cosine_topk_ivf",
    "cosine_topk_lsh",
    "cosine_topk_pq",
    "cross_embedding_pairs",
    "embedding_index",
    "embedding_near_dup_pairs",
    "lsh_signature",
    "semantic_dedup",
]
