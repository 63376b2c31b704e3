"""Real merge-table BPE tokenization (byte-pair encoding).

``regex_token_count`` approximates tokenizer counts; training
pipelines budget in REAL BPE tokens. This module applies a pinned
merge table (``bpe_merges.txt``, trained once by
``tools/train_bpe.py`` with classic Sennrich-style BPE and checked
in) with the canonical GPT-2-style application loop: pre-tokenize,
then within each pre-token repeatedly merge the lowest-rank adjacent
pair present, leftmost-first, until no ranked pair remains.

Semantics pinned for cross-engine reproducibility:

* Pre-tokenizer: maximal runs of ``[A-Za-z]+`` or ``[0-9]+``, else a
  single non-alphanumeric character — a deliberately RE2-safe subset
  of GPT-2's pre-tokenizer (no lookahead, no unicode property
  classes), identical under Python ``re`` and DuckDB RE2. Space and
  ALL C0 control characters (``\\x00``-``\\x1f``, a superset of the
  repo's pinned whitespace class) are separators, never tokens: text
  controls are noise, and excluding them is also what guarantees the
  oracle's ``\\x02``/``\\x03`` token markers can never collide with
  document bytes (r8 review — a literal STX in a document previously
  double-counted in the oracle's marker arithmetic).
* No end-of-word marker: merges never span pre-token boundaries, and
  a word's encoding depends only on the word itself.
* ``bpe_token_hash`` = md5 of the document's full token stream joined
  by ``\\x01`` — an EXACT segmentation witness, not just a count, so
  the oracle gate proves token-for-token equality.

Application-order equivalence the SQL oracle relies on: a merge list
learned by BPE training is WELL-FORMED (each merge's two symbols are
base characters or products of strictly earlier merges), therefore a
later merge can never create an occurrence of an earlier pair — so
applying merges ONE AT A TIME IN RANK ORDER yields the same
segmentation as the lowest-rank-first loop used here. The DuckDB
oracle (``oracle_suite/bpe.py``) replays the rank-ordered form as a
recursive-CTE ``replace`` chain over distinct words; equivalence is
property-tested in tests/test_datapipe.py.

Scale shape (100 TB): Arrow-batched pandas UDF (the sanctioned
dense-work case — per-word dynamic programming has no Column-
expression form), one corpus scan, zero shuffles. Word→tokens results
memoize in a per-executor cache (hit rate ≈ 1 - distinct_words/words
under Zipfian text; capped so adversarial all-unique corpora cannot
grow it unboundedly).
"""

from __future__ import annotations

import hashlib
import os
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.errors import is_ok
from ..core.step import Step

#: RE2-safe pre-tokenizer (see module docstring). The escape-form
#: range parses identically under Python re and RE2; the class
#: excludes space + all C0 controls (superset of the pinned
#: whitespace set), so no control byte can ever become a token.
PRETOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \x00-\x1f]"

DEFAULT_MERGES_PATH = os.path.join(os.path.dirname(__file__), "bpe_merges.txt")

#: Memoized word→tokens entries per executor before falling back to
#: uncached encoding (bounds worker memory on all-unique corpora).
_CACHE_CAP = 1 << 20

_PRETOKEN_RE = re.compile(PRETOKEN_PATTERN)


def load_merges(path: str | None = None) -> tuple[tuple[str, str], ...]:
    """Read a merges file (``a b`` per line) into the rank-ordered
    pair list. The default is the checked-in fixture. Only
    ``#version``-prefixed lines are comments (GPT-2 merges
    convention): ``#`` is itself a legitimate token, so a bare-``#``
    comment rule would silently swallow a trained ``# #`` merge and
    shift every later rank (r8 review)."""
    merges: list[tuple[str, str]] = []
    with open(path or DEFAULT_MERGES_PATH, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#version"):
                continue
            a, sep, b = line.partition(" ")
            if not sep or not a or not b:
                raise ValueError(f"malformed merges line: {line!r}")
            merges.append((a, b))
    return tuple(merges)


def train_merges(
    freq: dict[str, int], n_merges: int
) -> list[tuple[str, str]]:
    """Classic Sennrich-style BPE training over a word-frequency
    histogram: start from per-character segmentations, repeatedly
    merge the most frequent adjacent pair (ties break on the
    lexicographically smallest pair — fully deterministic), stop
    early when no pair occurs twice. The single shared implementation
    behind both ``tools/train_bpe.py`` (the checked-in fixture) and
    the distributed ``bpe_train`` below; the learned list is
    WELL-FORMED by construction (each merge's symbols are base
    characters or products of strictly earlier merges), the property
    the SQL oracle's rank-ordered replay depends on.

    Incremental, not recount-the-world: pair counts update only for
    the words the chosen merge touches (a pair→words inverted index
    names them), and the argmax is a lazy max-heap keyed on
    ``(-count, pair)`` — stale entries (the pair's count changed
    after push) are discarded on pop by checking against the live
    count. Total cost is O(Σ|touched words| · log) across all merges
    instead of O(n_merges × Σ|w|) full rescans — the difference
    between minutes and days at the 10⁶-10⁷-word vocabularies
    ``bpe_train`` targets. Output is IDENTICAL to the naive loop
    (same argmax key, same application), pinned by the fixture and
    hand-example tests."""
    import collections
    import heapq

    segs = {w: tuple(w) for w in freq}
    counts: collections.Counter[tuple[str, str]] = collections.Counter()
    where: dict[tuple[str, str], set[str]] = collections.defaultdict(set)
    for w, toks in segs.items():
        n = freq[w]
        for pair in zip(toks, toks[1:]):
            counts[pair] += n
            where[pair].add(w)
    heap = [(-c, p) for p, c in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negc, best = heapq.heappop(heap)
        live = counts.get(best, 0)
        if live != -negc:
            continue  # stale: the count moved after this entry was pushed
        if live < 2:
            break  # the true maximum is below the threshold — done
        merges.append(best)
        merged = best[0] + best[1]
        for w in list(where.get(best, ())):
            toks = segs[w]
            n = freq[w]
            # retract the word's old pair contributions...
            for pair in zip(toks, toks[1:]):
                c = counts[pair] - n
                if c > 0:
                    counts[pair] = c
                    heapq.heappush(heap, (-c, pair))
                else:
                    del counts[pair]
                where[pair].discard(w)
            # ...apply the merge (leftmost-first, all occurrences)...
            out: list[str] = []
            i = 0
            while i < len(toks):
                if i < len(toks) - 1 and (toks[i], toks[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            segs[w] = tuple(out)
            # ...and add the new contributions
            for pair in zip(out, out[1:]):
                c = counts[pair] + n
                counts[pair] = c
                heapq.heappush(heap, (-c, pair))
                where[pair].add(w)
    return merges


def pretoken_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The corpus-sized half of ``bpe_train``, exposed as a frame:
    one (pre-token → count) histogram over the ``PRETOKEN_PATTERN``
    stream. This groupBy is the ONLY shuffle BPE training pays — it
    carries (word, count) rows, map-side combining folds each
    partition's occurrences to one row per distinct word before the
    exchange, and the result's cardinality is the corpus's distinct
    pre-token vocabulary (Heaps'-law sublinear in corpus size).
    Exposed so the shuffle that feeds training sits under the same
    declared-query/oracle gate as every other corpus-sized stage
    (``dp_pretoken_hist``)."""
    from ._util import fan_out

    return (
        fan_out(df)
        .select(
            F.explode(
                F.regexp_extract_all(
                    F.coalesce(F.col(text_col), F.lit("")),
                    F.lit(PRETOKEN_PATTERN),
                    F.lit(0),
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def pretoken_topk(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Top-``k`` pre-tokens by corpus count — (rank, w, n), rank 1..k
    by (count DESC, word ASC). The audit view of ``bpe_train``'s
    input: the head of this report is what the first merges will be
    built from. Same scale shape as ``top_ngrams``: partial-agg
    histogram → TakeOrdered k-row heaps → k-row rank window."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    return (
        pretoken_histogram(df, text_col)
        .orderBy(F.col("n").desc(), F.col("w"))
        .limit(k)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("w")))
            .cast("int")
            .alias("rank"),
            "w",
            "n",
        )
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 160,
    max_vocab: int = 5_000_000,
) -> list[tuple[str, str]]:
    """Train a BPE merge table on a corpus — the producer half of the
    module (``bpe_tokens_df`` is the consumer): one distributed
    pre-token histogram, then the exact ``train_merges`` loop over it.

    This is the production shape for web-scale BPE training: the
    corpus-sized work is ONE map-side-combining groupBy over the
    pre-token stream (the only shuffle, carrying (word, count) rows),
    and everything after runs on the histogram, whose size is the
    corpus's DISTINCT pre-token vocabulary — Heaps'-law bounded
    (sublinear in corpus size; web-scale corpora have ~10⁶-10⁷
    distinct pre-tokens under this alphabetic pre-tokenizer, not
    corpus-sized), which is why every practical BPE trainer reduces to
    a histogram before merging. ``max_vocab`` makes the driver bound
    EXPLICIT: the collect is capped, and a vocabulary over the cap
    raises (pre-filter the corpus or raise the cap) rather than
    silently truncating — a dropped rare word would change trained
    ranks invisibly.

    Deterministic end-to-end: exact integer counts, lexicographic tie
    break; ``bpe_train`` on the sf0.001 fixture byte-reproduces the
    checked-in ``bpe_merges.txt`` (pinned by test)."""
    if n_merges < 0:
        raise ValueError(f"need n_merges >= 0, got {n_merges}")
    rows = pretoken_histogram(df, text_col).limit(max_vocab + 1).collect()
    if len(rows) > max_vocab:
        raise ValueError(
            f"distinct pre-token vocabulary exceeds max_vocab={max_vocab}; "
            "raise the cap or pre-filter the corpus — silently truncating "
            "the histogram would invisibly change trained merge ranks"
        )
    return train_merges({r["w"]: r["n"] for r in rows}, n_merges)


def save_merges(merges: list[tuple[str, str]], path: str, note: str = "") -> None:
    """Write a merge table in the ``load_merges`` file format (one
    ``a b`` pair per line, ``#version`` header)."""
    with open(path, "w", encoding="utf-8") as f:
        f.write(f"#version: pipz-bpe 1 ({note or f'{len(merges)} merges'})\n")
        for a, b in merges:
            f.write(f"{a} {b}\n")


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> tuple[str, ...]:
    """Canonical BPE application: merge the lowest-rank adjacent pair
    present (all its occurrences, leftmost-first) until none remains."""
    toks: tuple[str, ...] = tuple(word)
    while len(toks) > 1:
        best = None
        best_rank = len(ranks)
        for pair in zip(toks, toks[1:]):
            r = ranks.get(pair)
            if r is not None and r < best_rank:
                best, best_rank = pair, r
        if best is None:
            break
        merged = best[0] + best[1]
        out: list[str] = []
        i = 0
        while i < len(toks):
            if i < len(toks) - 1 and (toks[i], toks[i + 1]) == best:
                out.append(merged)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = tuple(out)
    return toks


def encode_text(
    text: str | None,
    ranks: dict[tuple[str, str], int],
    cache: dict[str, tuple[str, ...]] | None = None,
) -> list[str]:
    """Pre-tokenize + BPE-encode a document into its token stream."""
    if not text:
        return []
    out: list[str] = []
    for word in _PRETOKEN_RE.findall(text):
        toks = cache.get(word) if cache is not None else None
        if toks is None:
            toks = encode_word(word, ranks)
            if cache is not None and len(cache) < _CACHE_CAP:
                cache[word] = toks
        out.extend(toks)
    return out


# per-executor memo, keyed by merges identity (merges files are tiny;
# a worker serving two merge tables keeps two entries)
_WORD_CACHES: dict[tuple[tuple[str, str], ...], dict[str, tuple[str, ...]]] = {}


def _bpe_struct_udf(merges: tuple[tuple[str, str], ...]):
    ranks = {p: i for i, p in enumerate(merges)}

    @F.pandas_udf("n_bpe_tokens bigint, bpe_token_hash string")
    def bpe_udf(texts: pd.Series) -> pd.DataFrame:
        cache = _WORD_CACHES.setdefault(merges, {})
        counts: list[int] = []
        hashes: list[str] = []
        for text in texts:
            toks = encode_text(text, ranks, cache)
            counts.append(len(toks))
            hashes.append(
                hashlib.md5("\x01".join(toks).encode("utf-8")).hexdigest()
            )
        return pd.DataFrame({"n_bpe_tokens": counts, "bpe_token_hash": hashes})

    return bpe_udf


def bpe_tokens_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges_path: str | None = None,
) -> DataFrame:
    """(id, n_bpe_tokens, bpe_token_hash) for every input row — the
    query-shaped form. One Arrow-batched scan, no shuffle; NULL/empty
    text degrades to (0, md5(''))."""
    from ._util import fan_out

    bpe_udf = _bpe_struct_udf(load_merges(merges_path))
    out = fan_out(df).select(
        F.col(id_col), bpe_udf(F.col(text_col)).alias("_bpe")
    )
    return out.select(
        id_col,
        F.col("_bpe.n_bpe_tokens").alias("n_bpe_tokens"),
        F.col("_bpe.bpe_token_hash").alias("bpe_token_hash"),
    )


def bpe_token_count(
    name: str = "bpe-tokens",
    text_col: str = "text",
    merges_path: str | None = None,
) -> Step:
    """Attach ``n_bpe_tokens`` / ``bpe_token_hash`` (errored rows keep
    NULLs — they skipped the step, per the engine error contract)."""
    merges = load_merges(merges_path)
    bpe_udf = _bpe_struct_udf(merges)

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        for c in ("n_bpe_tokens", "bpe_token_hash", "_bpe"):
            if c in df.columns:
                raise ValueError(
                    f"bpe_token_count: input already has column {c!r}"
                )
        sig = bpe_udf(F.col(text_col))
        return df.withColumn("_bpe", F.when(is_ok(), sig)).select(
            *df.columns,
            F.col("_bpe.n_bpe_tokens").alias("n_bpe_tokens"),
            F.col("_bpe.bpe_token_hash").alias("bpe_token_hash"),
        )

    return Step(
        name, fn, node_type="bpe_tokens", metadata={"n_merges": len(merges)}
    )
