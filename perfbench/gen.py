"""Seeded input generators with planted truth.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical inputs and the same planted truth, so the
output checks in ``checks.py`` can say exactly which rows must fail,
which must be removed and which must survive. Inputs are written as
parquet with pyarrow, never through Spark, so generating them costs the
program under test nothing.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- orders

ROUTED_REGIONS = ("NA", "EU", "APAC")
UNROUTED_REGIONS = ("LATAM", "MEA")
STATUSES = ("O", "F", "P")
PRIORITIES = ("low", "medium", "high", "urgent")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
INVALID_KINDS = ("bad price", "bad qty", "bad status")


@dataclass
class OrdersTruth:
    rows: int
    invalid: dict[int, str]  # o_id -> planted failure message


def make_orders(seed: int, rows: int, customers: int, invalid_share: float,
                unrouted_share: float, missing_customer_share: float):
    """Orders-shaped rows plus a customer dimension.

    A planted ``invalid_share`` of orders breaks exactly one validation
    rule (negative price, zero quantity or an unknown status), a planted
    ``unrouted_share`` carries a region the tax switch has no route for,
    and ``missing_customer_share`` points at no customer (enrich miss)."""
    rng = np.random.default_rng(seed)
    o_id = np.arange(rows, dtype=np.int64)
    custkey = rng.integers(0, customers, rows, dtype=np.int64)
    missing = rng.random(rows) < missing_customer_share
    custkey[missing] += customers  # keys past the dimension's range
    region_pick = rng.integers(0, len(ROUTED_REGIONS), rows)
    region = np.array(ROUTED_REGIONS, dtype=object)[region_pick]
    unrouted = rng.random(rows) < unrouted_share
    region[unrouted] = np.array(UNROUTED_REGIONS, dtype=object)[
        rng.integers(0, len(UNROUTED_REGIONS), int(unrouted.sum()))]
    price = rng.integers(100, 100_000, rows, dtype=np.int64)
    qty = rng.integers(1, 20, rows, dtype=np.int64)
    status = np.array(STATUSES, dtype=object)[rng.integers(0, len(STATUSES), rows)]
    priority = np.array(PRIORITIES, dtype=object)[rng.integers(0, len(PRIORITIES), rows)]

    n_bad = int(round(rows * invalid_share))
    bad_ids = rng.choice(rows, n_bad, replace=False)
    kinds = rng.integers(0, len(INVALID_KINDS), n_bad)
    invalid: dict[int, str] = {}
    for i, k in zip(bad_ids.tolist(), kinds.tolist()):
        if k == 0:
            price[i] = -price[i]
        elif k == 1:
            qty[i] = 0
        else:
            status[i] = "X"
        invalid[i] = INVALID_KINDS[k]

    orders = pa.table({
        "o_id": o_id, "o_custkey": custkey, "o_region": region.tolist(),
        "o_status": status.tolist(), "o_priority": priority.tolist(),
        "o_price_cents": price, "o_qty": qty,
    })
    c_key = np.arange(customers, dtype=np.int64)
    cust = pa.table({
        "c_custkey": c_key,
        "c_segment": np.array(SEGMENTS, dtype=object)[
            rng.integers(0, len(SEGMENTS), customers)].tolist(),
        "c_nation": [f"N{n:02d}" for n in rng.integers(0, 25, customers).tolist()],
    })
    return orders, cust, OrdersTruth(rows=rows, invalid=invalid)


# ---------------------------------------------------------------- corpus

# Stopwords per language, so the program's language heuristic has
# something to find; content words come from a seeded synthetic vocabulary.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es": ("el", "los", "las", "y", "es", "un", "una", "en", "que", "por"),
}
LANG_MIX = (("en", 0.5), ("de", 0.2), ("fr", 0.15), ("es", 0.15))
POISON = "�"  # the user normalizer refuses documents holding it


@dataclass
class CorpusTruth:
    docs: int
    low_quality: set[int] = field(default_factory=set)
    poison: set[int] = field(default_factory=set)
    exact_groups: list[list[int]] = field(default_factory=list)  # original first
    near_clusters: list[list[int]] = field(default_factory=list)

    @property
    def dead(self) -> set[int]:
        return self.low_quality | self.poison


def _words(rng, vocab: np.ndarray, lang: str, n: int) -> list[str]:
    stops = STOPWORDS[lang]
    out = vocab[rng.integers(0, len(vocab), n)].tolist()
    is_stop = rng.random(n) < 0.3
    picks = rng.integers(0, len(stops), n)
    return [stops[p] if s else w for w, s, p in zip(out, is_stop, picks.tolist())]


def make_corpus(seed: int, docs: int, words: int, exact_dup_share: float,
                near_clusters: int, near_cluster_size: int, near_edits: int,
                low_quality_share: float, poison_share: float):
    """Documents with planted exact duplicates, near-duplicate clusters,
    low-quality stubs and poison documents, in a language mix.

    Planted failures and duplicates are drawn from disjoint singleton
    documents, so each planted property is tested on its own: a cluster
    member never also fails the gate, and an exact-duplicate group never
    overlaps a near-duplicate cluster."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(rng.choice(letters, rng.integers(4, 10)))
                      for _ in range(20_000)], dtype=object)
    langs = [l for l, _ in LANG_MIX]
    probs = [p for _, p in LANG_MIX]

    texts: list[str] = []
    lang_of: list[str] = []

    def add(text: str, lang: str) -> int:
        texts.append(text)
        lang_of.append(lang)
        return len(texts) - 1

    truth = CorpusTruth(docs=0)
    n_exact = int(round(docs * exact_dup_share))
    n_low = int(round(docs * low_quality_share))
    n_poison = int(round(docs * poison_share))
    n_cluster_docs = near_clusters * near_cluster_size
    n_single = docs - n_exact - n_cluster_docs
    if n_single < n_exact + n_low + n_poison:
        raise ValueError("corpus too small for its planted shares")

    # singletons; the first ones double as low-quality / poison / dup originals
    for _ in range(n_single):
        lang = str(rng.choice(langs, p=probs))
        add(" ".join(_words(rng, vocab, lang, words)), lang)
    for i in range(n_low):  # stubs far below the gate's length floor
        texts[i] = " ".join(_words(rng, vocab, lang_of[i], 6))
        truth.low_quality.add(i)
    for i in range(n_low, n_low + n_poison):
        w = texts[i].split(" ")
        w[len(w) // 2] += POISON
        texts[i] = " ".join(w)
        truth.poison.add(i)
    first_orig = n_low + n_poison
    for j in range(n_exact):  # whitespace-only variants of an original
        orig = first_orig + j
        copy = texts[orig].replace(" ", "  ", 1 + j % 3)
        truth.exact_groups.append([orig, add(copy, lang_of[orig])])
    for _ in range(near_clusters):
        lang = str(rng.choice(langs, p=probs))
        base = _words(rng, vocab, lang, words)
        members = [add(" ".join(base), lang)]
        for _ in range(near_cluster_size - 1):
            variant = list(base)
            for pos in rng.choice(len(variant), near_edits, replace=False).tolist():
                variant[pos] = vocab[rng.integers(0, len(vocab))]
            members.append(add(" ".join(variant), lang))
        truth.near_clusters.append(members)

    # shuffle ids so planted roles are spread over the id range
    perm = rng.permutation(len(texts))  # old index -> new id
    new_id = {old: int(perm[old]) for old in range(len(texts))}
    ids = np.empty(len(texts), dtype=np.int64)
    out_text = [""] * len(texts)
    out_lang = [""] * len(texts)
    for old, t in enumerate(texts):
        ids[perm[old]] = perm[old]
        out_text[perm[old]] = t
        out_lang[perm[old]] = lang_of[old]
    truth.docs = len(texts)
    truth.low_quality = {new_id[i] for i in truth.low_quality}
    truth.poison = {new_id[i] for i in truth.poison}
    truth.exact_groups = [[new_id[i] for i in g] for g in truth.exact_groups]
    truth.near_clusters = [[new_id[i] for i in g] for g in truth.near_clusters]
    table = pa.table({"doc_id": ids, "text": out_text, "src_lang": out_lang})
    return table, truth


# ---------------------------------------------------------------- events

EVENT_TYPES = ("click", "view", "purchase", "share")  # "share" has no route


@dataclass
class EventsTruth:
    files: int
    duplicates: int                       # re-sent copies planted
    malformed: set[int] = field(default_factory=set)  # event_id


def stream_schedule(phases: list[tuple[float, float]], interval_s: float):
    """File drop plan for an open-loop generator: one
    ``(offset_s, events_in_file, phase_index)`` per file. Each phase
    ``(rate, seconds)`` drops one file every ``interval_s`` holding
    ``rate * interval_s`` events; the plan never depends on the system."""
    plan = []
    t = 0.0
    for p, (rate, seconds) in enumerate(phases):
        n_files = int(round(seconds / interval_s))
        per_file = max(1, int(round(rate * interval_s)))
        for _ in range(n_files):
            plan.append((t, per_file, p))
            t += interval_s
    return plan


def make_event_files(seed: int, plan, users: int, dup_share: float,
                     malformed_share: float):
    """Per-file event columns for ``plan`` (without send stamps; the
    generator stamps ``sched_ms``/``ts`` from its start time). Planted
    duplicates are exact copies of an earlier event re-sent one to five
    files later; planted malformed events carry truncated ``props`` JSON."""
    rng = np.random.default_rng(seed)
    files: list[dict] = []
    truth = EventsTruth(files=len(plan), duplicates=0)
    next_id = 0
    pending: dict[int, list[dict]] = {}  # file index -> copies to re-send
    for k, (_, n, _) in enumerate(plan):
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        user = (rng.zipf(1.3, n) % users).astype(np.int64)
        etype = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)]
        value = rng.integers(1, 1000, n, dtype=np.int64)
        props = [json.dumps({"page": int(p), "ref": "r%d" % r})
                 for p, r in zip(rng.integers(0, 50, n).tolist(),
                                 rng.integers(0, 9, n).tolist())]
        bad = np.flatnonzero(rng.random(n) < malformed_share)
        for b in bad.tolist():
            props[b] = props[b][: len(props[b]) // 2]
            truth.malformed.add(int(ids[b]))
        cols = {"event_id": ids, "user_id": user, "event_type": etype.tolist(),
                "value": value, "props": props, "sent_file": np.full(n, k, np.int64)}
        dup = np.flatnonzero(rng.random(n) < dup_share)
        lag = rng.integers(1, 6, len(dup))
        for d, l in zip(dup.tolist(), lag.tolist()):
            row = {c: (v[d] if isinstance(v, list) else v[d].item()) for c, v in cols.items()}
            pending.setdefault(k + l, []).append(row)
        files.append(cols)
    for k, rows in pending.items():
        if k >= len(files):
            continue  # the copy would land after the run ends
        cols = files[k]
        for row in rows:
            for c in cols:
                if isinstance(cols[c], list):
                    cols[c].append(row[c])
                else:
                    cols[c] = np.append(cols[c], np.int64(row[c]))
            truth.duplicates += 1
    return files, truth


def event_table(cols: dict, base_ms: float, plan) -> pa.Table:
    """Stamp a file's events with their scheduled send time: the drop
    time of the file each event first belongs to (a re-sent copy keeps
    its original stamp, so it is an exact duplicate)."""
    sched = np.array([int(base_ms + plan[f][0] * 1000.0) for f in cols["sent_file"]],
                     dtype=np.int64)
    return pa.table({
        "event_id": cols["event_id"], "user_id": cols["user_id"],
        "event_type": cols["event_type"], "value": cols["value"],
        "props": cols["props"], "sched_ms": sched,
        "ts": pa.array(sched * 1000, type=pa.timestamp("us", tz="UTC")),
    })


def write_table(table: pa.Table, path: str, parts: int = 1) -> None:
    """Write ``table`` to the file ``path``, or with ``parts`` > 1 as that
    many row-range files in the directory ``path`` (one scan split each)."""
    if parts == 1:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))
