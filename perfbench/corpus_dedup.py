"""corpus_dedup: an LLM-corpus cleaning pipeline.

``token_count → quality_score → apply gate → lang_id → python_apply``
(a user normalizer that raises on poison documents) ``→ exact_dedup``,
landed by ``write_split``; then ``near_dup_pairs`` and ``dedup_clusters``
over the landed survivors. Datapipe (MinHash-LSH banding, connected
components), functions (Arrow UDF with per-row exception capture) and
shuffle-heavy plans do the work; orders_flow bypasses all three.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pipz_spark import P
from pipz_spark.datapipe import (dedup_clusters, exact_dedup, lang_id, lsh_candidate_pairs,
                                 near_dup_pairs, quality_score, token_count)
from pipz_spark.functions import python_apply
from pipz_spark.sources import write_split

import checks
import gen
from batch import BatchWorkload


def make_normalizer(poison: str):
    """The user's normalizer: NFKC plus whitespace collapsing; refuses
    documents holding ``poison``. Built in a closure so it is shipped to
    the Python workers by value."""

    def normalize(text: str) -> str:
        import unicodedata

        if poison in text:
            raise ValueError("undecodable document")
        return " ".join(unicodedata.normalize("NFKC", text).split())

    return normalize


class CorpusDedup(BatchWorkload):
    name = "corpus_dedup"

    def __init__(self, cfg: dict, seed: int, work: str) -> None:
        self.cfg = cfg
        self.seed = seed
        self.work = work
        self.rows = cfg["docs"]

    def _make(self, seed: int, docs: int, clusters: int, where: str):
        c = self.cfg
        table, truth = gen.make_corpus(
            seed, docs, c["words"], c["exact_dup_share"], clusters,
            c["near_cluster_size"], c["near_edits"], c["low_quality_share"],
            c["poison_share"])
        path = os.path.join(where, "docs")
        gen.write_table(table, path, parts=c["input_files"])
        return path, truth

    def generate(self) -> None:
        c = self.cfg
        self.inputs, self.truth = self._make(
            self.seed, c["docs"], c["near_clusters"], os.path.join(self.work, "input"))
        self.warm_inputs, self.warm_truth = self._make(
            self.seed + 1, c["warm_docs"], c["warm_near_clusters"],
            os.path.join(self.work, "warm-input"))

    def prep_step(self, bus):
        c = self.cfg
        gate = P.apply("quality-gate",
                       error_when=(F.col("n_tokens") < c["min_tokens"])
                       | (F.col("quality") < c["min_quality"]),
                       message="low quality")
        normalize = python_apply("normalize", make_normalizer(gen.POISON), inputs=["text"],
                                 returns="string", output="text_norm")
        return P.sequence("clean", token_count(), quality_score(), gate, lang_id(),
                          normalize, exact_dedup(text_col="text_norm"))

    def run_once(self, spark, inputs: str, out_dir: str, bus, tracer) -> dict:
        """Spans: core.compose, datapipe.prep (clean and land),
        sources.write_split, datapipe.near_dup, datapipe.cluster."""
        out = {"ok": os.path.join(out_dir, "ok"), "dead": os.path.join(out_dir, "dead"),
               "clusters": os.path.join(out_dir, "clusters")}
        step = self.prep_step(bus)
        with tracer.span("datapipe.prep"):
            with tracer.span("core.compose"):
                cleaned = step.apply(spark.read.parquet(inputs))
            with tracer.span("sources.write_split"):
                counts = write_split(cleaned.drop("text"), out["ok"], out["dead"], bus=bus)
        step.release_caches()
        survivors = spark.read.parquet(out["ok"])
        with tracer.span("datapipe.near_dup"):
            pairs = near_dup_pairs(survivors, threshold=self.cfg["threshold"],
                                   text_col="text_norm").persist()
            n_pairs = pairs.count()
        with tracer.span("datapipe.cluster"):
            dedup_clusters(survivors, pairs).write.parquet(out["clusters"])
        pairs.unpersist()
        return {"out": out, "counts": counts, "pairs": n_pairs, "survivors": survivors}

    def check(self, info: dict, warm: bool = False) -> list[str]:
        truth = self.warm_truth if warm else self.truth
        con = checks._connect()
        clusters = con.execute(
            f"SELECT doc_id, cluster_id, is_keeper FROM "
            f"{checks._parquet(info['out']['clusters'])}").fetchall()
        return checks.check_corpus(info["out"], truth, clusters)

    def layer_metrics(self, spark, info: dict) -> dict[str, float]:
        """Read after the run's timer stopped: the candidate count costs
        one more LSH pass, outside the measured run."""
        candidates = lsh_candidate_pairs(info["survivors"], text_col="text_norm").count()
        verified = info["pairs"]
        return {"core.ok_rows": info["counts"]["ok"],
                "core.dead_letter_rows": info["counts"]["dead_letter"],
                "datapipe.candidate_pairs": candidates,
                "datapipe.verified_pairs": verified,
                "datapipe.verified_ratio": verified / candidates if candidates else 0.0}
