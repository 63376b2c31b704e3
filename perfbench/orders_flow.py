"""orders_flow: batch ETL in the reference's own vocabulary.

``Pipeline.run`` of ``handle(sequence(apply → transform → mutate →
enrich → switch))`` over seeded orders, landed by ``write_split`` inside
``retry(timeout(...))``. Core, operators, sources and control do the
work; datapipe, functions and streaming stay idle.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pipz_spark import ERROR_COL, P
from pipz_spark.control import Pipeline, retry, timeout
from pipz_spark.sources import write_split

import checks
import gen
from batch import BatchWorkload


class OrdersFlow(BatchWorkload):
    name = "orders_flow"

    def __init__(self, cfg: dict, seed: int, work: str) -> None:
        self.cfg = cfg
        self.seed = seed
        self.work = work
        self.rows = cfg["rows"]

    def _make(self, seed: int, rows: int, customers: int, where: str) -> tuple[dict, object]:
        orders, cust, truth = gen.make_orders(
            seed, rows, customers, self.cfg["invalid_share"],
            self.cfg["unrouted_share"], self.cfg["missing_customer_share"])
        paths = {"orders": os.path.join(where, "orders.parquet"),
                 "customers": os.path.join(where, "customers.parquet")}
        gen.write_table(orders, paths["orders"], parts=self.cfg["input_files"])
        gen.write_table(cust, paths["customers"])
        return paths, truth

    def generate(self) -> None:
        self.inputs, self.truth = self._make(
            self.seed, self.rows, self.cfg["customers"], os.path.join(self.work, "input"))
        self.warm_inputs, self.warm_truth = self._make(
            self.seed + 1, self.cfg["warm_rows"], 100, os.path.join(self.work, "warm-input"))

    def pipeline(self, customers, alert, bus) -> Pipeline:
        price, qty = F.col("o_price_cents"), F.col("o_qty")
        validate = P.apply(
            "validate",
            error_when=(price <= 0) | (qty <= 0) | ~F.col("o_status").isin("O", "F", "P"),
            message=F.when(price <= 0, "bad price").when(qty <= 0, "bad qty")
            .otherwise("bad status"),
        )
        price_step = P.transform("price", {
            "o_total_cents": price * qty,
            "o_priority": F.upper("o_priority"),
        })
        discount = P.mutate("bulk-discount",
                            {"o_total_cents": F.expr("(o_total_cents * 9) div 10")},
                            condition=qty >= 10)
        customer = P.enrich("customer", customers, on={"o_custkey": "c_custkey"},
                            select={"c_segment": "c_segment", "c_nation": "c_nation"})
        tax = P.switch("tax", F.col("o_region"), {
            "NA": {"o_tax_cents": F.expr("o_total_cents * 8 div 100")},
            "EU": {"o_tax_cents": F.expr("o_total_cents * 20 div 100")},
            "APAC": {"o_tax_cents": F.expr("o_total_cents * 10 div 100")},
        })
        flow = P.sequence("orders", validate, price_step, discount, customer, tax)
        return Pipeline(self.name, P.handle("dead-letters", flow, alert, bus=bus), bus=bus)

    def run_once(self, spark, inputs: dict, out_dir: str, bus, tracer) -> dict:
        """One run from generated input to landed output; returns what the
        check needs. Spans: core.compose, sources.sink, control.guard,
        sources.write_split."""
        alerts: dict[str, int] = {}

        def alert(failed) -> None:
            # the handle's callable handler: a per-message alert summary
            with tracer.span("sources.sink"):
                rows = failed.groupBy(F.col(ERROR_COL)["message"].alias("m")).count().collect()
            alerts.update({r["m"]: r["count"] for r in rows})

        out = {"ok": os.path.join(out_dir, "ok"), "dead": os.path.join(out_dir, "dead")}
        customers = spark.read.parquet(inputs["customers"])
        pipe = self.pipeline(customers, alert, bus)
        with tracer.span("core.compose"):
            result = pipe.run(spark, spark.read.parquet(inputs["orders"]))

        def land() -> dict:
            with tracer.span("sources.write_split"):
                return write_split(result, out["ok"], out["dead"], bus=bus)

        with tracer.span("control.guard"):
            counts = retry(lambda: timeout(land, 300, name="land", spark=spark, bus=bus),
                           max_attempts=2, name="land", bus=bus)
        pipe.root.release_caches()
        return {"out": out, "counts": counts, "alerts": alerts}

    def check(self, info: dict, warm: bool = False) -> list[str]:
        inputs, truth = (self.warm_inputs, self.warm_truth) if warm else (self.inputs, self.truth)
        return checks.check_orders(inputs, info["out"], truth, info["alerts"])

    def layer_metrics(self, spark, info: dict) -> dict[str, float]:
        return {"core.ok_rows": info["counts"]["ok"],
                "core.dead_letter_rows": info["counts"]["dead_letter"]}
