"""pipz_spark — a PySpark-native composable data-pipeline engine.

Re-expresses the capabilities of the reference pipz library
(type-safe value-at-a-time pipelines) as distributed DataFrame
algebra: a value becomes a Row, a pipeline becomes a lazy DataFrame
transformation chain with per-row Either (error-column) semantics,
and goroutine parallelism becomes partition parallelism.

Quick start::

    from pipz_spark import P, split_ok
    pipe = P.sequence(
        "order-flow",
        P.apply("validate", error_when=F.col("o_totalprice") <= 0,
                message="invalid total"),
        P.transform("normalize", {"o_orderpriority": F.upper("o_orderpriority")}),
        P.enrich("crm", customer_df, on=["o_custkey"],
                 select={"c_name": "c_name"}),
    )
    result = split_ok(pipe(orders_df))
"""

from . import operators as P
from .core import (
    ERROR_COL,
    ERROR_SCHEMA,
    Identity,
    Step,
    ensure_error_column,
    error_path_str,
    is_failed,
    is_ok,
    make_error,
    split_failed,
    split_ok,
)
from .session import get_session

__version__ = "0.2.0"

__all__ = [
    "ERROR_COL",
    "ERROR_SCHEMA",
    "Identity",
    "P",
    "Step",
    "ensure_error_column",
    "error_path_str",
    "get_session",
    "is_failed",
    "is_ok",
    "make_error",
    "split_failed",
    "split_ok",
]
