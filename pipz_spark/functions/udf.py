"""UDF escape hatch — arbitrary Python with exception capture.

The reference's entire surface is arbitrary user closures wrapped so
a panic becomes an error VALUE, never a crash (recovery
error.go:156-170, deferred in every Process e.g. api.go:466; message
sanitizer error.go:101-147). The Spark analog: a pandas UDF (Arrow
batches — the acceptable slow path; row-at-a-time Python is not)
whose per-row exceptions land in the ``_pipz_error`` column with a
sanitized message, so ONE poison row can never fail a 100 TB job.

Use ONLY when Column expressions can't express the computation —
expressions stay in whole-stage codegen and are 10-100x faster.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.errors import ERROR_COL, ensure_error_column, is_ok, make_error
from ..core.step import Step

_HEX_ADDR = re.compile(r"0x[0-9a-fA-F]+")
_FILE_PATH = re.compile(r"(?:/[\w.\-]+)+\.\w+")
_WS = re.compile(r"\s+")
_MAX_LEN = 200


def sanitize_message(msg: str) -> str:
    """Mirror of sanitizePanicMessage (error.go:101-147): strip memory
    addresses and file paths, collapse whitespace, truncate."""
    msg = _HEX_ADDR.sub("<addr>", msg)
    msg = _FILE_PATH.sub("<path>", msg)
    msg = _WS.sub(" ", msg).strip()
    if len(msg) > _MAX_LEN:
        msg = msg[: _MAX_LEN - 3] + "..."
    return msg


def python_apply(
    name: str,
    fn: Callable[..., Any],
    inputs: list[str],
    returns: str | T.DataType,
    output: str | None = None,
    timeout_seconds: float | None = None,
) -> Step:
    """Fallible arbitrary-Python transformation (the Apply analog for
    closures Catalyst can't express). ``fn(*input_values)`` runs per
    row inside an Arrow batch; an exception becomes an error struct
    on THAT row only — the job always succeeds (apply.go:80-89 +
    error.go:156-170 semantics).

    ``timeout_seconds`` gives every VALUE a hard deadline, the
    reference's timeout connector at its native granularity
    (timeout.go:61-154): a row whose closure overruns becomes a
    timeout error row, and the batch moves on instead of blocking the
    task until spark.task.reaper notices. The overrunning call is
    ABANDONED on a leaked thread, never killed — the exact semantic
    of the reference's goroutine timeout, which also cannot cancel a
    hung user function, only stop waiting for it (timeout.go:117-131).
    One leaked thread per timed-out row, freed when/if the closure
    returns; a closure hung inside a C extension that never yields
    the GIL can still stall the batch — that last resort stays with
    the task reaper."""
    out_col = output or f"{name}_result"
    if out_col == ERROR_COL:
        # unguarded, the result withColumn would REPLACE the error
        # column, erasing every upstream dead letter (r7 review — the
        # same reserved-name check python_flat_map already has)
        raise ValueError(f"output may not be the reserved column {ERROR_COL}")
    ret_type = returns if isinstance(returns, T.DataType) else T._parse_datatype_string(returns)
    result_schema = T.StructType(
        [
            T.StructField("value", ret_type, True),
            T.StructField("err", T.StringType(), True),
            T.StructField("timed_out", T.BooleanType(), True),
        ]
    )

    def batch_fn(live, *cols):  # pd.Series in, pd.DataFrame out
        # ``live`` is is_ok() per row: a row dead-lettered upstream
        # never reaches fn (nor its deadline) and comes back all-NULL
        import pandas as pd

        values: list[Any] = []
        errs: list[str | None] = []
        tos: list[bool] = []
        rows = zip(live, zip(*cols))
        if timeout_seconds is None:
            for ok, row in rows:
                if not ok:
                    values.append(None)
                    errs.append(None)
                    tos.append(False)
                    continue
                try:
                    values.append(fn(*row))
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 — the whole point
                    values.append(None)
                    errs.append(sanitize_message(f"{type(e).__name__}: {e}"))
                tos.append(False)
            return pd.DataFrame({"value": values, "err": errs, "timed_out": tos})
        from concurrent.futures import ThreadPoolExecutor
        from concurrent.futures import TimeoutError as _FutTimeout

        ex = ThreadPoolExecutor(max_workers=1)
        try:
            for ok, row in rows:
                if not ok:
                    values.append(None)
                    errs.append(None)
                    tos.append(False)
                    continue
                timed = False
                try:
                    values.append(ex.submit(fn, *row).result(timeout=timeout_seconds))
                    errs.append(None)
                except _FutTimeout:
                    # abandon the hung call on its thread; fresh
                    # executor so later rows don't queue behind it
                    ex.shutdown(wait=False)
                    ex = ThreadPoolExecutor(max_workers=1)
                    values.append(None)
                    errs.append(f"timeout: exceeded {timeout_seconds}s deadline")
                    timed = True
                except Exception as e:  # noqa: BLE001
                    values.append(None)
                    errs.append(sanitize_message(f"{type(e).__name__}: {e}"))
                tos.append(timed)
        finally:
            ex.shutdown(wait=False)
        return pd.DataFrame({"value": values, "err": errs, "timed_out": tos})

    wrapped = F.pandas_udf(batch_fn, returnType=result_schema)
    # unique temp name: a deterministic f"_pipz_udf_{name}" could
    # collide with (and then silently delete) a same-named business
    # column (r7 review finding)
    import uuid as _uuid

    tmp = f"_pipz_udf_{name}_{_uuid.uuid4().hex[:8]}"

    def step_fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        # One projection over every row, never an OK/FAILED split
        # unioned back: each branch of a split re-derives its whole
        # lineage from the scan, so every upstream Python UDF ran once
        # per branch. Rows already dead-lettered ride through the
        # Arrow batch but are masked off inside it (``live``), so fn
        # (and its deadline) never runs on them, and they keep their
        # upstream error and their pre-step output value (the Apply
        # keeps-pre-step-values divergence, DIVERGENCES #3).
        df = ensure_error_column(df)
        df = df.withColumn(tmp, wrapped(is_ok(), *[F.col(c) for c in inputs]))
        res = F.col(tmp)
        value = res["value"]
        if out_col in df.columns:
            value = F.when(is_ok(), value).otherwise(F.col(out_col))
        err = F.when(
            res["err"].isNotNull(),
            make_error(
                list(path),
                res["err"],
                timeout=F.coalesce(res["timed_out"], F.lit(False)),
            ),
        ).otherwise(F.col(ERROR_COL))
        return df.withColumns({ERROR_COL: err, out_col: value}).drop(tmp)

    return Step(name, step_fn, node_type="python_apply", metadata={"inputs": inputs})


def python_flat_map(
    name: str,
    fn: Callable[..., "object"],
    inputs: list[str],
    returns: str,
    keep: list[str] | None = None,
) -> Step:
    """Fallible arbitrary-Python row EXPANSION — the table-function
    member of the UDF surface, built on Spark's native Python UDTF +
    lateral join (the engine-integrated form of flatMap: Catalyst
    plans the expansion as a Generate-style lateral, so filters and
    projections around it still optimize).

    ``fn(*input_values)`` runs once per ok row and returns/yields an
    iterable of tuples matching ``returns`` (a DDL struct string,
    e.g. ``"chunk string, idx int"``); each tuple becomes an output
    row carrying the ``keep`` columns (default: every input column).
    Zero yields drop the row — flatMap semantics. An exception
    becomes a dead-letter row for THAT input row only (error struct,
    no expansion), same policy as python_apply: one poison row never
    fails the job.

    Implementation note: the error ride-along is a sentinel column
    INSIDE the UDTF output (success rows carry NULL), because a
    lateral join drops zero-output rows — an erroring row must still
    produce its dead-letter carrier. Errored INPUT rows enter the
    lateral masked off (an ``is_ok()`` argument): they skip fn and
    yield one all-NULL row whose NULL sentinel keeps their upstream
    error, so they pass through unexpanded without a second branch."""
    from pyspark.sql.functions import udtf as _udtf

    out_schema = T.StructType.fromDDL(returns)
    if any(f.name == "_pz_err" for f in out_schema.fields):
        raise ValueError("returns schema may not contain the reserved field _pz_err")
    # output columns = carried inputs + returns fields; a name
    # collision would surface only as a confusing AnalysisException
    # when the step runs (r6 advisor finding) — fail loudly at
    # construction like the _pz_err reserved-name check above.
    # ``keep=None`` carries EVERY input column, so the dataframe-
    # dependent half of that check re-runs in step_fn below.
    out_names = {f.name for f in out_schema.fields}
    if ERROR_COL in out_names:
        raise ValueError(f"returns schema may not contain the reserved field {ERROR_COL}")
    clash = out_names & set(inputs if keep is None else [*keep, *inputs])
    if clash:
        raise ValueError(
            f"returns schema field(s) {sorted(clash)} collide with "
            "carried input columns; rename the output field or drop "
            "the column from keep"
        )
    udtf_type = T.StructType(
        list(out_schema.fields) + [T.StructField("_pz_err", T.StringType())]
    )
    n_out = len(out_schema.fields)

    class _FlatMap:
        def eval(self, live, *args):
            if not live:
                yield (None,) * (n_out + 1)
                return
            # BUFFER the full expansion before yielding anything: a
            # generator fn that raises mid-iteration must not leak its
            # already-produced prefix as OK rows next to the dead
            # letter ("no expansion" means none). Arity is checked
            # inside the try for the same reason — a wrong-width tuple
            # would otherwise only explode in the output serializer,
            # outside per-row capture, failing the whole task.
            try:
                out = []
                for row in fn(*args):
                    row = tuple(row)
                    if len(row) != n_out:
                        raise ValueError(
                            f"fn yielded {len(row)} fields, schema has {n_out}"
                        )
                    out.append((*row, None))
            except Exception as e:  # noqa: BLE001
                yield tuple([None] * n_out) + (
                    sanitize_message(f"{type(e).__name__}: {e}"),
                )
            else:
                yield from out

    gen = _udtf(_FlatMap, returnType=udtf_type)

    def step_fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        carried = keep if keep is not None else [
            c for c in df.columns if c != ERROR_COL
        ]
        if "_pz_err" in df.columns:
            # the UDTF's error sentinel would collide with the input's
            # column of the same name in the lateral output — ambiguous
            # reference at plan time (r7 review finding)
            raise ValueError(
                "input dataframe may not contain the reserved column _pz_err"
            )
        # checked against ALL dataframe columns, not just carried:
        # lateralJoin's output holds every left column, so an output
        # field named like ANY input column — even one the select
        # would drop — is an ambiguous reference at plan time
        clash = out_names & set(df.columns)
        if clash:
            raise ValueError(
                f"returns schema field(s) {sorted(clash)} collide with "
                "column(s) of the input dataframe; rename the output "
                "field (dropping the column via keep= is not enough — "
                "the lateral join still carries it)"
            )
        expanded = df.lateralJoin(
            gen(is_ok().outer(), *[F.col(c).outer() for c in inputs])
        )
        err_msg = F.col("_pz_err")
        return expanded.select(
            *carried,
            *[f.name for f in out_schema.fields],
            F.when(
                err_msg.isNotNull(), make_error(list(path), err_msg)
            ).otherwise(F.col(ERROR_COL)).alias(ERROR_COL),
        )

    return Step(name, step_fn, node_type="python_flat_map", metadata={"inputs": inputs})


def python_map_batches(
    name: str,
    fn: Callable[["object"], "object"],
    schema: str | T.StructType,
) -> Callable[[DataFrame], DataFrame]:
    """Whole-batch escape hatch over ``mapInPandas`` for reshaping
    transforms (explode-like, model inference). ``fn(pdf) -> pdf``
    runs per Arrow batch. A batch-level exception fails the task, and
    so the action, like any other executor error, carrying a note that
    names this transform: rows have no error column to carry it here,
    and dropping the batch would lose its rows silently. Per-row
    capture belongs in python_apply."""

    def gen(batches: Iterator["object"]) -> Iterator["object"]:
        for pdf in batches:
            try:
                out = fn(pdf)
            except Exception as e:
                e.add_note(f"in python_map_batches {name!r}")
                raise
            yield out

    def apply(df: DataFrame) -> DataFrame:
        return df.mapInPandas(gen, schema)

    return apply
