"""UDF escape hatch: per-row exceptions become error rows, never task
failures; a whole-batch ``python_map_batches`` failure fails the action."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from pipz_spark import ERROR_COL, P, split_failed, split_ok
from pipz_spark.functions import python_apply, python_map_batches, sanitize_message


def test_python_apply_success_and_error_rows(orders):
    def parse_bucket(total):
        if total < 5000:
            raise ValueError(f"total {total} under floor at 0x7fff123 in /srv/app/x.py")
        return int(total // 100000)

    step = python_apply("bucketize", parse_bucket, ["o_totalprice"], "long", output="bucket")
    out = step(orders)
    n_bad = orders.where("o_totalprice < 5000").count()
    failed = split_failed(out)
    assert failed.count() == n_bad  # job succeeded; poison rows captured
    ok = split_ok(out)
    assert ok.count() == orders.count() - n_bad
    assert ok.where(F.col("bucket").isNull()).count() == 0
    err = failed.select(ERROR_COL).first()[0]
    assert err["path"] == ["bucketize"]
    assert "ValueError" in err["message"]
    # sanitizer stripped addresses and file paths (error.go:101-147)
    assert "0x7fff123" not in err["message"]
    assert "/srv/app/x.py" not in err["message"]


def test_python_apply_in_sequence_short_circuits(orders):
    step = P.sequence(
        "flow",
        P.apply("validate", error_when=F.col("o_totalprice") > 100000, message="cap"),
        python_apply("json-meta", lambda k: json.dumps({"k": k}), ["o_orderkey"], "string", output="meta"),
    )
    out = step(orders)
    bad = out.where(F.col(ERROR_COL).isNotNull())
    # errored rows skipped the UDF (guarded), meta stays NULL
    assert bad.where(F.col("meta").isNotNull()).count() == 0
    good = split_ok(out).first()
    assert json.loads(good["meta"])["k"] == good["o_orderkey"]


def test_sanitize_message():
    m = sanitize_message("boom at 0xDEADBEEF from /usr/lib/python3.11/foo.py line\n2  " + "x" * 300)
    assert "<addr>" in m and "<path>" in m
    assert len(m) <= 200
    assert "\n" not in m


def test_python_map_batches_reshape(documents):
    def explode_tokens(pdf):
        import pandas as pd

        rows = []
        for _, r in pdf.iterrows():
            for i, tok in enumerate(r["text"].split()[:3]):
                rows.append({"doc_id": r["doc_id"], "pos": i, "token": tok})
        return pd.DataFrame(rows, columns=["doc_id", "pos", "token"])

    apply = python_map_batches("tok3", explode_tokens, "doc_id long, pos int, token string")
    out = apply(documents.select("doc_id", "text"))
    assert out.count() == documents.count() * 3
    assert set(out.columns) == {"doc_id", "pos", "token"}



def test_python_map_batches_fails_the_action_on_a_failed_batch(spark):
    # a raising batch must surface as a failed action, never as a
    # result that is silently short of that batch's rows
    def fn(pdf):
        if (pdf["id"] == 7).any():
            raise ValueError("bad batch")
        return pdf

    apply = python_map_batches("strict", fn, "id long")
    with pytest.raises(Exception, match="bad batch") as failed:
        apply(spark.range(0, 20, numPartitions=4)).collect()
    assert "in python_map_batches 'strict'" in str(failed.value)

def test_python_apply_row_deadline(spark):
    # timeout.go:61-154 at its native granularity: a hung closure
    # becomes a timeout error ROW; the batch and the job keep going.
    import time as _time

    from pipz_spark import split_failed, split_ok
    from pipz_spark.core.errors import error_path_str

    def maybe_hang(x):
        if x % 10 == 0:
            _time.sleep(30.0)  # far past the deadline
        return x * 2

    df = spark.range(20).withColumnRenamed("id", "x")
    step = python_apply(
        "hangable", maybe_hang, ["x"], "long", output="y", timeout_seconds=0.5
    )
    t0 = _time.time()
    out = step.apply(df.coalesce(1), ()).cache()
    ok = split_ok(out)
    dead = split_failed(out)
    n_ok, n_dead = ok.count(), dead.count()
    wall = _time.time() - t0
    out.unpersist()
    assert n_dead == 2  # x = 0 and 10
    assert n_ok == 18
    assert all(r["y"] == r["x"] * 2 for r in ok.collect())
    msgs = [r["_pipz_error"]["message"] for r in dead.collect()]
    assert all("timeout" in m and "0.5" in m for m in msgs)
    # the whole point: two 30s hangs must NOT cost 60s of wall
    assert wall < 20.0


def test_python_flat_map_expansion_deadletter_and_passthrough(spark):
    from pipz_spark.core.errors import ensure_error_column
    from pipz_spark.functions import python_flat_map

    df = ensure_error_column(
        spark.createDataFrame(
            [(1, "a b c"), (2, ""), (3, None), (4, "boom x")],
            "id long, text string",
        )
    )

    def split_words(text):
        if text is None:
            raise ValueError("null text")
        if "boom" in text:
            raise RuntimeError("boom row")
        for i, w in enumerate(text.split()):
            yield (w, i)

    step = python_flat_map(
        "split", split_words, ["text"], "chunk string, idx int", keep=["id"]
    )
    out = step(df)
    ok = split_ok(out)
    # row 1 expands to 3; row 2 yields zero rows (flatMap drop)
    assert sorted((r["id"], r["chunk"], r["idx"]) for r in ok.collect()) == [
        (1, "a", 0),
        (1, "b", 1),
        (1, "c", 2),
    ]
    dead = {r["id"]: r[ERROR_COL]["message"] for r in split_failed(out).collect()}
    assert set(dead) == {3, 4}
    assert "ValueError" in dead[3] and "RuntimeError" in dead[4]


def test_python_flat_map_quarantines_partial_expansions(spark):
    # a generator that yields a prefix THEN raises must contribute
    # zero OK rows (the buffered-expansion contract) — and a
    # wrong-arity tuple is a per-row dead letter, never a task failure
    from pipz_spark.core.errors import ensure_error_column
    from pipz_spark.functions import python_flat_map

    df = ensure_error_column(
        spark.createDataFrame(
            [(1, "a b mid_boom c"), (2, "x y"), (3, "wide")],
            "id long, text string",
        )
    )

    def gen(text):
        for i, w in enumerate(text.split()):
            if w == "mid_boom":
                raise RuntimeError("mid-iteration")
            if w == "wide":
                yield (w, i, "extra")
            else:
                yield (w, i)

    step = python_flat_map("g", gen, ["text"], "chunk string, idx int", keep=["id"])
    out = step(df)
    ok_rows = sorted((r["id"], r["chunk"]) for r in split_ok(out).collect())
    # row 1's pre-raise prefix ("a", "b") must NOT appear
    assert ok_rows == [(2, "x"), (2, "y")]
    dead = {r["id"]: r[ERROR_COL]["message"] for r in split_failed(out).collect()}
    assert set(dead) == {1, 3}
    assert "mid-iteration" in dead[1]
    assert "3 fields" in dead[3]


def test_python_flat_map_preserves_incoming_dead_letters(spark):
    from pipz_spark.core.errors import ensure_error_column
    from pipz_spark.functions import python_flat_map

    df = ensure_error_column(
        spark.createDataFrame([(1, "x y"), (2, "z")], "id long, text string")
    )
    poison = P.apply("gate", error_when=F.col("id") == 2, message="pre-existing")
    step = python_flat_map(
        "split",
        lambda t: [(w,) for w in t.split()],
        ["text"],
        "chunk string",
        keep=["id"],
    )
    out = step(poison(df))
    # row 2 entered already failed: it must pass through UNEXPANDED
    # with its ORIGINAL error, never reach fn
    dead = split_failed(out).collect()
    assert len(dead) == 1 and dead[0]["id"] == 2
    assert dead[0][ERROR_COL]["message"] == "pre-existing"
    assert dead[0]["chunk"] is None
    assert sorted(r["chunk"] for r in split_ok(out).collect()) == ["x", "y"]


def test_python_flat_map_rejects_reserved_field(spark):
    import pytest as _pytest

    from pipz_spark.functions import python_flat_map

    with _pytest.raises(ValueError):
        python_flat_map("bad", lambda t: [], ["text"], "_pz_err string")
    with _pytest.raises(ValueError):
        python_flat_map("bad", lambda t: [], ["text"], "_pipz_error string")


def test_python_flat_map_rejects_output_colliding_with_carried(spark):
    # a returns field named like a carried column would only surface
    # as an ambiguous-column AnalysisException when the step runs —
    # the construction-time check fails loudly instead (r6 advisor)
    import pytest as _pytest

    from pipz_spark.functions import python_flat_map

    # explicit keep: caught at construction
    with _pytest.raises(ValueError, match="collide"):
        python_flat_map(
            "bad", lambda t: [], ["text"], "text string, idx int", keep=["text"]
        )
    # input column re-emitted: caught at construction too (inputs are
    # carried by the keep=None default)
    with _pytest.raises(ValueError, match="collide"):
        python_flat_map("bad", lambda t: [], ["text"], "text string, idx int")
    # collision with a NON-input dataframe column: only detectable
    # against the real dataframe, caught in step_fn — and the check
    # runs against ALL df columns, not just carried ones, because
    # lateralJoin's output holds every left column even when keep=
    # would drop it from the final select (r7 review finding)
    from pipz_spark.core.errors import ensure_error_column

    df = ensure_error_column(
        spark.createDataFrame([("a", 1)], "text string, extra int")
    )
    step = python_flat_map("bad", lambda t: [(len(t),)], ["text"], "extra int")
    with _pytest.raises(ValueError, match="collide"):
        step(df)
    kept = python_flat_map(
        "bad", lambda t: [(len(t),)], ["text"], "extra int", keep=["text"]
    )
    with _pytest.raises(ValueError, match="collide"):
        kept(df)


def test_python_apply_timeout_sets_flag_and_skips_failed_rows(spark):
    # (1) a timed-out row's error struct carries timeout=True (the
    # error.go:22 discriminator — message-prefix matching was the only
    # signal before r7); (2) the UDF evaluates on the OK branch only —
    # Catalyst used to extract it from when(is_ok(), ...) and run it
    # (and burn the deadline) on already-dead rows.
    import time

    from pipz_spark.core.errors import ensure_error_column
    from pipz_spark.functions import python_apply

    def slow_if_negative(x):
        if x < 0:
            time.sleep(5)
        return x * 2

    df = ensure_error_column(
        spark.createDataFrame([(1,), (-1,), (3,)], "x int")
    )
    step = python_apply(
        "slow", slow_if_negative, ["x"], "int", output="y", timeout_seconds=1.0
    )
    out = step(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1  # only the OK branch runs Python
    dead = split_failed(out).collect()
    assert len(dead) == 1
    assert dead[0][ERROR_COL]["timeout"] is True
    assert "timeout" in dead[0][ERROR_COL]["message"]
    ok = {r["x"]: r["y"] for r in split_ok(out).collect()}
    assert ok == {1: 2, 3: 6}


def test_python_apply_rejects_error_col_output_and_preserves_prestep(spark):
    import pytest as _pytest

    from pipz_spark.core.errors import ensure_error_column
    from pipz_spark.functions import python_apply

    with _pytest.raises(ValueError, match="reserved"):
        python_apply("bad", lambda x: x, ["x"], "int", output=ERROR_COL)
    # a pre-existing output column keeps its PRE-STEP value on errored
    # rows (they skipped the step — DIVERGENCES #3 semantics)
    df = ensure_error_column(
        spark.createDataFrame([(1, 10), (2, 20)], "x int, y int")
    )
    from pipz_spark import P

    tainted = P.apply("taint", error_when=F.col("x") == 2, message="bad")(df)
    out = python_apply("double", lambda x: x * 2, ["x"], "int", output="y")(tainted)
    vals = {r["x"]: r["y"] for r in out.collect()}
    assert vals == {1: 2, 2: 20}  # errored row keeps pre-step y


def test_flat_map_rejects_reserved_input_column(spark):
    import pytest as _pytest

    from pipz_spark.core.errors import ensure_error_column
    from pipz_spark.functions import python_flat_map

    df = ensure_error_column(
        spark.createDataFrame([("a", 1)], "text string, _pz_err int")
    )
    step = python_flat_map("s", lambda t: [(t,)], ["text"], "chunk string")
    with _pytest.raises(ValueError, match="_pz_err"):
        step(df)


def test_python_apply_never_calls_fn_on_dead_letters(spark):
    # dead-lettered rows ride the one Arrow projection masked off: a
    # fn call on them would raise and overwrite the upstream error
    from pipz_spark.core.errors import ensure_error_column

    def only_live(x):
        if x == 2:
            raise AssertionError("fn ran on a dead-lettered row")
        return x * 2

    df = ensure_error_column(spark.createDataFrame([(1,), (2,), (3,)], "x int"))
    tainted = P.apply("taint", error_when=F.col("x") == 2, message="pre-existing")(df)
    for timeout in (None, 5.0):
        out = python_apply(
            "double", only_live, ["x"], "int", output="y", timeout_seconds=timeout
        )(tainted)
        dead = split_failed(out).collect()
        assert [(r["x"], r["y"], r[ERROR_COL]["message"]) for r in dead] == [
            (2, None, "pre-existing")
        ]
        assert sorted((r["x"], r["y"]) for r in split_ok(out).collect()) == [(1, 2), (3, 6)]
