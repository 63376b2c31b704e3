"""Unit tests for the data-plane connectors (SURVEY §2.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipz_spark import ERROR_COL, P, split_failed, split_ok


def test_sequence_fail_fast(orders):
    pipe = P.sequence(
        "flow",
        P.apply("validate", error_when=F.col("o_totalprice") <= 0, message="bad total"),
        P.transform("double", {"o_totalprice": F.col("o_totalprice") * 2}),
    )
    out = pipe(orders)
    # errored rows skipped the transform (fail-fast)
    bad = out.where(F.col(ERROR_COL).isNotNull()).select("o_totalprice").collect()
    assert all(r[0] <= 0 for r in bad)
    ok = split_ok(out)
    src_ok = orders.where("o_totalprice > 0")
    assert ok.count() == src_ok.count()


def test_sequence_runtime_modification(orders):
    pipe = P.sequence("flow", P.transform("a", {"x": F.lit(1)}))
    pipe.register(P.transform("b", {"y": F.lit(2)}))
    pipe.before("a", P.transform("z", {"z": F.lit(0)}))
    assert [s.name for s in pipe.children] == ["z", "a", "b"]
    out = pipe(orders)
    assert {"x", "y", "z"} <= set(out.columns)
    pipe.remove("b")
    assert [s.name for s in pipe.children] == ["z", "a"]
    pipe.replace("a", P.transform("a2", {"x": F.lit(9)}))
    assert [s.name for s in pipe.children] == ["z", "a2"]


def test_switch_routing_and_passthrough(orders):
    sw = P.switch(
        "by-status",
        F.col("o_orderstatus"),
        {
            "O": P.transform("open", {"tag": F.lit("open")}),
            "F": P.transform("filled", {"tag": F.lit("filled")}),
        },
    )
    out = split_ok(sw(orders))
    assert out.count() == orders.count()  # no-match passes through
    got = {r["o_orderstatus"]: r["tag"] for r in out.select("o_orderstatus", "tag").distinct().collect()}
    assert got.get("O") == "open"
    assert got.get("F") == "filled"
    assert got.get("P") is None  # passthrough arm: NULL tag


def test_switch_errored_rows_passthrough(orders):
    pipe = P.sequence(
        "flow",
        P.apply("validate", error_when=F.col("o_totalprice") <= 0, message="bad"),
        P.switch(
            "route",
            F.col("o_orderstatus"),
            {"O": P.transform("open", {"tag": F.lit("open")})},
        ),
    )
    out = pipe(orders)
    # errored rows must not be routed/tagged
    bad = out.where(F.col(ERROR_COL).isNotNull())
    assert bad.where(F.col("tag").isNotNull()).count() == 0


def test_filter_conditional_application(customer):
    step = P.filter_if(
        "building-only",
        F.col("c_mktsegment") == "BUILDING",
        P.transform("flag", {"c_acctbal": F.col("c_acctbal") + 1000}),
    )
    out = split_ok(step(customer))
    assert out.count() == customer.count()
    joined = out.select("c_custkey", F.col("c_acctbal").alias("new")).join(
        customer.select("c_custkey", "c_acctbal", "c_mktsegment"), "c_custkey"
    )
    for r in joined.collect():
        expected = r["c_acctbal"] + 1000 if r["c_mktsegment"] == "BUILDING" else r["c_acctbal"]
        assert abs(r["new"] - expected) < 1e-9


def test_concurrent_reducer(lineitem):
    branches = {
        "gross": {"price": F.col("l_extendedprice")},
        "disc": {"price": F.col("l_extendedprice") * (1 - F.col("l_discount"))},
        "taxed": {"price": F.col("l_extendedprice") * (1 + F.col("l_tax"))},
    }
    step = P.concurrent(
        "best-price",
        branches,
        reducer=lambda b: {
            "best_price": F.round(
                F.least(b["gross"]["price"], b["disc"]["price"], b["taxed"]["price"]), 2
            )
        },
    )
    out = split_ok(step(lineitem))
    r = out.select("l_extendedprice", "l_discount", "l_tax", "best_price").first()
    expected = min(
        r["l_extendedprice"],
        r["l_extendedprice"] * (1 - r["l_discount"]),
        r["l_extendedprice"] * (1 + r["l_tax"]),
    )
    assert abs(r["best_price"] - round(expected, 2)) < 1e-6


def test_concurrent_no_reducer_returns_original(orders):
    step = P.concurrent("fanout", {"a": {"x": F.lit(1)}, "b": {"y": F.lit(2)}})
    out = step(orders)
    assert set(out.columns) == set(orders.columns) | {ERROR_COL}


def test_fallback_first_success(orders):
    step = P.fallback(
        "price-source",
        [
            P.Attempt("primary", {"px": F.col("o_totalprice")},
                      fail_when=F.col("o_totalprice") <= 0),
            P.Attempt("backup", {"px": F.lit(0.01)}),
        ],
    )
    out = step(orders)
    assert split_failed(out).count() == 0  # backup always succeeds
    ok = split_ok(out)
    neg = ok.where(F.col("o_totalprice") <= 0)
    assert neg.where(F.col("px") != 0.01).count() == 0
    pos = ok.where(F.col("o_totalprice") > 0)
    assert pos.where(F.col("px") != F.col("o_totalprice")).count() == 0


def test_fallback_all_fail_is_error(orders):
    step = P.fallback(
        "doomed",
        [
            P.Attempt("a", {"px": F.lit(1.0)}, fail_when=F.lit(True)),
            P.Attempt("b", {"px": F.lit(2.0)}, fail_when=F.lit(True)),
        ],
    )
    out = step(orders)
    assert split_failed(out).count() == orders.count()
    err = split_failed(out).select(ERROR_COL).first()[0]
    assert "all 2 attempts failed" in err["message"]
    assert err["path"] == ["doomed"]


def test_race_priority_semantics(orders):
    step = P.race(
        "sources",
        [
            P.Attempt("fast", {"v": F.lit("fast")}, fail_when=F.col("o_orderstatus") == "O"),
            P.Attempt("slow", {"v": F.lit("slow")}),
        ],
    )
    out = split_ok(step(orders))
    o_rows = out.where(F.col("o_orderstatus") == "O")
    assert o_rows.where(F.col("v") != "slow").count() == 0
    rest = out.where(F.col("o_orderstatus") != "O")
    assert rest.where(F.col("v") != "fast").count() == 0


def test_contest_winning_condition(lineitem):
    # cheapest-rate-under-threshold (mirror of contest.go:43-51)
    step = P.contest(
        "best-under-cap",
        condition=lambda u: u["rate"] < 1000.0,
        attempts=[
            P.Attempt("carrier-a", {"rate": F.col("l_extendedprice") * 0.01}),
            P.Attempt("carrier-b", {"rate": F.col("l_extendedprice") * 0.005}),
            P.Attempt("carrier-c", {"rate": F.lit(999.0)}),
        ],
    )
    out = step(lineitem)
    ok = split_ok(out)
    # winner is the FIRST attempt meeting the cap, not the cheapest
    sample = ok.select("l_extendedprice", "rate").collect()
    for r in sample:
        a, b = r["l_extendedprice"] * 0.01, r["l_extendedprice"] * 0.005
        expected = a if a < 1000 else (b if b < 1000 else 999.0)
        assert abs(r["rate"] - expected) < 1e-9


def test_handle_dead_letter(orders):
    captured = {}

    def collect_dlq(failed_df):
        captured["df"] = failed_df

    pipe = P.handle(
        "guarded",
        P.apply("validate", error_when=F.col("o_totalprice") <= 0, message="bad"),
        handler=collect_dlq,
    )
    out = pipe(orders)
    n_bad = orders.where("o_totalprice <= 0").count()
    # original errors pass through unchanged (handle.go:96)
    assert split_failed(out).count() == n_bad
    assert captured["df"].count() == n_bad


def test_plan_json_export(orders):
    pipe = P.sequence(
        "root",
        P.apply("validate", error_when=F.lit(False), message="x"),
        P.switch("route", F.col("o_orderstatus"), {"O": P.transform("t", {"z": F.lit(1)})}),
    )
    node = pipe.to_node()
    assert node["name"] == "root"
    assert node["type"] == "sequence"
    names = [s.name for s in pipe.walk()]
    assert names == ["root", "validate", "route", "t"]
    assert pipe.find_by_name("route").node_type == "switch"
    assert pipe.count() == 4


def test_switch_expression_mode_single_scan(spark):
    # Expression-shaped branches must compile to ONE projection over
    # ONE scan (VERDICT r1: no filter-split/union re-scans).
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    sw = P.switch(
        "by-status",
        F.col("o_orderstatus"),
        {
            "O": {"tag": F.lit("open"), "score": F.col("o_totalprice") * 2},
            "F": {"tag": F.lit("filled")},
        },
        default={"tag": F.lit("other")},
    )
    out = sw(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    got = {
        r["o_orderstatus"]: (r["tag"], r["score"])
        for r in out.select("o_orderstatus", "tag", "score").distinct().collect()
    }
    assert got["O"][0] == "open" and got["O"][1] is not None
    assert got["F"] == ("filled", None)
    assert got["P"] == ("other", None)


def test_filter_if_expression_mode_single_scan(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    step = P.filter_if(
        "building-bonus",
        F.col("c_mktsegment") == "BUILDING",
        {"c_acctbal": F.col("c_acctbal") + 1000},
    )
    out = step(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert out.count() == df.count()


def test_first_qualifying_null_totality(orders):
    # A NULL fail_when must count as a failed attempt, not a silent
    # pass-through: every row ends with a result OR an error.
    null_cond = F.when(F.lit(False), F.lit(True))  # always NULL boolean
    step = P.fallback(
        "maybe",
        [P.Attempt("a", {"px": F.lit(1.0)}, fail_when=~null_cond)],
    )
    out = step(orders)
    # fail_when = NOT NULL = NULL → qual coalesces to False → all error
    assert split_failed(out).count() == orders.count()


def test_winner_takes_whole_result(orders):
    # ADVICE r1: winner is chosen per ROW, not per column. Attempt A
    # (qualifying) sets only x; attempt B (also qualifying) sets x and
    # y. y must stay NULL (input value), never taken from B.
    step = P.race(
        "mixed-columns",
        [
            P.Attempt("a", {"x": F.lit("ax")}),
            P.Attempt("b", {"x": F.lit("bx"), "y": F.lit("by")}),
        ],
    )
    out = split_ok(step(orders))
    assert out.where(F.col("x") != "ax").count() == 0
    assert out.where(F.col("y").isNotNull()).count() == 0


def test_handle_step_handler_executes(orders):
    from pipz_spark.core.step import Step

    seen = {}

    def dlq_fn(df, path):
        seen["n"] = df.count()
        return df

    pipe = P.handle(
        "guarded",
        P.apply("validate", error_when=F.col("o_totalprice") <= 0, message="bad"),
        handler=Step("dlq-counter", dlq_fn),
    )
    out = pipe(orders)
    n_bad = orders.where("o_totalprice <= 0").count()
    assert seen["n"] == n_bad
    assert out.where(F.col(ERROR_COL).isNotNull()).count() == n_bad


def test_plan_render(orders):
    pipe = P.sequence(
        "root",
        P.apply("validate", error_when=F.lit(False), message="x"),
        P.switch("route", F.col("o_orderstatus"), {"O": P.transform("t", {"z": F.lit(1)})}),
    )
    art = pipe.render()
    assert "sequence:root" in art.splitlines()[0]
    assert any("apply:validate" in ln for ln in art.splitlines())
    assert any("transform:t" in ln for ln in art.splitlines())


def test_step_mode_caches_released(spark):
    # switch/filter/handle persist internally per apply; release_caches
    # (called per micro-batch by run_step_stream) must free them so a
    # long-running stream doesn't accumulate cached blocks.
    # (fresh uncached input — the table fixtures are session-cached and
    # would keep their own entry in getPersistentRDDs)
    rows = spark.range(100).select(F.col("id"), (F.col("id") * 10.0).alias("o_totalprice"))
    child = P.apply("noop", error_when=F.lit(False), message="x")
    pipe = P.filter_if("maybe", F.col("o_totalprice") > 100, child)
    sc = spark.sparkContext
    # the owner is this thread's: drain what earlier tests left in it
    # (handle/switch frames) so the baseline counts only foreign caches
    pipe.release_caches()
    baseline = sc._jsc.getPersistentRDDs().size()
    out = pipe(rows)
    out.count()
    assert sc._jsc.getPersistentRDDs().size() > baseline
    pipe.release_caches()
    assert sc._jsc.getPersistentRDDs().size() == baseline
    # repeated drain is a no-op, and close() still works afterwards
    pipe.release_caches()
    pipe.close()


def test_release_on_another_thread_keeps_this_threads_caches(spark):
    # the cache owner is per caller context: a release on another
    # thread (a second stream's foreachBatch, a concurrent batch job)
    # must not unpersist the frame a live grouped_rank plan reads —
    # that cache is what keeps its two range-partition passes on the
    # same sampled boundaries
    import threading

    from pipz_spark.datapipe import grouped_rank, release_caches

    # fresh uncached input: the table fixtures are session-cached and
    # would put an InMemoryTableScan of their own into the plan
    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 3).alias("grp"), ((F.col("id") * 7) % 101).alias("score")
    )
    out = grouped_rank(
        df, group_cols=["grp"], order_cols=[F.col("score").desc(), F.col("id")]
    )
    released: list[int] = []
    other = threading.Thread(target=lambda: released.append(release_caches()))
    other.start()
    other.join(timeout=60)
    try:
        assert not other.is_alive()
        assert released == [0]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    finally:
        release_caches()


def test_shared_owner_loses_no_frame_under_concurrent_track_and_release():
    # workers append to the caller's owner list while a sibling drains
    # it: every frame must be unpersisted exactly once
    import sys
    import threading

    from pipz_spark.control import worker_pool
    from pipz_spark.core.caches import release_caches, track, worker_context

    class Frame:
        unpersisted = 0

        def unpersist(self):
            self.unpersisted += 1

    release_caches()
    frames = [Frame() for _ in range(16 * 300)]
    released: list[int] = []
    done = threading.Event()

    def drain():
        while not done.is_set():
            released.append(release_caches())

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        drainer = threading.Thread(target=worker_context().run, args=(drain,))
        drainer.start()
        worker_pool(
            [lambda i=i: [track(f) for f in frames[i::16]] for i in range(16)],
            workers=16,
        )
        done.set()
        drainer.join(timeout=30)
        assert not drainer.is_alive()
    finally:
        sys.setswitchinterval(prev)
    released.append(release_caches())
    assert sum(released) == len(frames)
    assert all(f.unpersisted == 1 for f in frames)


def test_worker_tracks_into_an_owner_its_caller_never_touched():
    # a fresh thread has no owner until first use; timeout's worker
    # must still track into the caller's, not into one of its own
    import threading

    from pipz_spark.control import timeout
    from pipz_spark.core.caches import release_caches, track

    class Frame:
        def unpersist(self):
            pass

    got: list[int] = []

    def caller():
        timeout(lambda: track(Frame()), 30)
        got.append(release_caches())

    t = threading.Thread(target=caller)
    t.start()
    t.join(timeout=30)
    assert not t.is_alive()
    assert got == [1]


def test_caches_tracked_under_timeout_belong_to_the_caller(spark):
    # timeout runs the action on a worker thread; what the action
    # caches must still be freed by the caller's release
    from pipz_spark.control import timeout
    from pipz_spark.datapipe import near_dup_pairs, release_caches

    release_caches()
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    baseline = sc._jsc.getPersistentRDDs().size()
    assert timeout(lambda: near_dup_pairs(docs, threshold=0.5).count(), 300) == 1
    assert sc._jsc.getPersistentRDDs().size() > baseline
    assert release_caches() > 0
    assert sc._jsc.getPersistentRDDs().size() == baseline


def test_effect_and_concurrent_mint_distinct_observation_names(spark, monkeypatch):
    # an effect named "fan/left" and a concurrent "fan" with a branch
    # "left" observe under the same base name; one counter for the whole
    # operator layer keeps the names apart in a fresh process
    from itertools import count

    from pipz_spark.operators import connectors, processors

    for mod in (processors, connectors):
        if hasattr(mod, "_obs_seq"):
            monkeypatch.setattr(mod, "_obs_seq", count())
    step = P.sequence(
        "s",
        P.effect("fan/left", metrics={"n": F.count(F.lit(1))}),
        P.concurrent("fan", {"left": {"m": F.col("id")}}),
    )
    assert step(spark.range(4)).count() == 4


def test_switch_evaluates_a_computed_key_once_per_row(spark):
    # a computed key is staged once per row; inlined into every arm it
    # is redrawn per arm, and about a quarter of the rows match none
    key = F.when(F.rand(7) < 0.5, F.lit("a")).otherwise(F.lit("b"))
    step = P.switch("ab", key, {
        "a": {"x": F.lit("a"), "y": F.lit("a")},
        "b": {"x": F.lit("b"), "y": F.lit("b")},
    })
    out = step(spark.range(2000))
    assert out.where(F.col("x").isNull() | (F.col("x") != F.col("y"))).count() == 0
