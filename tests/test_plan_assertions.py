"""Plan-shape regression tests (VERDICT r2 #8): the engine's scale
properties — shared exchanges, JVM-side prefilters, no Python in the
metadata path, no single-partition bottlenecks over data-sized frames —
are asserted on the physical plan so a refactor that silently costs 2x at
scale fails CI instead of only showing up in the next benchmark round."""

import pytest
from pyspark.sql import functions as F

from taco_toolbox_spark.checks import transcript_checks
from taco_toolbox_spark.checks.base import DriftCheck
from taco_toolbox_spark.checks.text_equality import text_equality_violations
from taco_toolbox_spark.engine import EngineConfig, run_validation
from taco_toolbox_spark.schema import literal_frame


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return sorted(
        (r.part, r.check_id, r.conv_id, r.turn_idx, r.detail)
        for r in df.collect()
    )


# ---------------------------------------------------------------------------
# literal_frame: small dims must never plan Python RDDs
# ---------------------------------------------------------------------------


def test_literal_frame_values_and_types(spark):
    df = literal_frame(
        spark, [("a", 1), ("b", 2)], "name string, n int"
    )
    assert [f.simpleString() for f in df.schema.fields] == [
        "name:string",
        "n:int",
    ]
    assert sorted((r.name, r.n) for r in df.collect()) == [("a", 1), ("b", 2)]


def test_verdicts_plan_is_python_free(corpus):
    """The check registry re-broadcasts on every verdict action; a
    createDataFrame-based registry plans `Scan ExistingRDD` whose every
    evaluation spawns Python workers (~20s of zero-CPU wait per action,
    measured at 16M turns on a loaded box)."""
    checks = transcript_checks(reference=corpus.clean)
    res = run_validation(corpus.corrupted, checks, baseline=corpus.clean)
    plan = _plan(res.verdicts)
    assert "ExistingRDD" not in plan
    assert "PythonRDD" not in plan


# ---------------------------------------------------------------------------
# text equality: colocated fast path == fingerprint path; the batch battery
# plans no Python evaluation node
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def te_inputs(spark):
    """Adversarial pair: duplicate keys, missing reference rows, null vs
    empty text, plus plain mutations."""
    left = spark.createDataFrame(
        [
            ("p1", "c1", 0, "same"),
            ("p1", "c1", 1, "changed-left"),
            ("p1", "c1", 2, None),  # null vs empty
            ("p1", "c2", 0, "dup"),  # duplicate key, both match
            ("p1", "c2", 0, "dup"),
            ("p2", "c3", 0, "no-ref-row"),
            ("p2", "c4", 0, None),  # null == null
        ],
        "part string, conv_id string, turn_idx int, text string",
    ).cache()
    right = spark.createDataFrame(
        [
            ("c1", 0, "same"),
            ("c1", 1, "changed-right"),
            ("c1", 2, ""),
            ("c2", 0, "dup"),
            ("c4", 0, None),
        ],
        "conv_id string, turn_idx int, text string",
    ).cache()
    return left, right


def test_colocated_matches_fingerprint_path(te_inputs):
    left, right = te_inputs
    fp = text_equality_violations(left, right, colocated=False)
    co = text_equality_violations(left, right, colocated=True)
    assert _rows(fp) == _rows(co)
    got = {(r[2], r[3]) for r in _rows(co)}
    assert got == {("c1", 1), ("c1", 2), ("c3", 0)}


def test_colocated_is_single_scan(te_inputs):
    """colocated=True must scan each input exactly once; the fingerprint
    plan re-scans both sides to fetch sliver texts (right at shuffle scale,
    waste when the join is exchange-free)."""
    left, right = te_inputs
    co_scans = _plan(
        text_equality_violations(left, right, colocated=True)
    ).count("InMemoryTableScan")
    fp_scans = _plan(
        text_equality_violations(left, right, colocated=False)
    ).count("InMemoryTableScan")
    assert co_scans == 2
    assert fp_scans > co_scans


#: physical nodes that run Python: scalar (Arrow or pickled) UDFs and
#: grouped pandas functions
PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")


@pytest.mark.parametrize("colocated", [False, True])
def test_text_equality_python_judge_above_jvm_prefilter(te_inputs, colocated):
    """The judge that used to be a Python UDF above the JVM prefilter is now
    the JVM's null-safe <=> itself: no Python evaluation node in the plan,
    and the <=> judgment sits at the top. Colocated, the prefilter IS the
    judgment (one <=> filter); on the fingerprint path it stays above the
    xxhash64 prefilter, so only the sliver reaches it. Plans print parents
    first."""
    left, right = te_inputs
    plan = _plan(text_equality_violations(left, right, colocated=colocated))
    assert not [n for n in PYTHON_EVAL_NODES if n in plan]
    assert plan.count("<=>") == 1
    if not colocated:
        assert plan.index("<=>") < plan.index("xxhash64")


def test_batch_battery_has_no_python_eval(te_inputs, corpus):
    """The batch battery judges text equality with the JVM's null-safe
    <=> and the verdict registry is a literal relation, so none of its
    plans starts a Python worker (a pandas UDF costs seconds of worker
    start-up for a handful of rows)."""
    left, right = te_inputs
    res = run_validation(
        corpus.corrupted,
        transcript_checks(reference=corpus.clean),
        baseline=corpus.clean,
    )
    plans = {
        "text_equality fingerprint": text_equality_violations(left, right),
        "text_equality colocated": text_equality_violations(
            left, right, colocated=True
        ),
        "battery violations": res.violations,
        "battery verdicts": res.verdicts,
    }
    for name, df in plans.items():
        plan = _plan(df)
        found = [n for n in PYTHON_EVAL_NODES if n in plan]
        assert not found, f"{name} plans {found}"


@pytest.mark.parametrize("method", ["approx", "tdigest"])
def test_drift_check_has_no_python_eval(corpus, method):
    """Both quantile drift methods plan as JVM percentile_approx
    aggregations: "tdigest" is an alias of "approx", not a pandas sketch."""
    check = DriftCheck(
        check_id="len_drift", value_expr="length(text)", method=method
    )
    res = run_validation(corpus.corrupted, [check], baseline=corpus.clean)
    plan = _plan(res.violations)
    found = [n for n in PYTHON_EVAL_NODES if n in plan]
    assert not found, f"drift method {method!r} plans {found}"
    assert "percentile_approx" in plan


# ---------------------------------------------------------------------------
# engine battery: one shared exchange across the window-keyed passes
# ---------------------------------------------------------------------------


def test_engine_reuses_window_exchange(spark, corpus, tmp_path):
    """Monotone, uniqueness-via-window, and contiguity passes are all keyed
    (part, conv_id): over a parquet scan Spark must plan ONE exchange and
    ReusedExchange for the rest — a window-key drift across passes would
    re-shuffle the input per pass. (Asserted on the parquet path: cached
    inputs prune different column sets per branch, which de-canonicalizes
    the exchanges; the production input is a parquet/Iceberg scan.)"""
    p = str(tmp_path / "reuse_corpus")
    corpus.corrupted.write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    checks = transcript_checks()  # window/agg passes only need the table
    res = run_validation(df, checks, baseline=df)
    # AQE only materializes exchange reuse in the FINAL plan — execute first
    res.violations.collect()
    plan = _plan(res.violations)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_summary_single_action_matches_naive(corpus):
    checks = transcript_checks(reference=corpus.clean)
    res = run_validation(
        corpus.corrupted,
        checks,
        EngineConfig(persist_violations=True),
        baseline=corpus.clean,
    )
    s = res.summary()
    assert s["n_violations"] == res.violations.count()
    assert (
        s["failed_part_checks"]
        == res.verdicts.filter(~F.col("passed")).count()
    )
    res.release()


# ---------------------------------------------------------------------------
# partitioning operators: no SinglePartition exchange over data-sized frames
# ---------------------------------------------------------------------------


def test_assign_size_bins_no_data_sized_single_partition(spark):
    from taco_toolbox_spark.operators.partitioning import assign_size_bins

    df = spark.range(0, 5000).select(
        F.concat(F.lit("f"), F.col("id")).alias("fname"),
        (F.col("id") % 97 + 1).alias("sz"),
    )
    out = assign_size_bins(df, "sz", 500, order_cols=["fname"])
    plan = _plan(out)
    # the distributed prefix sum allows ONE SinglePartition frame: the
    # per-bucket totals window (<= n_buckets rows, not data-sized)
    assert plan.count("SinglePartition") <= 1
    assert out.count() == 5000


def test_add_row_position_no_data_sized_single_partition(spark):
    from taco_toolbox_spark.operators.hierarchy import add_row_position

    df = spark.range(0, 5000).select(
        F.concat(F.lit("g"), F.col("id") % 7).alias("g"),
        F.col("id").alias("v"),
    )
    out = add_row_position(df, order_cols=["g", "v"])
    plan = _plan(out)
    assert plan.count("SinglePartition") <= 1
    assert out.count() == 5000


def test_ivf_topk_plan_is_narrow(spark):
    """IVF top-k must stay shuffle-free: the cell assignment is a pure
    projection, the probe filter a plain Filter, and the re-rank a
    TakeOrderedAndProject (partition-local top-k + driver merge) — at
    scale the filter becomes partition pruning on a cell-partitioned
    layout, so any Exchange here would be a plan regression."""
    import numpy as np

    from taco_toolbox_spark.similarity.ann import ivf_topk

    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=8).astype("float32").tolist()) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = _plan(ivf_topk(df, rows[0][1], k=5, n_centroids=4, n_probe=2))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# round-5 operators: scan pruning and join-shape guarantees
# ---------------------------------------------------------------------------


def test_substring_run_scan_pruned_and_no_cartesian(spark, tmp_path):
    """substring_run_pairs over a wide parquet table must (a) read ONLY the
    id + text columns (column pruning at the scan — a scan reading the
    whole row for a 2-column operator is wrong at 100 TB) and (b) never
    plan a cartesian/broadcast-nested-loop join: every join is keyed on
    the shingle or the pair."""
    from taco_toolbox_spark.dedup.substring import substring_run_pairs

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon", "meta" * 50, i * 2) for i in range(20)],
        "doc_id long, text string, payload string, other long",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    out = substring_run_pairs(df, "text", "doc_id", n=3, min_tokens=5)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"doc_id", "text"}, f"scan reads too much: {cols}"


def test_incremental_exact_path_is_semi_join(spark):
    """The exact-vs-existing check must reach the existing corpus through a
    LeftSemi join on the fingerprint key only — the existing side never
    ships text into the shuffle."""
    from taco_toolbox_spark.dedup.incremental import incremental_dedup_verdicts

    new = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string"
    )
    ex = spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string")
    plan = _plan(incremental_dedup_verdicts(new, ex))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_distinctive_terms_partial_agg_and_python_free(spark):
    """The tf aggregation must show map-side partial combine (two
    HashAggregate levels); document frequency is a WINDOW over the term
    partition riding tf's output (round 6 — the old groupBy+join form
    re-derived the token-explode subtree, so the explode must appear
    exactly once); the whole plan stays JVM-side."""
    from taco_toolbox_spark.operators.terms import distinctive_terms

    df = spark.createDataFrame(
        [(1, "x y z"), (2, "x q r")], "doc_id long, text string"
    )
    plan = _plan(distinctive_terms(df, "text", "doc_id", k=2))
    assert plan.count("HashAggregate") >= 2  # partial+final for tf
    assert plan.count("Window") >= 2  # df count + top-k rank
    assert plan.count("Generate") == 1  # ONE token explode, not re-derived
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_categorical_tv_one_input_shuffle_and_broadcast_grid(spark, tmp_path):
    """categorical_tv must aggregate the input ONCE (partial+final
    HashAggregate over the grouped count — the only exchange that sees
    data-sized rows) and reach the baseline through broadcast joins; no
    Python, no cartesian over anything data-sized. The single "Scan
    parquet" pins out the naive union-of-categories grid, whose distinct
    Catalyst collapses into a SECOND full input scan."""
    from taco_toolbox_spark.checks.drift import categorical_tv

    literal_frame(
        spark,
        [("p1", "x"), ("p1", "y"), ("p2", "x")],
        "part string, cat string",
    ).write.parquet(str(tmp_path / "in"))
    df = spark.read.parquet(str(tmp_path / "in"))
    plan = _plan(categorical_tv(df, "cat", "part", {"x": 2, "y": 1}))
    assert plan.count("Scan parquet") == 1
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # baseline side is a literal projection, never a Python RDD scan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan


def test_transition_drift_single_window_broadcast_grid(spark):
    """transition_drift touches the data EXACTLY ONCE: one seq-keyed
    lag/lead window into one explode into one grouped count; the TV sits
    on the grid-sized result (one grid window + broadcast baseline
    joins). The naive union-of-categories grid re-derived the category
    axis from the input — Catalyst collapses that aggregate-over-
    aggregate into a SECOND full pass (scan + window + explode), which
    this test pins out: exactly one Generate and two Window nodes (data
    seq window + grid totals window), no Python, no cartesian."""
    from taco_toolbox_spark.checks.drift import transition_drift

    df = literal_frame(
        spark,
        [("p1", "c1", 0, "u"), ("p1", "c1", 1, "a"), ("p2", "c2", 0, "u")],
        "part string, conv_id string, turn_idx int, role string",
    )
    base = {("<start>", "u"): 2, ("u", "a"): 1, ("a", "<end>"): 1,
            ("u", "<end>"): 1}
    plan = _plan(
        transition_drift(df, "conv_id", ("turn_idx",), "role", "part", base)
    )
    # the seq lag/lead window plans exactly once (the naive grid planned
    # it twice); one grid-sized totals window on top
    assert plan.count("lag(") == 1 and plan.count("lead(") == 1
    assert plan.count("+- Window") == 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan


def test_sequence_check_shares_window_with_monotone(spark, corpus):
    """Adding the role grammar AND a gap bound to a battery that already
    has ts_monotone must NOT add a window operator or an exchange: every
    adjacent-pair check rides one lag window."""
    from taco_toolbox_spark.checks import (
        GapCheck,
        MonotoneCheck,
        role_sequence_check,
    )
    from taco_toolbox_spark.engine import _window_pass

    mono = MonotoneCheck(check_id="ts_monotone", value_col="ts")
    cfg = EngineConfig()
    base = _plan(_window_pass(corpus.corrupted, [mono], cfg))
    both = _plan(
        _window_pass(
            corpus.corrupted,
            [
                mono,
                role_sequence_check(),
                GapCheck(check_id="ts_gap", value_col="ts", max_step=120),
            ],
            cfg,
        )
    )
    assert both.count("Window") == base.count("Window")
    assert both.count("Exchange") == base.count("Exchange")


def test_embedding_drift_plan_broadcast_and_python_free(spark):
    """d3: posexplode + partial/final grouped sums over the data; the
    per-dim baseline reaches the join as a BROADCAST (|dims| rows, never
    a shuffle join); no Python in the plan."""
    from taco_toolbox_spark.checks.drift import embedding_centroid_drift

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(embedding_centroid_drift(e, "embedding", "label"))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # map-side combine on the data-sized aggregation: partial+final pairs
    assert plan.count("HashAggregate") >= 4


def test_token_truncate_single_window_single_exchange(spark):
    """w5: one cumulative window = ONE exchange on the group key; token
    counting stays JVM-side."""
    from taco_toolbox_spark.operators.transcripts import (
        truncate_to_token_budget,
    )

    df = spark.createDataFrame(
        [("a", i, "user", "w1 w2 w3", None) for i in range(4)],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    plan = _plan(truncate_to_token_budget(df, budget=5))
    assert plan.count("Window") == 2  # cumsum + per-group truncated flag
    assert plan.count("Exchange") == 1  # both share the conv_id exchange
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_build_partial_distinct_and_lookup_broadcast(spark):
    """The filter build must partial-aggregate map-side (distinct compiles
    to two HashAggregate levels, capping each task's shuffle output at
    num_bits rows), and the membership test must BROADCAST the filter —
    never shuffle the candidate side against it. Both stay JVM-side."""
    from taco_toolbox_spark.sketches import bloom_maybe_contains, bloom_positions

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, key string")
    pos = bloom_positions(df, ["key"], 1024, 4)
    build_plan = _plan(pos)
    assert build_plan.count("HashAggregate") >= 2  # partial+final distinct
    assert "BatchEvalPython" not in build_plan
    lookup_plan = _plan(bloom_maybe_contains(pos, df, ["key"], 1024, 4))
    assert "BroadcastHashJoin" in lookup_plan or "BroadcastExchange" in lookup_plan
    assert "SortMergeJoin" not in lookup_plan
    assert "BatchEvalPython" not in lookup_plan


def test_incremental_bloom_prefilter_keeps_semi_join_and_broadcast(spark):
    """With the bloom prefilter wired in, the exact path must still reach
    the existing corpus through a LeftSemi join, and the filter itself must
    enter as a broadcast — the prefilter adds no data-sized shuffle."""
    from taco_toolbox_spark.dedup.incremental import (
        exact_keys,
        incremental_dedup_verdicts,
    )
    from taco_toolbox_spark.sketches import bloom_positions

    new = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string"
    )
    ex = spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string")
    bloom = bloom_positions(exact_keys(ex), ["_k"], 1024, 4)
    plan = _plan(
        incremental_dedup_verdicts(
            new, ex, existing_bloom=bloom, bloom_geometry=(1024, 4)
        )
    )
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_reindex_single_window_python_free(spark):
    """reindex_turns is ONE window over the battery key shape — a single
    row_number, no extra exchanges beyond the window's, JVM-only."""
    from taco_toolbox_spark.operators.transcripts import reindex_turns

    df = spark.createDataFrame(
        [("a", 0, "user"), ("a", 2, "tool")],
        "conv_id string, turn_idx int, role string",
    )
    plan = _plan(reindex_turns(df))
    assert plan.count("Window") == 1
    assert plan.count("Exchange") <= 2  # the window's hash partitioning (+AQE read)
    assert "BatchEvalPython" not in plan


def test_topk_join_plans(spark):
    """Join-family plan shapes: (a) the exact anchor broadcasts the QUERY
    side (BroadcastNestedLoopJoin over a broadcast exchange — never a
    shuffled cartesian) and stays Python-free; (b) the blocked path's only
    shuffle exchange sits ABOVE the MapInPandas stage (the corpus scan
    feeds the pandas local-top-k with no exchange below it, so shuffle
    volume is survivors, not |Q| x |C|); (c) the LSH path plans NO
    nested-loop join at all — candidates come from the (band, sig)
    equi-join and the bucket cap is a semi join."""
    import numpy as np

    from taco_toolbox_spark.similarity.join import (
        cosine_topk_join,
        cosine_topk_join_blocked,
        lsh_topk_join,
    )

    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(size=8).astype("float32").tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q, c = df.filter("vec_id % 20 = 0"), df.filter("vec_id % 20 <> 0")

    anchor = _plan(cosine_topk_join(q, c, k=3))
    assert "BroadcastNestedLoopJoin" in anchor
    assert "BroadcastExchange" in anchor
    assert "ArrowEvalPython" not in anchor and "PythonRDD" not in anchor

    blocked = _plan(cosine_topk_join_blocked(q, c, k=3))
    assert "MapInPandas" in blocked
    pandas_pos = blocked.index("MapInPandas")
    first_shuffle = blocked.index("Exchange hashpartitioning")
    # plan strings print top-down: the shuffle must appear BEFORE (above)
    # the pandas stage, i.e. only survivors are exchanged
    assert first_shuffle < pandas_pos
    assert "Exchange hashpartitioning" not in blocked[pandas_pos:]

    lsh = _plan(lsh_topk_join(q, c, k=3, dim=8))
    assert "NestedLoop" not in lsh and "Cartesian" not in lsh
    # round 6: the bucket cap is a WINDOW count over (band, sig) riding
    # the candidate join's exchange (the old semi-join re-ran the
    # signature matmul a second time), so the corpus signature UDF must
    # appear exactly once per join side — 2 Arrow nodes total (query +
    # corpus), not 3
    assert lsh.count("Window") >= 2  # bucket cap + per-query top-k rank
    assert lsh.count("ArrowEvalPython") == 2


def test_fd_violations_no_expand_stacked_partial_aggs(spark):
    """fd_violations must plan as two stacked hash aggregations with
    map-side partials and NO Expand: a count_distinct realization would
    plan an Expand that doubles the first shuffle's rows, and a window
    realization would serialize a hot determinant through one task."""
    from taco_toolbox_spark.checks.fd import fd_violations

    df = spark.createDataFrame(
        [("p1", "search", "tool"), ("p1", "search", "user")],
        "part string, tool string, role string",
    )
    plan = _plan(fd_violations(df, ["tool"], ["role"], "part"))
    assert "Expand" not in plan
    assert "Window" not in plan
    assert plan.count("partial_count") >= 1  # map-side combine, stage 1
    # stage 2 re-aggregates the (det, combo) rows: min/max/sum partials
    assert "partial_min" in plan and "partial_max" in plan


def test_content_digest_plan_is_one_agg_no_python(spark, tmp_path):
    """The digest must compile to exactly one partial/final hash-aggregate
    pair over a pruned scan: no window, no Python eval, and at most the
    aggregate's own exchange (plus the AQE-era spread repartition when the
    input is under-partitioned — here the input carries enough splits that
    the spread is a no-op, so exactly ONE exchange total)."""
    from taco_toolbox_spark.operators.digest import content_digest

    path = str(tmp_path / "wide")
    spark.range(2000).selectExpr(
        "id", "cast(id % 7 as string) g", "concat('t', id) t",
        "id * 2 extra1", "id * 3 extra2",
    ).repartition(8).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    out = content_digest(df, ["id", "t"], ["g"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert plan.count("Exchange") == 1, plan
    for bad in ("Window", "BatchEvalPython", "ArrowEvalPython", "SortAggregate"):
        assert bad not in plan, bad
    # column pruning: the wide extras never reach the physical scan (the
    # logical relation mentions the full file schema; the executed scan's
    # Output/ReadSchema must not)
    assert "extra1" not in plan and "extra2" not in plan


def test_trailing_counts_single_window_single_exchange(spark):
    """The trailing rate window must compile to ONE Window over ONE hash
    exchange on the key — no self-join, no Python eval, no second sort
    beyond the window's own."""
    from taco_toolbox_spark.operators.rolling import trailing_counts

    df = spark.range(0, 1000).selectExpr(
        "id AS event_id",
        "cast(id % 11 AS string) AS k",
        "timestamp '2025-01-01' + make_interval(0,0,0,0,0,0, id) AS ts",
    )
    plan = _plan(trailing_counts(df, ["k"], "ts", 60))
    assert plan.count("Window") == 1, plan
    assert plan.count("Exchange") == 1, plan
    for bad in ("Join", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_trailing_chunked_plan_splits_hot_key(spark):
    """The chunked trailing window must hash-partition on (key, bucket)
    — the skew split — with ONE Window, no join for the boundary
    reconciliation (ghosts arrive by union), and no Python eval."""
    from taco_toolbox_spark.operators.rolling import trailing_counts

    df = spark.range(0, 1000).selectExpr(
        "id AS event_id",
        "cast(id % 11 AS string) AS k",
        "timestamp '2025-01-01' + make_interval(0,0,0,0,0,0, id) AS ts",
    )
    plan = _plan(trailing_counts(df, ["k"], "ts", 60, chunk_seconds=600))
    assert plan.count("Window") == 1, plan
    assert "_bucket" in plan[plan.index("hashpartitioning"):][:200], plan
    assert "Union" in plan, plan
    for bad in ("Join", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_stuck_runs_one_exchange_one_sort(spark):
    """The run-length (gaps-and-islands) pass must stack its two Window
    operators on ONE exchange with ONE sort — no second shuffle for the
    cumulative run-start window, no join, no Python eval."""
    from taco_toolbox_spark.operators.runs import stuck_runs

    df = spark.range(0, 1000).selectExpr(
        "cast(id % 11 as string) AS k",
        "cast(id as int) AS i",
        "case when id % 7 < 4 then 'a' else 'b' end AS v",
    )
    plan = _plan(stuck_runs(df, ["k"], ["i"], "v", 2))
    assert plan.count("Window") == 2, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort ") == 1, plan
    for bad in ("Join", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_engine_runlength_pass_shares_exchange(spark):
    """The engine's RunLengthCheck pass compiles to the same one-exchange
    one-sort shape keyed by (part, conv)."""
    from taco_toolbox_spark.checks.base import RunLengthCheck
    from taco_toolbox_spark.engine import _periodic_pass

    df = spark.range(0, 500).selectExpr(
        "cast(id % 3 as string) AS part",
        "cast(id % 17 as string) AS conv_id",
        "cast(id as int) AS turn_idx",
        "case when id % 5 < 3 then 'u' else 'a' end AS role",
    )
    plan = _plan(
        _periodic_pass(
            df,
            [RunLengthCheck(check_id="r", value_col="role", max_run=2)],
            EngineConfig(),
        )
    )
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort ") == 1, plan
    assert plan.count("Window") == 2, plan


def test_periodic_runs_one_exchange(spark):
    """The periodic-loop pass (summary and overflow grains) must stack
    its Window operators on ONE exchange — the island aggregation reuses
    the window shuffle (grouping keys contain the partition keys) — with
    no join and no Python eval."""
    from taco_toolbox_spark.operators.runs import (
        periodic_overflow,
        periodic_runs,
    )

    df = spark.range(0, 1000).selectExpr(
        "cast(id % 11 as string) AS k",
        "cast(id as int) AS i",
        "case when id % 2 = 0 then 'a' else 'b' end AS v",
    )
    for out in (
        periodic_runs(df, ["k"], ["i"], "v", 2, min_reps=2),
        periodic_overflow(df, ["k"], ["i"], "v", 2, 2),
    ):
        plan = _plan(out)
        assert plan.count("Exchange") == 1, plan
        assert plan.count("Window") == 2, plan
        for bad in ("Join", "BatchEvalPython", "ArrowEvalPython"):
            assert bad not in plan, bad


def test_engine_periodic_pass_shares_exchange(spark):
    """The engine's PeriodicLoopCheck pass compiles to the same
    one-exchange stacked-window shape keyed by (part, conv)."""
    from taco_toolbox_spark.checks.base import PeriodicLoopCheck
    from taco_toolbox_spark.engine import _periodic_pass

    df = spark.range(0, 500).selectExpr(
        "cast(id % 3 as string) AS part",
        "cast(id % 17 as string) AS conv_id",
        "cast(id as int) AS turn_idx",
        "case when id % 2 = 0 then 'u' else 'a' end AS role",
    )
    plan = _plan(
        _periodic_pass(
            df,
            [PeriodicLoopCheck(check_id="l", value_col="role", period=2,
                               max_reps=2)],
            EngineConfig(),
        )
    )
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort ") == 1, plan
    assert plan.count("Window") == 2, plan
    for bad in ("Join", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_stream_battery_passes_no_timestamp_to_python(spark, tmp_path):
    """The stateful battery hands Python epoch microseconds, not a
    timestamp column: Arrow->pandas timestamp conversion costs several
    times an int64 one per conversation call. The operator's input is
    the group, order and ``_us`` columns only."""
    import datetime as dt

    from taco_toolbox_spark.streaming.validate_stream import (
        transcript_violations_stateful,
    )

    path = str(tmp_path / "in")
    spark.createDataFrame(
        [("c", 0, dt.datetime(2025, 1, 1), "x")],
        "conv_id string, turn_idx int, ts timestamp, text string",
    ).write.parquet(path)
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(
        path
    )
    q = (
        transcript_violations_stateful(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_battery_plan")
        .start()
    )
    try:
        q.processAllAvailable()
        todo = [q._jsq.streamingQuery().lastExecution().executedPlan()]
    finally:
        q.stop()
    found = []
    while todo:
        node = todo.pop()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        if node.nodeName() == "FlatMapGroupsInPandasWithState":
            found.append(
                [
                    (f.name(), f.dataType().simpleString())
                    for f in node.child().schema().fields()
                ]
            )
    assert found == [
        [("conv_id", "string"), ("turn_idx", "int"), ("_ts_us", "bigint")]
    ], found


def test_stream_row_pass_prefilters(spark, tmp_path):
    """The stream's row pass is the batch engine's (apply_row_checks): a
    Filter conjunct that is the OR chain over the raw columns drops
    passing rows before any failed-check struct is built. A lone
    ``size(fails) > 0`` filter would build every row's struct array
    first."""
    import datetime as dt
    import re

    from taco_toolbox_spark.checks.base import RowCheck
    from taco_toolbox_spark.streaming.validate_stream import stream_violations

    path = str(tmp_path / "in")
    spark.createDataFrame(
        [("c", 0, dt.datetime(2025, 1, 1), "user", None, "x")],
        "conv_id string, turn_idx int, ts timestamp, role string, "
        "tool string, text string",
    ).write.parquet(path)
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(
        path
    )
    checks = [c for c in transcript_checks() if isinstance(c, RowCheck)]
    q = (
        stream_violations(stream, checks)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_row_pass_plan")
        .start()
    )
    try:
        q.processAllAvailable()
        plan = q._jsq.streamingQuery().lastExecution().optimizedPlan()
    finally:
        q.stop()
    conjuncts, todo = [], [plan]
    while todo:
        node = todo.pop()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        if node.nodeName() == "Filter":
            preds = [node.condition()]
            while preds:
                p = preds.pop()
                if p.nodeName() == "And":
                    preds += [p.left(), p.right()]
                else:
                    conjuncts.append(p)
    prefilters = [
        p.toString()
        for p in conjuncts
        if p.nodeName() == "Or"
        and not re.search(r"size\(|array_compact|filter\(array", p.toString())
    ]
    assert len(prefilters) == 1, [p.toString() for p in conjuncts]
    assert all(col in prefilters[0] for col in ("conv_id", "role", "tool", "ts"))
