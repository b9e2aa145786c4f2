"""SequenceCheck (role-transition grammar) and CategoricalDriftCheck
(exact total-variation categorical drift)."""

import pytest
from pyspark.sql import functions as F

from taco_toolbox_spark.checks import (
    ROLE_TRANSITIONS,
    CategoricalDriftCheck,
    SequenceCheck,
    role_sequence_check,
)
from taco_toolbox_spark.checks.drift import (
    NULL_CATEGORY,
    categorical_counts,
    categorical_tv,
)
from taco_toolbox_spark.engine import EngineConfig, run_validation

SCHEMA = "part string, conv_id string, turn_idx int, role string, ts timestamp"


def _frame(spark, rows):
    return spark.createDataFrame(
        [(p, c, i, r, None) for (p, c, i, r) in rows], SCHEMA
    )


def _viols(res):
    return {
        (r["conv_id"], r["turn_idx"])
        for r in res.violations.select("conv_id", "turn_idx").collect()
    }


def test_sequence_check_flags_transitions_and_opening(spark):
    df = _frame(
        spark,
        [
            # ok conversation
            ("p1", "a", 0, "system"),
            ("p1", "a", 1, "user"),
            ("p1", "a", 2, "assistant"),
            # opens with user (opening rule), then a narrator row: the
            # narrator turn fails as a bad *current* value, and the turn
            # after it fails off the bad prev
            ("p1", "b", 0, "user"),
            ("p1", "b", 1, "narrator"),
            ("p1", "b", 2, "assistant"),
            # system reappearing mid-conversation
            ("p1", "c", 0, "system"),
            ("p1", "c", 1, "user"),
            ("p1", "c", 2, "system"),
        ],
    )
    res = run_validation(df, [role_sequence_check()])
    assert _viols(res) == {("b", 0), ("b", 1), ("b", 2), ("c", 2)}
    # the verdict matrix counts all four under one check_id
    row = res.verdicts.filter(~F.col("passed")).collect()
    assert len(row) == 1 and row[0]["n_violations"] == 4


def test_sequence_check_chunked_parity(spark, corpus):
    """The skew-proof chunked window realizes identical violations,
    including pairs that straddle a chunk boundary."""
    checks = [role_sequence_check()]
    plain = run_validation(corpus.corrupted, checks)
    chunked = run_validation(
        corpus.corrupted, checks, EngineConfig(window_chunk_size=7)
    )
    a = {tuple(r) for r in plain.violations.select("conv_id", "turn_idx").collect()}
    b = {tuple(r) for r in chunked.violations.select("conv_id", "turn_idx").collect()}
    assert a == b and a  # non-empty: bad_role injections must surface


def test_sequence_check_boundary_pair_caught(spark):
    """A disallowed pair exactly at a chunk boundary (turn 4 -> 5 with
    chunk=5) is caught by the boundary reconciliation join."""
    rows = [("p1", "a", i, r) for i, r in enumerate(
        ["system", "user", "assistant", "user", "assistant", "system", "user"]
    )]
    df = _frame(spark, rows)
    res = run_validation(
        df, [role_sequence_check()], EngineConfig(window_chunk_size=5)
    )
    assert _viols(res) == {("a", 5)}


def test_sequence_check_null_current_fails_closed(spark):
    df = _frame(
        spark,
        [("p1", "a", 0, "system"), ("p1", "a", 1, None), ("p1", "a", 2, "user")],
    )
    res = run_validation(df, [role_sequence_check()])
    # NULL role fails as a current value; the following pair has a NULL
    # prev, which adjacent checks skip (vocab checks own NULL roles)
    assert _viols(res) == {("a", 1)}


def test_sequence_check_no_first_rule(spark):
    df = _frame(spark, [("p1", "a", 0, "user"), ("p1", "a", 1, "assistant")])
    check = SequenceCheck(
        check_id="g", value_col="role", allowed=ROLE_TRANSITIONS, first=None
    )
    res = run_validation(df, [check])
    assert _viols(res) == set()


def test_categorical_tv_hand_computed(spark):
    # part A: 3 x, 1 y (N=4); baseline: 4 x, 4 y (N=8)
    # TV = 1/2 (|3/4 - 1/2| + |1/4 - 1/2|) = 1/4
    # integer: |3*8 - 4*4| + |1*8 - 4*4| = 8 + 8 = 16; 16/(2*4*8) = 0.25
    df = spark.createDataFrame(
        [("A", "x")] * 3 + [("A", "y")], "part string, cat string"
    )
    tv = categorical_tv(df, "cat", "part", {"x": 4, "y": 4}).collect()[0]
    assert tv["n_part"] == 4 and tv["tv_num"] == 16 and tv["tv"] == 0.25


def test_categorical_tv_disjoint_categories(spark):
    """Mass on categories the other side lacks counts fully: disjoint
    supports give TV = 1. NULL categories get their own bucket."""
    df = spark.createDataFrame(
        [("A", "x"), ("A", None)], "part string, cat string"
    )
    tv = categorical_tv(df, "cat", "part", {"z": 5}).collect()[0]
    assert tv["tv"] == 1.0
    base = categorical_counts(df, "cat")
    assert base == {"x": 1, NULL_CATEGORY: 1}


def test_categorical_drift_check_in_engine(spark):
    """Engine integration: baseline resolved from the clean frame; only the
    drifted partition fails; verdict matrix carries the check."""
    clean = spark.createDataFrame(
        [("p1", "a", 0, "user", None), ("p1", "b", 0, "assistant", None)] * 10,
        SCHEMA,
    )
    skewed = spark.createDataFrame(
        # p1 matches the baseline mix; p2 is all-user (TV = 0.5)
        [("p1", "a", 0, "user", None), ("p1", "b", 0, "assistant", None)] * 10
        + [("p2", "c", 0, "user", None)] * 10,
        SCHEMA,
    )
    check = CategoricalDriftCheck(
        check_id="role_drift", cat_col="role", threshold=0.25
    )
    res = run_validation(skewed, [check], baseline=clean)
    failed = {r["part"] for r in res.verdicts.filter(~F.col("passed")).collect()}
    assert failed == {"p2"}
    detail = res.violations.collect()[0]["detail"]
    assert "categorical_tv=0.5" in detail


def test_categorical_drift_check_requires_baseline(spark):
    df = spark.createDataFrame([("p1", "a", 0, "user", None)], SCHEMA)
    with pytest.raises(ValueError, match="no baseline"):
        run_validation(df, [CategoricalDriftCheck(check_id="d", cat_col="role")])


def test_categorical_state_roundtrip(spark, tmp_path):
    """Per-partition histograms recorded into the checkpoint manifest merge
    (integer addition — exact) into the same baseline a direct scan gives,
    and survive a save/load cycle."""
    from taco_toolbox_spark.checkpoint import (
        CheckpointManifest,
        merged_categorical_from_manifest,
        record_categorical_state,
    )

    df = spark.createDataFrame(
        [("p1", "a", 0, "user", None)] * 3
        + [("p1", "b", 0, "assistant", None)] * 2
        + [("p2", "c", 0, "user", None), ("p2", "c", 1, None, None)],
        SCHEMA,
    )
    path = str(tmp_path / "manifest.json")
    m = CheckpointManifest.load_or_create(path, "r1", "in")
    record_categorical_state(m, df, "role")
    m.save()
    m2 = CheckpointManifest.load_or_create(path, "r1", "in")
    merged = merged_categorical_from_manifest(m2, "role")
    assert merged == categorical_counts(df, "role")
    assert merged == {"user": 4, "assistant": 2, NULL_CATEGORY: 1}
    # the merged dict drives the check directly
    tv = categorical_tv(df, "role", "part", merged)
    assert {r["part"]: r["n_part"] for r in tv.collect()} == {"p1": 5, "p2": 2}
    assert merged_categorical_from_manifest(m2, "absent") == {}


def test_categorical_tv_int_column_with_null_under_ansi(spark, tmp_path):
    """An integer category column holding a NULL goes through the
    histogram, the TV and the checkpoint state with ANSI mode on (Spark
    4's default): the value is cast to string before NULL folds into
    NULL_CATEGORY, so no '<null>' -> int cast is ever attempted, and the
    TV rows equal the conditional path's at one constant condition."""
    from taco_toolbox_spark.checkpoint import (
        CheckpointManifest,
        record_categorical_state,
    )
    from taco_toolbox_spark.checks.drift import (
        conditional_counts,
        conditional_tv,
    )

    df = spark.createDataFrame(
        [("p1", 1), ("p1", 2), ("p1", None), ("p2", 1), ("p2", 1)],
        "part string, cat int",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        base = categorical_counts(df, "cat")
        assert base == {"1": 3, "2": 1, NULL_CATEGORY: 1}
        got = sorted(
            tuple(r) for r in categorical_tv(df, "cat", "part", base).collect()
        )
        ct = conditional_tv(
            df, "'all'", "cat", "part", conditional_counts(df, "'all'", "cat")
        )
        want = sorted(
            tuple(r)
            for r in ct.select("part", "n_part", "tv_num", "tv").collect()
        )
        assert got == want and len(got) == 2
        m = CheckpointManifest.load_or_create(
            str(tmp_path / "manifest.json"), "r1", "in"
        )
        record_categorical_state(m, df, "cat")
        assert m.doc["partitions"]["p1"]["categorical"]["cat"] == {
            "1": 1, "2": 1, NULL_CATEGORY: 1,
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_gap_check_max_and_min_step(spark):
    """GapCheck flags adjacent steps above max_step / below min_step; the
    violation lands on the CURRENT row of the bad pair; NULL values never
    fire (they are the row pass's problem)."""
    import datetime as dt

    from taco_toolbox_spark.checks import GapCheck

    t0 = dt.datetime(2025, 1, 1)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    df = spark.createDataFrame(
        [
            ("p1", "a", 0, "system", s(0)),
            ("p1", "a", 1, "user", s(30)),
            ("p1", "a", 2, "assistant", s(7200)),  # +7170s > max
            ("p1", "a", 3, "user", s(7100)),       # -100s < min
            ("p1", "b", 0, "system", s(0)),
            ("p1", "b", 1, "user", None),          # NULL never fires
            ("p1", "b", 2, "assistant", s(60)),
        ],
        SCHEMA,
    )
    res = run_validation(
        df,
        [GapCheck(check_id="ts_gap", value_col="ts", max_step=120, min_step=0)],
    )
    assert _viols(res) == {("a", 2), ("a", 3)}


def test_gap_check_chunked_parity_and_boundary(spark):
    """The skew-proof chunked window realizes identical gap violations,
    including a bad step exactly at a chunk boundary (turn 1 -> 2 with
    chunk=2)."""
    import datetime as dt

    from taco_toolbox_spark.checks import GapCheck

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        ("p1", "a", i, "user", t0 + dt.timedelta(seconds=sec))
        for i, sec in enumerate([0, 30, 7200, 7230, 99999, 99999 + 60])
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    checks = [GapCheck(check_id="ts_gap", value_col="ts", max_step=120)]
    plain = run_validation(df, checks)
    chunked = run_validation(df, checks, EngineConfig(window_chunk_size=2))
    assert _viols(plain) == _viols(chunked) == {("a", 2), ("a", 4)}


def test_sequence_last_rule_endpoint_only(spark):
    """allowed=None drops the adjacent-pair rule: an endpoint-only grammar
    judges the closing value at the group's max turn_idx and nothing else
    (the mid-conversation narrator is NOT this check's problem)."""
    from taco_toolbox_spark.checks import ROLE_LAST, role_sequence_check

    df = _frame(
        spark,
        [
            ("p1", "a", 0, "system"),
            ("p1", "a", 1, "narrator"),   # mid-conv: not flagged here
            ("p1", "a", 2, "assistant"),  # closes fine
            ("p1", "b", 0, "system"),
            ("p1", "b", 3, "narrator"),   # closes badly -> flagged at 3
            ("p1", "c", 0, "system"),     # single-turn conv closing 'system'
        ],
    )
    res = run_validation(
        df,
        [
            role_sequence_check(
                check_id="role_close", allowed=None, first=None, last=ROLE_LAST
            )
        ],
    )
    assert _viols(res) == {("b", 3), ("c", 0)}


def test_sequence_first_and_last_share_one_agg(spark, corpus):
    """Opening and closing rules of the same battery compile into ONE
    group aggregation (a single Aggregate keyed by (part, conv_id)), and
    together report exactly the union of each rule run alone."""
    from taco_toolbox_spark.checks import ROLE_LAST, role_sequence_check
    from taco_toolbox_spark.engine import _seq_endpoint_pass

    both = role_sequence_check(
        check_id="role_endpoints", allowed=None, last=ROLE_LAST
    )
    out = _seq_endpoint_pass(corpus.corrupted, [both], EngineConfig())
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1
    only_first = run_validation(
        corpus.corrupted,
        [role_sequence_check(check_id="role_endpoints", allowed=None)],
    )
    only_last = run_validation(
        corpus.corrupted,
        [
            role_sequence_check(
                check_id="role_endpoints", allowed=None, first=None,
                last=ROLE_LAST,
            )
        ],
    )
    combined = run_validation(corpus.corrupted, [both])
    assert _viols(combined) == _viols(only_first) | _viols(only_last)


def test_embedding_centroid_drift_exact(spark):
    """Hand-checked drift: part 'a' vectors average to the global x-axis
    direction (cosine high), part 'b' points orthogonally (cosine lower);
    every value reproduces bit-for-bit under repartitioning because
    accumulation is integer-exact."""
    from taco_toolbox_spark.checks.drift import embedding_centroid_drift

    rows = [
        ("a", [1.0, 0.0]), ("a", [1.0, 0.0]),
        ("b", [0.0, 1.0]), ("b", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<float>")
    out = {r["part"]: r.asDict() for r in
           embedding_centroid_drift(df, "embedding", "label").collect()}
    # global centroid direction = (1, 1)/sqrt(2); each part's = an axis
    import math
    for p in ("a", "b"):
        assert out[p]["n_vecs"] == 2
        assert abs(out[p]["cosine"] - 1 / math.sqrt(2)) < 1e-12
    # order-independence: a different partitioning gives IDENTICAL bits
    out2 = {r["part"]: r.asDict() for r in
            embedding_centroid_drift(
                df.repartition(7), "embedding", "label"
            ).collect()}
    assert out == out2


def test_embedding_drift_against_separate_baseline(spark):
    """With an explicit baseline frame, a partition identical to the
    baseline distribution has cosine 1 (drift 0.0 exactly)."""
    from taco_toolbox_spark.checks.drift import embedding_centroid_drift

    base = spark.createDataFrame(
        [("x", [1.0, 2.0, 2.0])] * 4, "label string, embedding array<float>"
    )
    cur = spark.createDataFrame(
        [("p1", [1.0, 2.0, 2.0]), ("p1", [1.0, 2.0, 2.0]),
         ("p2", [2.0, -1.0, 0.0])],
        "label string, embedding array<float>",
    )
    out = {r["part"]: r.asDict() for r in
           embedding_centroid_drift(
               cur, "embedding", "label", baseline=base
           ).collect()}
    assert out["p1"]["drift"] == 0.0
    assert out["p2"]["cosine"] == 0.0  # orthogonal to baseline centroid


def test_embedding_state_roundtrip(spark, tmp_path):
    """Per-partition centroid sums recorded into the checkpoint manifest
    merge (integer addition — exact) into the same corpus baseline a
    direct scan gives, survive save/load, and drive
    embedding_centroid_drift without rescanning the baseline."""
    from taco_toolbox_spark.checkpoint import (
        CheckpointManifest,
        merged_embedding_from_manifest,
        record_embedding_state,
    )
    from taco_toolbox_spark.checks.drift import (
        embedding_centroid_drift,
        embedding_centroid_sums,
    )

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("a", [0.5, 0.5]), ("b", [0.0, 1.0])],
        "label string, embedding array<float>",
    )
    path = str(tmp_path / "manifest.json")
    m = CheckpointManifest.load_or_create(path, "r1", "in")
    record_embedding_state(m, df, "embedding", "label")
    m.save()
    m2 = CheckpointManifest.load_or_create(path, "r1", "in")
    merged = merged_embedding_from_manifest(m2, "embedding")
    direct = {}
    for r in (
        embedding_centroid_sums(df, "embedding", "label")
        .groupBy("dim").sum("s").collect()
    ):
        direct[str(r["dim"])] = int(r["sum(s)"])
    assert merged == direct and merged
    assert merged_embedding_from_manifest(m2, "absent") == {}
    # manifest state drives the drift check: identical to the self-baseline
    via_state = {r["part"]: r["cosine"] for r in embedding_centroid_drift(
        df, "embedding", "label", baseline_sums=merged).collect()}
    direct_drift = {r["part"]: r["cosine"] for r in embedding_centroid_drift(
        df, "embedding", "label").collect()}
    assert via_state == direct_drift


def test_gap_check_requires_a_bound():
    from taco_toolbox_spark.checks import GapCheck

    with pytest.raises(ValueError, match="max_step"):
        GapCheck(check_id="g", value_col="ts")
