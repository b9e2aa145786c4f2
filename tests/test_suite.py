import json

import pytest
from pyspark.sql import functions as F

from taco_toolbox_spark.checks import transcript_checks
from taco_toolbox_spark.checks.base import DriftCheck
from taco_toolbox_spark.engine import run_validation
from taco_toolbox_spark.suite import (
    Suite,
    SuiteError,
    load_suite,
    parse_suite,
    rule_coverage,
    transcript_suite_spec,
)

TRANSCRIPT_COLS = ["part", "conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _verdict_map(res):
    return {
        (r["part"], r["check_id"]): (r["passed"], r["n_violations"])
        for r in res.verdicts.collect()
    }


def test_stock_suite_matches_code_built_battery(spark, corpus):
    """The declarative transcript template must produce the IDENTICAL
    verdict matrix as the hand-built transcript_checks battery —
    text_equality included (the template now carries it, as its
    docstring always claimed)."""
    suite = parse_suite(transcript_suite_spec(), reference=corpus.clean)
    declared = _verdict_map(
        suite.run(corpus.corrupted, baseline=corpus.clean)
    )
    code = _verdict_map(
        run_validation(
            corpus.corrupted,
            transcript_checks(reference=corpus.clean),
            baseline=corpus.clean,
        )
    )
    assert declared == code
    assert any(cid == "text_equality" for _, cid in declared)
    # and the corrupted corpus actually fails somewhere (not a vacuous test)
    assert any(not ok for ok, _ in declared.values())


def _reference_free_spec() -> dict:
    spec = transcript_suite_spec()
    spec["checks"] = [
        e for e in spec["checks"] if e["type"] != "text_equality"
    ]
    return spec


def test_suite_round_trips_through_dump(spark):
    suite = parse_suite(_reference_free_spec())
    again = parse_suite(suite.dump())
    assert again.dump() == suite.dump()
    # dump is the audit trail: library defaults are materialized, so an
    # archived dump replays identically even if a default changes later
    drift = next(
        e for e in suite.dump()["checks"] if e["type"] == "drift"
    )
    assert drift["method"] == "approx" and drift["threshold"] == 0.25
    assert drift["probes"] == [0.1, 0.25, 0.5, 0.75, 0.9]
    assert [c.check_id for c in again.checks] == [
        c.check_id for c in suite.checks
    ]
    assert again.cfg == suite.cfg


def test_load_suite_from_file(tmp_path, spark, corpus):
    p = tmp_path / "suite.json"
    p.write_text(json.dumps(transcript_suite_spec()))
    # the stock template carries text_equality, so loading it without a
    # bound reference is the documented bind-time error
    with pytest.raises(SuiteError, match="reference"):
        load_suite(str(p))
    suite = load_suite(str(p), reference=corpus.clean)
    res = suite.run(corpus.corrupted, baseline=corpus.clean)
    assert res.summary()["n_violations"] > 0


def test_conditional_row_rule_fires(spark):
    df = spark.createDataFrame(
        [
            ("p", "c", 0, "tool", None),  # violates: tool role, no tool name
            ("p", "c", 1, "user", None),  # fine
            ("p", "c", 2, "tool", "search"),  # fine
        ],
        "part string, conv_id string, turn_idx int, role string, tool string",
    )
    suite = parse_suite(
        {
            "checks": [
                {
                    "type": "row",
                    "id": "tool_named",
                    "predicate": "role != 'tool' OR tool IS NOT NULL",
                }
            ]
        }
    )
    v = suite.run(df).violations.collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in v] == [("c", 0)]


def test_every_type_constructs_and_runs(spark):
    df = spark.createDataFrame(
        [
            ("p", "c1", 0, "system", "hi", None, 0.0),
            ("p", "c1", 1, "user", "yo", None, 1.0),
            ("p", "c1", 2, "assistant", "ok", None, 2.0),
        ],
        "part string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts double",
    )
    spec = {
        "engine": {"partition_col": "part"},
        "checks": [
            {"type": "not_null", "id": "t1", "col": "text"},
            {"type": "format", "id": "t2", "col": "conv_id", "pattern": "^c"},
            {"type": "range", "id": "t3", "col": "turn_idx", "min": 0, "max": 10},
            {"type": "vocab", "id": "t4", "col": "role",
             "allowed": ["system", "user", "assistant"]},
            {"type": "row", "id": "t5", "predicate": "length(text) > 0"},
            {"type": "uniqueness", "id": "t6", "keys": ["conv_id", "turn_idx"]},
            {"type": "fd", "id": "t7", "determinant": ["role"],
             "dependent": ["tool"], "skip_null_determinant": True},
            {"type": "monotone", "id": "t8", "col": "ts"},
            {"type": "gap", "id": "t9", "col": "ts", "max_step": 10},
            {"type": "contiguity", "id": "t10", "col": "turn_idx"},
            {"type": "sequence", "id": "t11", "col": "role",
             "allowed": [["system", "user"], ["user", "assistant"]],
             "first": ["system"], "last": ["assistant"]},
            {"type": "drift", "id": "t12", "expr": "length(text)",
             "baseline_quantiles": [2, 2, 2, 2, 2], "method": "exact"},
            {"type": "cat_drift", "id": "t13", "col": "role",
             "baseline_counts": {"system": 1, "user": 1, "assistant": 1}},
            {"type": "group_agg", "id": "t14",
             "aggs": ["count(1) as n"], "predicate": "n <= 100"},
            {"type": "rate", "id": "t15", "col": "ts", "seconds": 60,
             "max_events": 10},
            {"type": "runlength", "id": "t16", "col": "role",
             "max_run": 50},
            {"type": "periodic", "id": "t17", "col": "role",
             "period": 2, "max_reps": 50},
            {"type": "volume", "id": "t18", "k": 3},
            {"type": "completeness", "id": "t19", "col": "text",
             "tol": 0.5},
            {"type": "cardinality", "id": "t20", "col": "conv_id",
             "k": 3},
        ],
    }
    suite = parse_suite(spec)
    res = suite.run(df)
    verd = _verdict_map(res)
    assert {cid for _, cid in verd} == {f"t{i}" for i in range(1, 21)}
    assert all(ok for ok, _ in verd.values())


@pytest.mark.parametrize(
    "spec,frag",
    [
        ({"checks": [{"type": "nope", "id": "x"}]}, "unknown type"),
        ({"checks": [{"type": "not_null", "id": "x", "col": "c",
                      "colmun": "c"}]}, "unknown keys"),
        ({"checks": [{"type": "not_null", "col": "c"}]}, "string 'id'"),
        ({"checks": [{"type": "not_null", "id": "x", "col": "a"},
                     {"type": "not_null", "id": "x", "col": "b"}]},
         "duplicate"),
        ({"engine": {"partition_cols": "part"}, "checks": []},
         "engine: unknown keys"),
        ({"checks": [{"type": "row", "id": "x",
                      "predicate": "SELEC bogus ("}]}, "unparseable"),
        ({"checks": [{"type": "range", "id": "x", "col": "c"}]},
         "'min' and/or 'max'"),
        ({"checks": [{"type": "gap", "id": "x", "col": "c"}]}, "max_step"),
        ({"checks": [{"type": "rate", "id": "x", "col": "c"}]},
         "max_events"),
        ({"checks": [{"type": "rate", "id": "x", "col": "c",
                      "max_events": 0}]}, "max_events must be >= 1"),
        ({"checks": [{"type": "runlength", "id": "x", "col": "c"}]},
         "max_run"),
        ({"checks": [{"type": "runlength", "id": "x", "col": "c",
                      "max_run": 0}]}, "max_run must be >= 1"),
        ({"checks": [{"type": "runlength", "id": "x", "col": "c",
                      "max_run": 1.5}]}, "must be an integer"),
        ({"checks": [{"type": "periodic", "id": "x", "col": "c",
                      "period": 0}]}, "period must be >= 1"),
        ({"checks": [{"type": "periodic", "id": "x", "col": "c",
                      "max_reps": 1.5}]}, "must be an integer"),
        ({"checks": [{"type": "periodic", "id": "x", "col": "c",
                      "reps": 3}]}, "unknown keys"),
        ({"checks": [{"type": "rate", "id": "x", "col": "c",
                      "seconds": 0.9, "max_events": 5}]},
         "must be an integer"),
        ({"checks": [{"type": "sequence", "id": "x", "col": "c"}]},
         "'allowed', 'first'"),
        ({"checks": [{"type": "drift", "id": "x", "expr": "1",
                      "method": "bogus"}]}, "approx|tdigest|exact"),
        ({"checks": [{"type": "fd", "id": "x", "determinant": [],
                      "dependent": ["r"]}]}, "non-empty list"),
        ({"checks": [{"type": "text_equality", "id": "x"}]},
         "reference"),
        ({"checks": [{"type": "volume", "id": "x", "k": 0}]},
         "k must be > 0"),
        ({"checks": [{"type": "completeness", "id": "x"}]},
         "'col'"),
        ({"checks": [{"type": "completeness", "id": "x", "col": "c",
                      "tol": 1.5}]}, "tol must be in"),
        ({"checks": [{"type": "completeness", "id": "x", "col": "c",
                      "baseline_frac": "high"}]}, "must be a number"),
        ({"checks": [{"type": "cardinality", "id": "x", "col": "c",
                      "k": -1}]}, "k must be > 0"),
        ({"checks": [{"type": "cardinality", "id": "x", "col": "c",
                      "band": 3}]}, "unknown keys"),
        ({"extra": 1}, "unknown top-level"),
    ],
)
def test_malformed_suites_raise(spark, spec, frag):
    with pytest.raises(SuiteError, match=frag.replace("(", "\\(").replace("|", "\\|")):
        parse_suite(spec)


def test_rule_coverage_lint(spark):
    suite = parse_suite(_reference_free_spec())
    cov = rule_coverage(suite, TRANSCRIPT_COLS + ["extra_col"])
    # every transcript column is covered...
    for c in TRANSCRIPT_COLS:
        assert cov[c], f"{c} uncovered"
    # ...the undeclared column is the blind spot the lint exists to catch
    assert cov["extra_col"] == []
    # SQL-string predicate references are picked up (tool_iff_role on tool)
    assert "tool_iff_role" in cov["tool"]
    # engine keys are credited to the structural passes
    assert any(x.startswith("(engine:") for x in cov["part"])


def test_suite_engine_config_applies(spark):
    suite = parse_suite(
        {
            "engine": {
                "partition_col": "pp",
                "group_col": "g",
                "order_col": "o",
                "key_cols": ["g", "o"],
                "window_chunk_size": 512,
            },
            "checks": [],
        }
    )
    assert suite.cfg.partition_col == "pp"
    assert suite.cfg.key_cols == ("g", "o")
    assert suite.cfg.window_chunk_size == 512


@pytest.mark.parametrize(
    "spec,frag",
    [
        # a bare JSON string would char-split into ('s','y','s',...) and
        # flag every legitimately-opening conversation (review finding)
        ({"checks": [{"type": "sequence", "id": "x", "col": "role",
                      "first": "system"}]}, "non-empty list"),
        ({"checks": [{"type": "sequence", "id": "x", "col": "role",
                      "last": "assistant"}]}, "non-empty list"),
        # declared-but-empty keys must fail, not silently relax to the
        # engine default key set
        ({"checks": [{"type": "uniqueness", "id": "x", "keys": []}]},
         "non-empty list"),
        # malformed scalars stay inside the SuiteError contract
        ({"checks": [{"type": "drift", "id": "x", "expr": "1",
                      "threshold": "big"}]}, "must be a number"),
        ({"checks": [{"type": "drift", "id": "x", "expr": "1",
                      "probes": 0.5}]}, "list of numbers"),
        ({"checks": [{"type": "cat_drift", "id": "x", "col": "c",
                      "baseline_counts": [1, 2]}]}, "object"),
        # mistyped engine knobs fail at the file, not inside the battery
        ({"engine": {"window_chunk_size": "16"}, "checks": []},
         "must be int"),
        ({"engine": {"key_cols": "conv_id"}, "checks": []},
         "list of strings"),
        # FD sanity fires at parse time (overlap / partition-col)
        ({"checks": [{"type": "fd", "id": "x", "determinant": ["role"],
                      "dependent": ["role"]}]}, "vacuous"),
        ({"checks": [{"type": "fd", "id": "x", "determinant": ["part"],
                      "dependent": ["role"]}]}, "partition column"),
        # a key EngineConfig does not have is refused, not ignored
        ({"engine": {"drift_salt_buckets": 16}, "checks": []},
         "unknown keys"),
        # the uniqueness pass is chosen from the key and the chunking;
        # no engine key selects it
        ({"engine": {"uniqueness_via_window": True}, "checks": []},
         "unknown keys"),
    ],
)
def test_suite_validation_gates(spark, spec, frag):
    with pytest.raises(SuiteError, match=frag):
        parse_suite(spec)


def test_suite_tdigest_method_parses_as_drift_check(spark):
    """``"method": "tdigest"`` is an alias of approx: it still parses to a
    DriftCheck, and the dump keeps the string the suite declared."""
    suite = parse_suite({"checks": [{"type": "drift", "id": "x",
                                     "expr": "1", "method": "tdigest"}]})
    [c] = suite.checks
    assert isinstance(c, DriftCheck) and c.method == "tdigest"
    assert suite.dump()["checks"][0]["method"] == "tdigest"


def test_suggest_suite_draft_contract(spark, corpus):
    """The profiler-synthesized draft (a) always parses, (b) runs GREEN
    on the corpus it was profiled from — calibrated tol/k, no
    self-alarming draft — (c) fires on the corrupted twin, (d) is
    deterministic, (e) is plain-JSON serializable."""
    from taco_toolbox_spark.suite import suggest_suite

    spec = suggest_suite(corpus.clean)
    json.dumps(spec)  # JSON-serializable draft
    assert spec == suggest_suite(corpus.clean)

    by_type = {}
    for c in spec["checks"]:
        by_type.setdefault(c["type"], []).append(c)
    # the synthesized families a clean transcript corpus must yield
    assert "uniqueness" in by_type
    assert any(c["col"] == "role" for c in by_type["vocab"])
    assert any(c["col"] == "turn_idx" for c in by_type["range"])
    assert any(c["col"] == "ts" for c in by_type["monotone"])
    assert "contiguity" in by_type
    assert any(c["col"] == "tool" for c in by_type["completeness"])

    suite = parse_suite(spec)
    clean_res = suite.run(corpus.clean)
    assert clean_res.verdicts.filter("NOT passed").count() == 0

    bad = parse_suite(spec).run(corpus.corrupted)
    fired = {
        r["check_id"]
        for r in bad.verdicts.filter("NOT passed").select("check_id")
        .distinct().collect()
    }
    # corruption kinds the draft must catch without any human edit
    assert {"text_not_null", "ts_monotone", "turn_idx_contiguous"} <= fired


def test_suggest_suite_vocab_cap_and_tight_range(spark):
    """Columns past vocab_max get NO vocab rule; ranges are the observed
    min/max exactly (tight by contract — reviewers widen, generators
    must not invent slack)."""
    from taco_toolbox_spark.engine import EngineConfig
    from taco_toolbox_spark.suite import suggest_suite

    rows = [
        ("p", "g1", i, f"w{i}", "a" if i % 2 else "b", i * 10)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "part string, conv_id string, turn_idx int, wide string,"
        " narrow string, x int"
    )
    spec = suggest_suite(
        df,
        EngineConfig(order_col="turn_idx", key_cols=("conv_id", "turn_idx")),
        vocab_max=5,
        health=False,
    )
    vocabs = {c["col"] for c in spec["checks"] if c["type"] == "vocab"}
    assert "narrow" in vocabs and "wide" not in vocabs
    rng = next(
        c for c in spec["checks"]
        if c["type"] == "range" and c["col"] == "x"
    )
    assert (rng["min"], rng["max"]) == (0.0, 290.0)
    # no monotone entry: there is no timestamp column
    assert not any(c["type"] == "monotone" for c in spec["checks"])


def test_suggest_suite_cat_drift_calibration(spark):
    """The synthesized cat_drift entry carries the corpus's own exact
    histogram and a threshold calibrated just above the worst observed
    per-partition TV: the source stays green, a shifted distribution
    fires, and a single-category column gets no entry (vacuous)."""
    from taco_toolbox_spark.engine import EngineConfig
    from taco_toolbox_spark.suite import parse_suite, suggest_suite

    # part p0: 3 a / 1 b; part p1: 1 a / 3 b -> global 4 a / 4 b;
    # per-part TV = 1/2·(|3/4-1/2| + |1/4-1/2|) = 0.25 on both sides
    rows = []
    for p, pat in (("p0", "aaab"), ("p1", "abbb")):
        for i, v in enumerate(pat):
            rows.append((p, f"g_{p}", i, v, "const"))
    df = spark.createDataFrame(
        rows,
        "part string, conv_id string, turn_idx int, role string,"
        " fixed string",
    )
    cfg = EngineConfig(key_cols=("conv_id", "turn_idx"))
    spec = suggest_suite(df, cfg, health=False)
    entry = next(
        c for c in spec["checks"] if c["type"] == "cat_drift"
        and c["col"] == "role"
    )
    assert entry["baseline_counts"] == {"a": 4, "b": 4}
    assert entry["threshold"] == 0.25
    assert not any(
        c["type"] == "cat_drift" and c["col"] == "fixed"
        for c in spec["checks"]
    )

    res = parse_suite(spec).run(df)
    assert res.verdicts.filter("NOT passed").count() == 0

    # a partition whose histogram collapses to one category fires:
    # TV(p1'|all-a) vs 4/4 baseline = 1/2·(|1-1/2| + |0-1/2|) = 0.5
    import pyspark.sql.functions as F

    shifted = df.withColumn(
        "role",
        F.when(F.col("part") == "p1", F.lit("a")).otherwise(F.col("role")),
    )
    bad = parse_suite(spec).run(shifted)
    fired = {
        r["check_id"]
        for r in bad.verdicts.filter("NOT passed").select("check_id")
        .distinct().collect()
    }
    assert "role_cat_drift" in fired


def test_suggest_suite_quantile_drift_calibration(spark):
    """The synthesized drift entry carries the corpus's exact global
    quantiles (method 'exact', layout-independent) and a threshold just
    above the worst observed per-partition relative deviation: source
    green, shifted distribution fires, constant columns and columns
    with a valueless partition are skipped."""
    import pyspark.sql.functions as F

    from taco_toolbox_spark.engine import EngineConfig
    from taco_toolbox_spark.suite import parse_suite, suggest_suite

    rows = []
    for p, base in (("p0", 0), ("p1", 4)):
        for i in range(8):
            rows.append(
                (p, f"g_{p}", i, float(base + i), 1.0,
                 None if p == "p1" else float(i))
            )
    df = spark.createDataFrame(
        rows,
        "part string, conv_id string, turn_idx int, score double,"
        " konst double, holey double",
    )
    cfg = EngineConfig(key_cols=("conv_id", "turn_idx"))
    spec = suggest_suite(df, cfg, health=False)
    by_id = {c["id"]: c for c in spec["checks"]}
    entry = by_id["score_drift"]
    assert entry["method"] == "exact"
    assert entry["probes"] == [0.1, 0.25, 0.5, 0.75, 0.9]
    # exact type-7 global quantiles of 0..11 with dup middle mass
    assert entry["baseline_quantiles"][2] == 5.5  # median of 0..7 + 4..11
    assert entry["threshold"] >= 0.05
    # constant column and the column with an all-NULL partition: no rule
    assert "konst_drift" not in by_id and "holey_drift" not in by_id

    res = parse_suite(spec).run(df)
    assert res.verdicts.filter("NOT passed").count() == 0

    # scaling one partition's scores far past the calibrated band fires
    shifted = df.withColumn(
        "score",
        F.when(
            F.col("part") == "p1", F.col("score") * 10.0
        ).otherwise(F.col("score")),
    )
    bad = parse_suite(spec).run(shifted)
    fired = {
        r["check_id"]
        for r in bad.verdicts.filter("NOT passed").select("check_id")
        .distinct().collect()
    }
    assert "score_drift" in fired


def test_suggest_suite_cond_and_transition_drift(spark):
    """The relationship and sequential drift members join the draft:
    observed contingency / bigram baselines, calibrated thresholds,
    green on source; a corpus whose marginals are INTACT but whose
    relationship (tool|role coupling) and order (retry loops) break
    fires exactly those members."""
    import pyspark.sql.functions as F

    from taco_toolbox_spark.engine import EngineConfig
    from taco_toolbox_spark.suite import parse_suite, suggest_suite

    # two partitions, each conv: role pattern u a u a with tool coupled
    # to role (u -> search, a -> code)
    rows = []
    for p in ("p0", "p1"):
        for g in range(3):
            for i, role in enumerate(["u", "a", "u", "a"]):
                tool = "search" if role == "u" else "code"
                rows.append((p, f"g_{p}_{g}", i, role, tool))
    df = spark.createDataFrame(
        rows,
        "part string, conv_id string, turn_idx int, role string,"
        " tool string",
    )
    cfg = EngineConfig(key_cols=("conv_id", "turn_idx"))
    spec = suggest_suite(df, cfg, health=False)
    by_id = {c["id"]: c for c in spec["checks"]}
    cond = by_id["tool_given_role_drift"]
    assert cond["baseline_counts"] == {
        "u": {"search": 12}, "a": {"code": 12}
    }
    trans = by_id["role_transition_drift"]
    # boundary sentinels present: every conv opens with u and closes a
    assert trans["baseline_counts"]["<start>"] == {"u": 6}
    assert spec == suggest_suite(df, cfg, health=False)  # deterministic

    res = parse_suite(spec).run(df)
    assert res.verdicts.filter("NOT passed").count() == 0

    # swap p1's tools (u<->code coupling breaks; tool marginal intact)
    # and re-order p1's roles to u u a a (role marginal intact, order
    # broken): only the relationship/sequential members should add fires
    broken = df.withColumn(
        "tool",
        F.when(
            (F.col("part") == "p1") & (F.col("tool") == "search"),
            F.lit("code"),
        ).when(
            (F.col("part") == "p1") & (F.col("tool") == "code"),
            F.lit("search"),
        ).otherwise(F.col("tool")),
    ).withColumn(
        "role",
        F.when(
            F.col("part") == "p1",
            F.element_at(
                F.array(F.lit("u"), F.lit("u"), F.lit("a"), F.lit("a")),
                F.col("turn_idx") + 1,
            ),
        ).otherwise(F.col("role")),
    )
    bad = parse_suite(spec).run(broken)
    fired = {
        r["check_id"]
        for r in bad.verdicts.filter("NOT passed").select("check_id")
        .distinct().collect()
    }
    assert "tool_given_role_drift" in fired
    assert "role_transition_drift" in fired
    # both marginals really are intact: the cat_drift members stay green
    assert "role_cat_drift" not in fired
    assert "tool_cat_drift" not in fired


def test_suggest_suite_corr_drift_calibration(spark):
    """The Pearson member: integer column pairs get an inline observed
    baseline correlation and a calibrated threshold; source green; a
    partition whose relationship flips sign fires; a pair with a
    degenerate partition (zero variance) is skipped."""
    import pyspark.sql.functions as F

    from taco_toolbox_spark.engine import EngineConfig
    from taco_toolbox_spark.suite import parse_suite, suggest_suite

    rows = []
    for p in ("p0", "p1"):
        for g in range(2):
            for i in range(6):
                # y tracks x exactly; z is constant within p1 (degenerate)
                rows.append(
                    (p, f"g_{p}_{g}", i, i, 2 * i,
                     i if p == "p0" else 7)
                )
    df = spark.createDataFrame(
        rows,
        "part string, conv_id string, turn_idx int, x int, y int, z int",
    )
    cfg = EngineConfig(key_cols=("conv_id", "turn_idx"))
    spec = suggest_suite(df, cfg, health=False)
    by_id = {c["id"]: c for c in spec["checks"]}
    entry = by_id["x__y_corr_drift"]
    assert entry["baseline_corr"] == pytest.approx(1.0)
    assert entry["threshold"] == 0.05  # perfect fit everywhere: floor
    # both z pairs skipped: p1 has zero z-variance (degenerate corr)
    assert "x__z_corr_drift" not in by_id
    assert "y__z_corr_drift" not in by_id

    res = parse_suite(spec).run(df)
    assert res.verdicts.filter("NOT passed").count() == 0

    # flip the relationship in p1 (y = -2x + 10): marginal-ish stats
    # move little, the correlation flips to -1 and fires
    broken = df.withColumn(
        "y",
        F.when(
            F.col("part") == "p1", F.lit(10) - F.col("y")
        ).otherwise(F.col("y")),
    )
    bad = parse_suite(spec).run(broken)
    fired = {
        r["check_id"]
        for r in bad.verdicts.filter("NOT passed").select("check_id")
        .distinct().collect()
    }
    assert "x__y_corr_drift" in fired


def test_suggest_drift_calibration_matches_enforcement(spark, corpus):
    """The melted single-scan calibration (passes 4b/4e) must reproduce
    the ENFORCEMENT helpers' own numbers bit-for-bit — this test is the
    single-source-of-truth lock: if checks/drift.py's TV or correlation
    arithmetic ever changes, the synthesized thresholds must move with
    it or this fails."""
    import math

    from taco_toolbox_spark.checks.drift import (
        categorical_counts,
        categorical_tv,
        conditional_counts,
        conditional_tv,
    )
    from taco_toolbox_spark.engine import EngineConfig
    from taco_toolbox_spark.suite import suggest_suite

    df = corpus.clean
    spec = suggest_suite(df, EngineConfig(), health=False)
    by_id = {c["id"]: c for c in spec["checks"]}

    for col in ("role", "tool"):
        bc = categorical_counts(df, col)
        m = categorical_tv(df, col, "part", bc).agg(
            F.max("tv")
        ).first()[0]
        want_thr = max(0.05, math.ceil(float(m) * 1000.0) / 1000.0)
        entry = by_id[f"{col}_cat_drift"]
        assert entry["threshold"] == want_thr, col
        assert entry["baseline_counts"] == {
            k: int(v) for k, v in bc.items()
        }, col

    bc2 = conditional_counts(df, "role", "tool")
    m2 = conditional_tv(df, "role", "tool", "part", bc2).agg(
        F.max("tv")
    ).first()[0]
    want2 = max(0.05, math.ceil(float(m2) * 1000.0) / 1000.0)
    entry2 = by_id["tool_given_role_drift"]
    assert entry2["threshold"] == want2
    flat = {
        (k, c): n
        for k, inner in entry2["baseline_counts"].items()
        for c, n in inner.items()
    }
    assert flat == {k: int(v) for k, v in bc2.items()}


def test_suggest_every_tv_threshold_matches_enforcement(spark, corpus):
    """Discovery equals enforcement for the WHOLE total-variation family:
    every cat_drift and cond_drift entry suggest_suite mines on the
    corpus carries the public counts helpers' baseline and the threshold
    max(0.05, ceil(1000·max tv)/1000) computed by the public
    categorical_tv / conditional_tv over that baseline."""
    import math

    from taco_toolbox_spark.checks.drift import (
        categorical_counts,
        categorical_tv,
        conditional_counts,
        conditional_tv,
    )
    from taco_toolbox_spark.engine import EngineConfig
    from taco_toolbox_spark.suite import suggest_suite

    df = corpus.clean
    spec = suggest_suite(df, EngineConfig(), health=False)
    entries = [
        c for c in spec["checks"] if c["type"] in ("cat_drift", "cond_drift")
    ]
    assert {c["type"] for c in entries} == {"cat_drift", "cond_drift"}
    for e in entries:
        if e["type"] == "cat_drift":
            bc = categorical_counts(df, e["col"])
            assert e["baseline_counts"] == bc, e["id"]
            tv = categorical_tv(df, e["col"], "part", bc)
        else:
            bc = conditional_counts(df, e["cond"], e["cat"])
            flat = {
                (k, c): n
                for k, inner in e["baseline_counts"].items()
                for c, n in inner.items()
            }
            assert flat == bc, e["id"]
            tv = conditional_tv(df, e["cond"], e["cat"], "part", bc)
        m = float(tv.agg(F.max("tv")).first()[0])
        want = max(0.05, math.ceil(m * 1000.0) / 1000.0)
        assert e["threshold"] == want, e["id"]


def test_suggest_suite_guards(spark):
    from taco_toolbox_spark.engine import EngineConfig
    from taco_toolbox_spark.suite import suggest_suite

    df = spark.createDataFrame([("p", "c", 0)], "a string, b string, c int")
    with pytest.raises(ValueError, match="engine column"):
        suggest_suite(df)
    empty = spark.createDataFrame(
        [],
        "part string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp",
    )
    with pytest.raises(ValueError, match="empty"):
        suggest_suite(empty)


def test_suggest_suite_fd_discovery(spark):
    """Pairwise FD discovery over the low-cardinality columns: held
    dependencies become fd entries with the check's NULL semantics — a
    determinant mapping to {NULL, value} is NOT a dependency (the FD
    check counts the NULL-marked combo as its own value)."""
    from taco_toolbox_spark.engine import EngineConfig
    from taco_toolbox_spark.suite import parse_suite, suggest_suite

    rows = []
    for i in range(40):
        code = f"c{i % 4}"
        region = {"c0": "eu", "c1": "eu", "c2": "us", "c3": "us"}[code]
        # 'leaky' maps c0 -> {NULL, l0}: not a dependency under the
        # check's NULL-as-value rule (c0 rows are i % 4 == 0; half of
        # those — i % 8 == 0 — carry NULL)
        leaky = None if (code == "c0" and i % 8 == 0) else f"l{i % 4}"
        rows.append(("p", f"g{i}", 0, code, region, leaky))
    df = spark.createDataFrame(
        rows,
        "part string, conv_id string, turn_idx int, code string,"
        " region string, leaky string",
    )
    spec = suggest_suite(
        df,
        EngineConfig(order_col="turn_idx", key_cols=("conv_id", "turn_idx")),
        health=False,
    )
    fds = {
        (tuple(c["determinant"]), tuple(c["dependent"]))
        for c in spec["checks"]
        if c["type"] == "fd"
    }
    assert (("code",), ("region",)) in fds
    assert (("code",), ("leaky",)) not in fds
    # region (2 values) -> code (4 values) does not hold either
    assert (("region",), ("code",)) not in fds
    # the draft still runs green on its own source
    res = parse_suite(spec).run(df)
    assert res.verdicts.filter("NOT passed").count() == 0


def test_suggest_suite_fd_on_transcripts(spark, corpus):
    """On the transcript corpus the discovered dependency is the schema's
    real one: tool -> role (every named tool appears only on tool
    turns)."""
    from taco_toolbox_spark.suite import suggest_suite

    spec = suggest_suite(corpus.clean)
    fds = {
        (tuple(c["determinant"]), tuple(c["dependent"]))
        for c in spec["checks"]
        if c["type"] == "fd"
    }
    assert (("tool",), ("role",)) in fds


def test_suggest_suite_sequence_grammar(spark, corpus):
    """Sequence-grammar discovery: the role protocol is mined from the
    corpus itself (opens with system, system never reappears), nullable
    vocab columns get NO grammar (SequenceCheck fails closed on NULL —
    a synthesized grammar would fail its own source), and the grammar
    fires on the corrupted twin."""
    from taco_toolbox_spark.suite import parse_suite, suggest_suite

    spec = suggest_suite(corpus.clean)
    seqs = {c["col"]: c for c in spec["checks"] if c["type"] == "sequence"}
    assert "role" in seqs
    assert "tool" not in seqs  # nullable -> no grammar
    g = seqs["role"]
    assert g["first"] == ["system"]
    # system opens and never reappears: no (x, system) pair for any x
    assert not any(cur == "system" for _, cur in g["allowed"])

    res = parse_suite(spec).run(corpus.corrupted)
    fired = {
        r["check_id"]
        for r in res.verdicts.filter("NOT passed").select("check_id")
        .distinct().collect()
    }
    assert "role_grammar" in fired


def test_suggest_suite_window_bounds(spark):
    """Max-calibrated window-family bounds: max_run is the longest
    observed run (exact), the rate bound is mined only when the caller
    names the window, and both leave the source green."""
    import datetime

    from taco_toolbox_spark.engine import EngineConfig
    from taco_toolbox_spark.suite import parse_suite, suggest_suite

    base = datetime.datetime(2024, 5, 1)
    rows = []
    for g in range(4):
        # role pattern a a a b -> max run 3; 4 turns in 30s windows
        for i, role in enumerate(["a", "a", "a", "b"]):
            rows.append(
                (
                    "p",
                    f"g{g}",
                    i,
                    role,
                    base + datetime.timedelta(minutes=g * 10, seconds=i * 10),
                )
            )
    df = spark.createDataFrame(
        rows,
        "part string, conv_id string, turn_idx int, role string,"
        " ts timestamp",
    )
    cfg = EngineConfig(key_cols=("conv_id", "turn_idx"))
    spec = suggest_suite(df, cfg, health=False, rate_seconds=60)
    by_id = {c["id"]: c for c in spec["checks"]}
    assert by_id["role_max_run"]["max_run"] == 3
    rate = by_id["ts_rate_60s"]
    assert rate["seconds"] == 60 and rate["max_events"] == 4
    # gap bound mined with GapCheck's own cast-to-double step: every
    # adjacent in-group step is exactly 10s
    assert by_id["ts_max_gap"]["max_step"] == 10.0
    res = parse_suite(spec).run(df)
    assert res.verdicts.filter("NOT passed").count() == 0

    # the mined gap bound FIRES on a regression past the observed worst
    import pyspark.sql.functions as F

    stretched = df.withColumn(
        "ts",
        F.when(
            (F.col("conv_id") == "g0") & (F.col("turn_idx") == 3),
            F.col("ts") + F.expr("INTERVAL 300 SECONDS"),
        ).otherwise(F.col("ts")),
    )
    bad = parse_suite(spec).run(stretched)
    fired = {
        r["check_id"]
        for r in bad.verdicts.filter("NOT passed").select("check_id")
        .distinct().collect()
    }
    assert "ts_max_gap" in fired

    # a NON-monotone timestamp column gets neither a monotone nor a gap
    # entry: its observed extreme is an artifact of the inversions
    shuffled = df.withColumn(
        "ts",
        F.when(
            (F.col("conv_id") == "g1") & (F.col("turn_idx") == 2),
            F.col("ts") - F.expr("INTERVAL 25 SECONDS"),
        ).otherwise(F.col("ts")),
    )
    spec_inv = suggest_suite(shuffled, cfg, health=False)
    ids_inv = {c["id"] for c in spec_inv["checks"]}
    assert "ts_monotone" not in ids_inv and "ts_max_gap" not in ids_inv

    # no rate entry without the named window
    spec2 = suggest_suite(df, cfg, health=False)
    assert "ts_rate_60s" not in {c["id"] for c in spec2["checks"]}

    with pytest.raises(ValueError, match="rate_seconds must be >= 1"):
        suggest_suite(df, cfg, rate_seconds=0)
    no_ts = df.drop("ts")
    with pytest.raises(ValueError, match="no timestamp column"):
        suggest_suite(no_ts, cfg, rate_seconds=60)
