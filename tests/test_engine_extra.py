"""GroupAggCheck + the "tdigest" (approx alias) drift method via the engine,
the run and loop rules (a run is the period-1 loop), the refusal of checks
no pass compiles, and a one-of-each-class battery that must not depend on
partition count or window chunking."""

import pytest
import pyspark.sql.functions as F

from taco_toolbox_spark.checks.base import DriftCheck, GroupAggCheck
from taco_toolbox_spark.engine import EngineConfig, run_validation


def test_group_agg_check(corpus, corrupted_pdf):
    # invariant: every conversation must have at most 500 turns and at
    # least one 'system' turn at idx 0
    check = GroupAggCheck(
        check_id="has_system_start",
        description="first turn is role=system",
        aggs=[
            F.sum(
                ((F.col("turn_idx") == 0) & (F.col("role") == "system")).cast("int")
            ).alias("_n_sys0")
        ],
        predicate=F.col("_n_sys0") >= 1,
        detail=F.format_string("system-start turns: %s", F.col("_n_sys0")),
    )
    res = run_validation(corpus.corrupted, [check], EngineConfig())
    got = {r["conv_id"] for r in res.violations.collect()}
    g = corrupted_pdf.groupby("conv_id").apply(
        lambda p: ((p.turn_idx == 0) & (p.role == "system")).sum() >= 1,
        include_groups=False,
    )
    want = set(g[~g].index)
    assert got == want and len(want) > 0  # bad_role at idx 0 breaks some


def test_tdigest_drift_method(corpus):
    check = DriftCheck(
        check_id="len_drift_td",
        value_expr="length(text)",
        method="tdigest",
        threshold=0.25,
    )
    res = run_validation(corpus.corrupted, [check], baseline=corpus.clean)
    flagged = {r["part"] for r in res.violations.collect()}
    assert flagged == set(corpus.drifted_parts)


def test_chunked_window_equals_plain(corpus):
    """Skew-proof chunked windows must produce exactly the plain window
    pass's violations (chunk=4 forces many boundaries on this corpus)."""
    from taco_toolbox_spark.checks import transcript_checks
    from taco_toolbox_spark.checks.base import MonotoneCheck, UniquenessCheck

    checks = [
        c
        for c in transcript_checks()
        if isinstance(c, (MonotoneCheck, UniquenessCheck))
    ]
    plain = run_validation(corpus.corrupted, checks, EngineConfig())
    chunked = run_validation(
        corpus.corrupted, checks, EngineConfig(window_chunk_size=4)
    )
    key = lambda df: {
        (r["check_id"], r["conv_id"], r["turn_idx"])
        for r in df.violations.collect()
    }
    assert key(chunked) == key(plain)


def test_report_and_assert(corpus):
    from taco_toolbox_spark.checks import transcript_checks
    from taco_toolbox_spark.report import (
        TacoValidationError,
        assert_valid,
        render_report,
    )

    checks = [c for c in transcript_checks() if c.check_id == "role_vocab"]
    res = run_validation(corpus.corrupted, checks, EngineConfig())
    rep = render_report(res, max_examples=3)
    assert rep.startswith("validation: FAIL")
    assert "role_vocab" in rep and "narrator" in rep
    try:
        assert_valid(res)
        raise AssertionError("expected TacoValidationError")
    except TacoValidationError:
        pass

    clean_res = run_validation(corpus.clean, checks, EngineConfig())
    assert render_report(clean_res).startswith("validation: PASS")
    assert_valid(clean_res)  # no raise


def test_verdict_diff_statuses(spark):
    from taco_toolbox_spark.report import verdict_diff

    prev = spark.createDataFrame(
        [
            ("p1", "a", True),   # -> fails now: new_failure
            ("p1", "b", False),  # -> passes now: fixed
            ("p1", "c", False),  # -> still failing
            ("p1", "d", True),   # -> still passing (hidden by default)
            ("p2", "a", True),   # absent now: removed_cell
        ],
        "part string, check_id string, passed boolean",
    )
    cur = spark.createDataFrame(
        [
            ("p1", "a", False),
            ("p1", "b", True),
            ("p1", "c", False),
            ("p1", "d", True),
            ("p3", "a", False),  # absent before: new_cell
        ],
        "part string, check_id string, passed boolean",
    )
    got = {
        (r["part"], r["check_id"]): r["status"]
        for r in verdict_diff(prev, cur).collect()
    }
    assert got == {
        ("p1", "a"): "new_failure",
        ("p1", "b"): "fixed",
        ("p1", "c"): "still_failing",
        ("p2", "a"): "removed_cell",
        ("p3", "a"): "new_cell",
    }
    full = verdict_diff(prev, cur, include_unchanged=True)
    assert full.filter("status = 'still_passing'").count() == 1


def test_verdict_diff_clean_vs_corrupted(spark, corpus):
    """Diffing a clean run against a corrupted run labels exactly the
    corrupted run's failing cells as new failures."""
    from taco_toolbox_spark.checks import transcript_checks
    from taco_toolbox_spark.engine import run_validation
    from taco_toolbox_spark.report import verdict_diff

    checks = [
        c for c in transcript_checks()
        if c.check_id not in ("text_len_drift", "text_equality")
    ]
    prev = run_validation(corpus.clean, checks).verdicts
    cur = run_validation(corpus.corrupted, checks).verdicts
    diff = verdict_diff(prev, cur)
    # clean partitions == corrupted partitions (same corpus layout), so
    # every diff row is a new_failure matching cur's failing cells
    assert {r["status"] for r in diff.select("status").distinct().collect()} \
        <= {"new_failure", "new_cell"}
    n_fail = cur.filter("NOT passed").count()
    assert diff.filter("status = 'new_failure'").count() == n_fail


def test_verdict_diff_null_part_is_null_safe(spark):
    from taco_toolbox_spark.report import verdict_diff

    prev = spark.createDataFrame(
        [(None, "a", True)], "part string, check_id string, passed boolean"
    )
    cur = spark.createDataFrame(
        [(None, "a", False)], "part string, check_id string, passed boolean"
    )
    rows = verdict_diff(prev, cur).collect()
    assert len(rows) == 1 and rows[0]["status"] == "new_failure"
    assert rows[0]["part"] is None and rows[0]["check_id"] == "a"


def test_rate_check_exact_violations(spark):
    """RateCheck through the engine: exactly the overflow rows fire, with
    the right (part, conv, turn) attribution and detail counts; a NULL
    timestamp never fires."""
    import datetime as dt

    from taco_toolbox_spark.checks.base import RateCheck

    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # conv A: 3 turns inside 10s — with max_events=2 the third fires
        ("p1", "A", 0, at(0)),
        ("p1", "A", 1, at(5)),
        ("p1", "A", 2, at(9)),
        # turn 3 at t=14: its trailing-10s frame [4, 14] holds turns
        # 1 (t=5), 2 (t=9) and itself -> n=3, fires too
        ("p1", "A", 3, at(14)),
        # conv B: spaced out, never fires
        ("p1", "B", 0, at(0)),
        ("p1", "B", 1, at(60)),
        # conv C: NULL ts never fires the rate rule
        ("p2", "C", 0, None),
        ("p2", "C", 1, at(0)),
    ]
    df = spark.createDataFrame(
        rows, "part string, conv_id string, turn_idx int, ts timestamp"
    )
    check = RateCheck(
        check_id="turn_rate", value_col="ts", seconds=10, max_events=2
    )
    res = run_validation(df, [check], EngineConfig())
    v = {
        (r["part"], r["conv_id"], r["turn_idx"]): r["detail"]
        for r in res.violations.collect()
    }
    assert set(v) == {("p1", "A", 2), ("p1", "A", 3)}
    assert "3 rows in trailing 10s > 2" in v[("p1", "A", 2)]
    verd = {
        (r["part"], r["check_id"]): r["passed"]
        for r in res.verdicts.collect()
    }
    assert verd[("p1", "turn_rate")] is False
    assert verd[("p2", "turn_rate")] is True
    res.release()


def test_runlength_check_exact_violations(spark):
    """RunLengthCheck through the engine: exactly the overflow rows of
    over-long runs fire (position > max_run), NULL values form runs too,
    and a run broken by a different value resets the counter."""
    from taco_toolbox_spark.checks.base import RunLengthCheck

    rows = [
        # conv A: a,a,a,b,a -> run of 3 'a': only turn 2 (pos 3) fires
        ("p1", "A", 0, "a"),
        ("p1", "A", 1, "a"),
        ("p1", "A", 2, "a"),
        ("p1", "A", 3, "b"),
        ("p1", "A", 4, "a"),
        # conv B: NULL,NULL,NULL -> stuck-null run, turn 2 fires
        ("p2", "B", 0, None),
        ("p2", "B", 1, None),
        ("p2", "B", 2, None),
        # conv C: alternates, never fires
        ("p2", "C", 0, "x"),
        ("p2", "C", 1, "y"),
        ("p2", "C", 2, "x"),
    ]
    df = spark.createDataFrame(
        rows, "part string, conv_id string, turn_idx int, role string"
    )
    check = RunLengthCheck(check_id="run_role", value_col="role", max_run=2)
    res = run_validation(df, [check], EngineConfig())
    v = {
        (r["part"], r["conv_id"], r["turn_idx"]): r["detail"]
        for r in res.violations.collect()
    }
    assert set(v) == {("p1", "A", 2), ("p2", "B", 2)}
    assert "role run position 3 > 2" in v[("p1", "A", 2)]
    verd = {
        (r["part"], r["check_id"]): r["passed"]
        for r in res.verdicts.collect()
    }
    assert verd[("p1", "run_role")] is False
    assert verd[("p2", "run_role")] is False
    res.release()


def test_runlength_check_validates_params():
    from taco_toolbox_spark.checks.base import RunLengthCheck

    with pytest.raises(ValueError, match="value_col"):
        RunLengthCheck(check_id="x")
    with pytest.raises(ValueError, match="max_run"):
        RunLengthCheck(check_id="x", value_col="role", max_run=0)


def test_periodic_loop_check_exact_violations(spark):
    """PeriodicLoopCheck through the engine: exactly the rows extending a
    period-2 stretch past max_reps*period total rows fire; a constant run
    is also periodic; alternation that stops in time never fires."""
    from taco_toolbox_spark.checks.base import PeriodicLoopCheck

    rows = [
        # conv A: a,b,a,b,a,b -> stretch rows 5 (turn 4) and 6 (turn 5)
        # exceed 2 reps * period 2 = 4 rows
        ("p1", "A", 0, "a"),
        ("p1", "A", 1, "b"),
        ("p1", "A", 2, "a"),
        ("p1", "A", 3, "b"),
        ("p1", "A", 4, "a"),
        ("p1", "A", 5, "b"),
        # conv B: a,b,a,b then broken -> exactly 2 reps, never fires
        ("p2", "B", 0, "a"),
        ("p2", "B", 1, "b"),
        ("p2", "B", 2, "a"),
        ("p2", "B", 3, "b"),
        ("p2", "B", 4, "c"),
        # conv C: constant x5 is periodic at p=2 too: turn 4 = stretch 5
        ("p2", "C", 0, "x"),
        ("p2", "C", 1, "x"),
        ("p2", "C", 2, "x"),
        ("p2", "C", 3, "x"),
        ("p2", "C", 4, "x"),
    ]
    df = spark.createDataFrame(
        rows, "part string, conv_id string, turn_idx int, role string"
    )
    check = PeriodicLoopCheck(
        check_id="loop_role", value_col="role", period=2, max_reps=2
    )
    res = run_validation(df, [check], EngineConfig())
    v = {
        (r["part"], r["conv_id"], r["turn_idx"]): r["detail"]
        for r in res.violations.collect()
    }
    assert set(v) == {("p1", "A", 4), ("p1", "A", 5), ("p2", "C", 4)}
    assert "role period-2 stretch row 5 > 2 reps" in v[("p1", "A", 4)]
    verd = {
        (r["part"], r["check_id"]): r["passed"]
        for r in res.verdicts.collect()
    }
    assert verd[("p1", "loop_role")] is False
    assert verd[("p2", "loop_role")] is False
    res.release()


def test_periodic_loop_check_validates_params():
    from taco_toolbox_spark.checks.base import PeriodicLoopCheck

    with pytest.raises(ValueError, match="value_col"):
        PeriodicLoopCheck(check_id="x")
    with pytest.raises(ValueError, match="period"):
        PeriodicLoopCheck(check_id="x", value_col="role", period=0)
    with pytest.raises(ValueError, match="max_reps"):
        PeriodicLoopCheck(check_id="x", value_col="role", max_reps=0)


def _stage_in_order(spark, tmp_path, rows, n_files):
    """Write ``rows`` (part, conv_id, turn_idx, role) as ``n_files``
    single-file parquet batches, file j holding the j-th slice of every
    conversation's turns, with increasing mtimes so a stream reads each
    conversation in turn order and runs span files."""
    import glob
    import os
    import shutil
    import time

    inp = str(tmp_path / "in_order")
    os.makedirs(inp)
    top = max(r[2] for r in rows) + 1
    step = -(-top // n_files)
    now = time.time()
    for j in range(n_files):
        part = [r for r in rows if j * step <= r[2] < (j + 1) * step]
        d = str(tmp_path / f"slice{j}")
        spark.createDataFrame(
            part, "part string, conv_id string, turn_idx int, role string"
        ).coalesce(1).write.parquet(d)
        dst = f"{inp}/{j:03d}.parquet"
        shutil.copy(glob.glob(f"{d}/part-*.parquet")[0], dst)
        os.utime(dst, (now - 100 + 10 * j, now - 100 + 10 * j))
    return inp


@pytest.mark.parametrize("m", [1, 2, 3])
def test_run_is_period_one_loop(spark, tmp_path, m):
    """A run is the period-1 loop: RunLengthCheck(max_run=m) and
    PeriodicLoopCheck(period=1, max_reps=m) flag the same rows in the
    engine, stuck_runs and periodic_overflow(period=1) return the same
    rows, and so do the two streaming emitters — one file per
    micro-batch and all files at once — on a corpus with NULL runs and
    runs spanning files."""
    import random

    from taco_toolbox_spark.checks.base import (
        PeriodicLoopCheck,
        RunLengthCheck,
    )
    from taco_toolbox_spark.operators.runs import (
        periodic_overflow,
        stuck_runs,
    )
    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_periodic_violations,
        stream_run_violations,
    )

    rnd = random.Random(12)
    rows = []
    for k in range(8):
        vals = []
        while len(vals) < 20:
            vals += [rnd.choice(["a", "b", None])] * rnd.randint(1, 5)
        rows += [(f"p{k % 2}", f"c{k}", i, v) for i, v in enumerate(vals[:20])]
    df = spark.createDataFrame(
        rows, "part string, conv_id string, turn_idx int, role string"
    )

    def engine_rows(check):
        res = run_validation(df, [check], EngineConfig())
        got = sorted(
            tuple(r)
            for r in res.violations.select(
                "part", "conv_id", "turn_idx"
            ).collect()
        )
        res.release()
        return got

    run = engine_rows(RunLengthCheck(check_id="c", value_col="role", max_run=m))
    loop = engine_rows(
        PeriodicLoopCheck(check_id="c", value_col="role", period=1, max_reps=m)
    )
    assert run == loop and len(run) > 0

    def op_rows(frame, pos):
        return sorted(
            (r.conv_id, r.turn_idx, r.role, r[pos]) for r in frame.collect()
        )

    keys, order = ["conv_id"], ["turn_idx"]
    stuck = op_rows(stuck_runs(df, keys, order, "role", m), "run_pos")
    assert stuck == op_rows(
        periodic_overflow(df, keys, order, "role", 1, m), "stretch_pos"
    )
    assert any(r[2] is None for r in stuck)  # a NULL run overflows

    n_files = 4
    inp = _stage_in_order(spark, tmp_path, rows, n_files)
    for per_trigger in (1, n_files):
        runs = drain(
            spark,
            inp,
            lambda s: stream_run_violations(
                s, "conv_id", ["turn_idx"], "role", max_run=m
            ),
            "update",
            per_trigger,
        )
        loops = drain(
            spark,
            inp,
            lambda s: stream_periodic_violations(
                s, "conv_id", ["turn_idx"], "role", period=1, max_reps=m
            ),
            "update",
            per_trigger,
        )
        assert op_rows(runs, "run_pos") == op_rows(loops, "stretch_pos")
        assert op_rows(runs, "run_pos") == stuck


def test_empty_sequence_check_is_refused():
    """A SequenceCheck with no pair, opening or closing rule compiles to
    no pass; it must be refused at construction instead of reading as
    passed on every partition."""
    from taco_toolbox_spark.checks.base import SequenceCheck

    with pytest.raises(ValueError, match="'allowed', 'first' and/or 'last'"):
        SequenceCheck(check_id="empty_seq", value_col="role", allowed=None)
    # any one rule is enough
    SequenceCheck(check_id="s", value_col="role", allowed=None, last=("a",))


def test_unsupported_check_is_refused(corpus):
    """A check no pass compiles must not come back as a passed verdict:
    run_validation refuses it by id and class, even beside supported
    checks, and the message lists every class the engine compiles."""
    from taco_toolbox_spark.checks.base import Check, not_null_check

    with pytest.raises(ValueError, match=r"'mystery', 'Check'") as err:
        run_validation(
            corpus.corrupted,
            [not_null_check("nn", "text"), Check(check_id="mystery")],
        )
    assert "GapCheck" in str(err.value)
    assert "CardinalityAnomalyCheck" in str(err.value)


def _one_check_of_each_class(clean):
    from taco_toolbox_spark.checks.base import (
        ROLE_LAST,
        CardinalityAnomalyCheck,
        CategoricalDriftCheck,
        CompletenessDriftCheck,
        ConditionalDriftCheck,
        ContiguityCheck,
        CorrelationDriftCheck,
        FunctionalDependencyCheck,
        GapCheck,
        MonotoneCheck,
        PeriodicLoopCheck,
        RateCheck,
        RunLengthCheck,
        TextEqualityCheck,
        TransitionDriftCheck,
        UniquenessCheck,
        VolumeAnomalyCheck,
        role_sequence_check,
        vocab_check,
    )
    from taco_toolbox_spark.schema import ROLE_VOCAB

    return [
        vocab_check("role_vocab", "role", ROLE_VOCAB),
        MonotoneCheck(check_id="ts_monotone", value_col="ts"),
        GapCheck(check_id="ts_gap", value_col="ts", max_step=3600),
        RateCheck(check_id="ts_rate", value_col="ts", seconds=600, max_events=3),
        RunLengthCheck(check_id="role_run", value_col="role", max_run=2),
        PeriodicLoopCheck(
            check_id="role_loop", value_col="role", period=2, max_reps=2
        ),
        UniquenessCheck(check_id="unique_turn"),
        FunctionalDependencyCheck(
            check_id="tool_role_fd",
            determinant=("tool",),
            dependent=("role",),
            skip_null_determinant=True,
        ),
        ContiguityCheck(check_id="turn_contiguous", idx_col="turn_idx"),
        role_sequence_check(last=ROLE_LAST),
        CategoricalDriftCheck(check_id="role_drift", cat_col="role", threshold=0.05),
        CorrelationDriftCheck(
            check_id="len_idx_corr",
            x_expr="length(text)",
            y_expr="turn_idx",
            threshold=0.05,
        ),
        ConditionalDriftCheck(
            check_id="tool_role_cond",
            cond_expr="coalesce(tool, 'none')",
            cat_expr="role",
            threshold=0.05,
        ),
        TransitionDriftCheck(check_id="role_trans", state_expr="role", threshold=0.05),
        VolumeAnomalyCheck(check_id="volume", k=1.0),
        CompletenessDriftCheck(check_id="text_complete", value_col="text", tol=0.01),
        CardinalityAnomalyCheck(check_id="conv_card", value_col="conv_id", k=1.0),
        GroupAggCheck(
            check_id="has_system_start",
            aggs=[
                F.sum(
                    ((F.col("turn_idx") == 0) & (F.col("role") == "system")).cast(
                        "int"
                    )
                ).alias("_n_sys0")
            ],
            predicate=F.col("_n_sys0") >= 1,
            detail=F.format_string("system-start turns: %s", F.col("_n_sys0")),
        ),
        DriftCheck(check_id="text_len_drift", value_expr="length(text)", threshold=0.1),
        TextEqualityCheck(check_id="text_equality", reference=clean),
    ]


def test_full_battery_partition_invariant(spark):
    """Verdicts and violation rows of a battery holding one check of each
    of the 20 Check classes do not depend on the shuffle partition count
    or on window chunking (hot conversations included)."""
    from taco_toolbox_spark.datagen import generate_transcripts

    c = generate_transcripts(
        spark, n_convs=60, seed=7, violation_denom=40, hot_conv_every=20, hot_len=60
    )
    df, clean = c.corrupted.cache(), c.clean.cache()
    checks = _one_check_of_each_class(clean)
    assert len({type(x) for x in checks}) == 20
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    runs = []
    try:
        for n_parts, chunk in ((1, None), (7, 8), (64, None)):
            spark.conf.set(key, str(n_parts))
            res = run_validation(
                df, checks, EngineConfig(window_chunk_size=chunk), baseline=clean
            )
            runs.append(
                (
                    sorted((tuple(r) for r in res.violations.collect()), key=repr),
                    sorted((tuple(r) for r in res.verdicts.collect()), key=repr),
                )
            )
    finally:
        spark.conf.set(key, old)
        df.unpersist()
        clean.unpersist()
    violations, verdicts = runs[0]
    fired = {v[1] for v in violations}
    assert len(fired) >= 18, fired
    assert len(verdicts) == 20 * len({v[0] for v in verdicts})
    for other in runs[1:]:
        assert other == runs[0]
