"""Partition-health trio (checks/health.py): volume anomaly,
completeness drift, cardinality anomaly — operator semantics, exact
band arithmetic, engine integration, single-scan plan shape, CLI."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from taco_toolbox_spark.checks import (  # noqa: E402
    CardinalityAnomalyCheck,
    CompletenessDriftCheck,
    VolumeAnomalyCheck,
)
from taco_toolbox_spark.checks.health import (  # noqa: E402
    cardinality_anomaly,
    completeness_drift,
    partition_profile,
    robust_band,
    volume_anomaly,
)
from taco_toolbox_spark.engine import EngineConfig, run_validation  # noqa: E402


@pytest.fixture(scope="module")
def corpus(spark):
    """Six partitions: p5 is a volume outlier (400 rows vs 100), p3 a
    cardinality collapse (5 distinct conv_ids vs 50), p4 a completeness
    break (50% NULL tool vs ~0% elsewhere)."""
    rows = []
    for p in range(6):
        n = 100 if p != 5 else 400
        for i in range(n):
            rows.append(
                (
                    f"p{p}",
                    f"c{p}_{i % (50 if p != 3 else 5)}",
                    i,
                    None if (p == 4 and i % 2 == 0) else "search",
                )
            )
    return spark.createDataFrame(
        rows, "part string, conv_id string, turn_idx int, tool string"
    )


def test_volume_anomaly_band_values(spark, corpus):
    rows = {r["part"]: r for r in volume_anomaly(corpus, "part").collect()}
    assert len(rows) == 6
    # counts [100]*5 + [400]: med=100, devs [0]*5+[300], mad=0
    assert rows["p5"]["n"] == 400
    assert rows["p5"]["med"] == 100.0
    assert rows["p5"]["mad"] == 0.0
    assert rows["p5"]["dev"] == 300.0
    assert rows["p5"]["is_anomaly"] is True
    assert all(
        rows[f"p{i}"]["is_anomaly"] is False for i in range(5)
    ), "MAD=0 must flag only DEVIATING partitions"


def test_volume_even_count_interpolated_median(spark):
    """Median over an even number of partitions interpolates exactly —
    the halves stay exactly representable, so the band is deterministic."""
    df = spark.createDataFrame(
        [("a", i) for i in range(10)]
        + [("b", i) for i in range(20)]
        + [("c", i) for i in range(30)]
        + [("d", i) for i in range(41)],
        "part string, x int",
    )
    rows = {r["part"]: r for r in volume_anomaly(df, "part", k=10.0).collect()}
    assert rows["a"]["med"] == 25.0  # (20+30)/2
    assert rows["a"]["dev"] == 15.0
    # devs: 15, 5, 5, 16 -> sorted 5,5,15,16 -> med = 10.0
    assert rows["a"]["mad"] == 10.0
    assert rows["d"]["is_anomaly"] is False  # 16 > 10*10 is false


def test_completeness_self_calibrating_and_explicit_baseline(spark, corpus):
    got = {
        r["part"]: r
        for r in completeness_drift(corpus, "part", "tool", 0.1).collect()
    }
    # corpus: 900 rows, 50 NULLs (p4) -> base 50/900
    base = 50.0 / 900.0
    assert got["p4"]["null_frac"] == 0.5
    assert abs(got["p4"]["base_frac"] - base) < 1e-15
    assert got["p4"]["is_drift"] is True
    assert all(got[f"p{i}"]["is_drift"] is False for i in (0, 1, 2, 3, 5))

    # explicit baseline: 0.5 makes p4 the only COMPLIANT partition
    got2 = {
        r["part"]: r
        for r in completeness_drift(
            corpus, "part", "tool", 0.1, baseline_frac=0.5
        ).collect()
    }
    assert got2["p4"]["is_drift"] is False
    assert got2["p0"]["is_drift"] is True


def test_completeness_tol_boundary_is_strict(spark):
    """|delta| == tol must NOT fire — the rule is strictly-greater, same
    contract as the drift family's thresholds."""
    df = spark.createDataFrame(
        [("a", None), ("a", "x"), ("b", "x"), ("b", "x")],
        "part string, c string",
    )
    # fracs: a=0.5, b=0.0; explicit baseline 0.25 -> |delta| = 0.25 both
    got = {
        r["part"]: r["is_drift"]
        for r in completeness_drift(
            df, "part", "c", 0.25, baseline_frac=0.25
        ).collect()
    }
    assert got == {"a": False, "b": False}


def test_completeness_validity_expression(spark, corpus):
    """value_col may be any SQL validity expression, not just a column —
    here 'incomplete' means turn_idx >= 50 (NULLs from the CASE)."""
    got = {
        r["part"]: r
        for r in completeness_drift(
            corpus,
            "part",
            F.expr("CASE WHEN turn_idx < 50 THEN 1 END"),
            0.2,
        ).collect()
    }
    # every 100-row partition has 50% "null"; p5 has 350/400 = 87.5%
    assert got["p5"]["null_frac"] == 0.875
    assert got["p5"]["is_drift"] is True
    assert got["p0"]["is_drift"] is False


def test_cardinality_anomaly_flags_collapse(spark, corpus):
    rows = {
        r["part"]: r
        for r in cardinality_anomaly(corpus, "part", "conv_id").collect()
    }
    assert rows["p3"]["n_distinct"] == 5
    assert rows["p3"]["is_anomaly"] is True
    assert sum(1 for r in rows.values() if r["is_anomaly"]) == 1


def test_cardinality_as_duplicate_rate_monitor(spark):
    """key = a content fingerprint makes the same check a per-partition
    duplicate-rate monitor: the partition where a crawler re-delivered
    one document collapses in distinct-fingerprint count."""
    rows = [("ok", f"doc {i}") for i in range(20)] + [
        ("dup", f"doc {i % 2}") for i in range(20)
    ]
    df = spark.createDataFrame(rows * 2, "part string, text string")
    extra = spark.createDataFrame(
        [(f"ok{j}", f"doc {i}") for j in range(3) for i in range(20)],
        "part string, text string",
    )
    both = df.unionAll(extra)
    got = {
        r["part"]: r["is_anomaly"]
        for r in cardinality_anomaly(
            both, "part", F.sha2(F.col("text"), 256)
        ).collect()
    }
    assert got["dup"] is True
    assert not any(v for k, v in got.items() if k != "dup")


def test_seasonal_volume_band(spark):
    """The season-classed band fixes the weekly rhythm: a legitimate
    low-volume 'sunday' class stops flagging (plain band pages on it)
    and a broken member WITHIN the class starts flagging (plain band
    sees it as an ordinary weekday count)."""
    rows = []
    # 4 weeks: weekday partitions 100 rows, sundays 20 — except one
    # BROKEN sunday carrying a weekday-like 100
    for wk in range(4):
        for dow in ("mon", "tue", "wed", "sun"):
            part = f"w{wk}_{dow}"
            n = 20 if dow == "sun" else 100
            if part == "w2_sun":
                n = 100
            rows += [(part, dow, i) for i in range(n)]
    df = spark.createDataFrame(rows, "part string, dow string, x int")

    plain = {
        r["part"]: r["is_anomaly"]
        for r in volume_anomaly(df, "part", k=3.0).collect()
    }
    # plain band: median is the weekday 100, healthy sundays deviate
    assert plain["w0_sun"] is True
    assert plain["w2_sun"] is False  # the broken sunday hides

    seasonal = {
        r["part"]: r
        for r in volume_anomaly(
            df,
            "part",
            k=3.0,
            season_expr=F.substring_index("part", "_", -1),
        ).collect()
    }
    assert seasonal["w0_sun"]["is_anomaly"] is False
    assert seasonal["w2_sun"]["is_anomaly"] is True  # exposed in-class
    assert seasonal["w2_sun"]["season"] == "sun"
    assert seasonal["w0_mon"]["med"] == 100.0
    assert seasonal["w0_sun"]["med"] == 20.0


def test_seasonal_engine_and_suite(spark):
    """The season expression rides the engine check and the suite type;
    a malformed season expression is a load-time SuiteError."""
    from taco_toolbox_spark.suite import SuiteError, parse_suite

    rows = []
    for wk in range(4):
        for dow in ("mon", "tue", "sun"):
            part = f"w{wk}_{dow}"
            n = 20 if dow == "sun" else 100
            if part == "w2_sun":
                n = 100
            rows += [(part, f"c{part}", i) for i in range(n)]
    df = spark.createDataFrame(
        rows, "part string, conv_id string, turn_idx int"
    )
    spec = {
        "engine": {"partition_col": "part"},
        "checks": [
            {
                "type": "volume",
                "id": "vol_seasonal",
                "k": 3.0,
                "season": "substring_index(part, '_', -1)",
            }
        ],
    }
    res = parse_suite(spec).run(df)
    bad = [r["part"] for r in res.verdicts.filter("NOT passed").collect()]
    assert bad == ["w2_sun"]
    with pytest.raises(SuiteError, match="unparseable"):
        parse_suite(
            {
                "checks": [
                    {"type": "volume", "id": "x", "season": "SELEC bogus ("}
                ]
            }
        )


def test_volume_vs_history_catches_global_collapse(spark):
    """The self-calibrated band's one blind spot: every partition of the
    new run halves together — its own median halves too and sees
    nothing; the historical band fires on every partition."""
    from taco_toolbox_spark.checks.health import volume_anomaly_vs_history

    hist_rows = [(f"h{p}", i) for p in range(6) for i in range(100)]
    cur_rows = [(f"c{p}", i) for p in range(6) for i in range(50)]
    hist = spark.createDataFrame(hist_rows, "part string, x int")
    cur = spark.createDataFrame(cur_rows, "part string, x int")

    self_band = volume_anomaly(cur, "part", k=3.0)
    assert self_band.filter("is_anomaly").count() == 0  # blind

    history = partition_profile(hist, "part")
    vs_hist = {
        r["part"]: r
        for r in volume_anomaly_vs_history(
            cur, "part", history, k=3.0
        ).collect()
    }
    assert all(r["is_anomaly"] for r in vs_hist.values())  # all fire
    assert vs_hist["c0"]["med"] == 100.0
    assert vs_hist["c0"]["dev"] == 50.0


def test_volume_history_from_manifest_roundtrip(spark, cli_corpus_dir, tmp_path):
    """Every validation run already records per-partition n_rows, so any
    manifest is a volume-history source: run validate, rebuild the
    history frame, and judge a halved replay of the corpus against it."""
    from jobs.validate import main as validate_main

    from taco_toolbox_spark.checkpoint import (
        CheckpointManifest,
        volume_history_from_manifest,
    )
    from taco_toolbox_spark.checks.health import volume_anomaly_vs_history

    out = str(tmp_path / "hist_run")
    assert validate_main(
        [
            "--input", f"{cli_corpus_dir}/transcripts",
            "--output", out,
            "--batch-parts", "0",
            "--run-id", "hist1",
        ],
        stop_session=False,
    ) == 0
    manifest = CheckpointManifest.load(os.path.join(out, "manifest.json"))
    history = volume_history_from_manifest(spark, manifest)
    n_parts = history.count()
    assert n_parts > 0
    # a faithful replay of the same corpus flags EXACTLY what the
    # corpus's own self-band flags (identical counts -> identical band
    # -> identical verdicts; the corpus has genuine hot-day outliers, so
    # neither set is required to be empty)
    df = spark.read.parquet(f"{cli_corpus_dir}/transcripts")
    same = {
        r["part"]: r["is_anomaly"]
        for r in volume_anomaly_vs_history(df, "part", history, 3.0).collect()
    }
    self_band = {
        r["part"]: r["is_anomaly"]
        for r in volume_anomaly(df, "part", k=3.0).collect()
    }
    assert same == self_band
    # (the global-collapse semantics — history fires where the self-band
    # is blind — are covered deterministically on hand-built counts by
    # test_volume_vs_history_catches_global_collapse; this test owns the
    # manifest round-trip and parity contract)

    # this corpus's daily volume is bursty (MAD comparable to the
    # median), which swallows even a 90% collapse inside the 3-MAD band
    # — the documented case for the relative floor: with rel, every
    # surviving partition of the outage run fires
    outage = df.filter(F.xxhash64("conv_id") % 10 == 0)
    no_rel = volume_anomaly_vs_history(outage, "part", history, 3.0)
    with_rel = volume_anomaly_vs_history(
        outage, "part", history, 3.0, rel=0.5
    )
    # the relative floor only ADDS flags (monotone property; its exact
    # semantics are pinned on hand-built counts in
    # test_history_band_relative_floor)
    assert (
        with_rel.filter("is_anomaly").count()
        >= no_rel.filter("is_anomaly").count()
    )
    with pytest.raises(ValueError, match="rel must be > 0"):
        volume_anomaly_vs_history(outage, "part", history, 3.0, rel=0.0)

    # an empty manifest is a loud error, not an empty band
    empty = CheckpointManifest.load_or_create(
        str(tmp_path / "m.json"), "r", "in"
    )
    with pytest.raises(ValueError, match="n_rows"):
        volume_history_from_manifest(spark, empty)


def test_cardinality_history_from_manifest(spark, tmp_path):
    """The cardinality twin of the manifest history band: run A records
    per-partition HLL distinct state, run B's id-mapping collapse is
    judged against A's band while B's own band is blind."""
    from taco_toolbox_spark.checkpoint import (
        CheckpointManifest,
        cardinality_history_from_manifest,
        record_distinct_state,
    )
    from taco_toolbox_spark.checks.health import (
        cardinality_anomaly_vs_history,
    )

    blessed = spark.createDataFrame(
        [(f"p{p}", f"u{i}") for p in range(5) for i in range(60)],
        "part string, user string",
    )
    m = CheckpointManifest.load_or_create(
        str(tmp_path / "m.json"), "r1", "in"
    )
    record_distinct_state(m, blessed, ["user"])
    m.save()
    m2 = CheckpointManifest.load(str(tmp_path / "m.json"))
    history = cardinality_history_from_manifest(spark, m2, "user")
    ests = [r["n"] for r in history.collect()]
    assert len(ests) == 5 and all(55 <= e <= 65 for e in ests)

    # the global id-mapping collapse: every partition maps to 3 users
    collapsed = spark.createDataFrame(
        [(f"p{p}", f"u{i % 3}") for p in range(5) for i in range(60)],
        "part string, user string",
    )
    self_blind = cardinality_anomaly(collapsed, "part", "user")
    assert self_blind.filter("is_anomaly").count() == 0
    fired = cardinality_anomaly_vs_history(
        collapsed, "part", "user", history
    )
    assert fired.filter("is_anomaly").count() == 5

    with pytest.raises(ValueError, match="distinct state"):
        cardinality_history_from_manifest(spark, m2, "missing_col")
    with pytest.raises(ValueError, match="rel must be > 0"):
        cardinality_anomaly_vs_history(
            collapsed, "part", "user", history, rel=0.0
        )


def test_history_band_relative_floor(spark):
    """A bursty history (MAD comparable to the median) swallows even a
    halving inside the 3-MAD band; the relative floor pages on it.
    history counts [40, 100, 160] x2 -> med=100, MAD=60: a collapse to
    45 has dev=55 < 180 (silent) but 55 > 0.5*100 (fires)."""
    from taco_toolbox_spark.checks.health import volume_anomaly_vs_history

    hist_rows = [
        (p, i)
        for p, n in [("a", 40), ("b", 100), ("c", 160),
                     ("d", 40), ("e", 100), ("f", 160)]
        for i in range(n)
    ]
    cur_rows = [(f"x{p}", i) for p in range(4) for i in range(45)]
    hist = spark.createDataFrame(hist_rows, "part string, x int")
    cur = spark.createDataFrame(cur_rows, "part string, x int")
    history = partition_profile(hist, "part")

    blind = volume_anomaly_vs_history(cur, "part", history, 3.0)
    assert blind.filter("is_anomaly").count() == 0
    paged = {
        r["part"]: r
        for r in volume_anomaly_vs_history(
            cur, "part", history, 3.0, rel=0.5
        ).collect()
    }
    assert all(r["is_anomaly"] for r in paged.values())
    assert paged["x0"]["med"] == 100.0 and paged["x0"]["dev"] == 55.0


def test_engine_volume_history_and_rel(spark):
    """VolumeAnomalyCheck with history_counts judges against the blessed
    band (global collapse fires everywhere while the self mode is
    blind); rel adds the relative floor; guards are loud."""
    import statistics

    rows = [(f"p{p}", i) for p in range(4) for i in range(50)]
    df = spark.createDataFrame(rows, "part string, x int")

    self_res = run_validation(
        df, [VolumeAnomalyCheck("volume")], EngineConfig()
    )
    assert self_res.violations.count() == 0  # blind to the collapse

    hist = [100, 100, 100, 100, 102]
    c = VolumeAnomalyCheck("volume_hist", history_counts=hist)
    assert c.history_band() == (
        float(statistics.median(hist)),
        0.0,
    )
    hist_res = run_validation(df, [c], EngineConfig())
    assert hist_res.violations.count() == 4  # every halved partition

    # rel floor on a wide-MAD history: [40,100,160] med=100 MAD=60 —
    # 3·MAD swallows 50 but rel=0.4 fires
    wide = VolumeAnomalyCheck(
        "volume_rel", history_counts=[40, 100, 160], rel=0.4
    )
    rel_res = run_validation(df, [wide], EngineConfig())
    assert rel_res.violations.count() == 4
    no_rel = VolumeAnomalyCheck("volume_worel", history_counts=[40, 100, 160])
    assert run_validation(df, [no_rel], EngineConfig()).violations.count() == 0

    with pytest.raises(ValueError, match="mutually exclusive"):
        VolumeAnomalyCheck("x", history_counts=[1], season="part")
    with pytest.raises(ValueError, match="history_counts is empty"):
        VolumeAnomalyCheck("x", history_counts=[])
    with pytest.raises(ValueError, match="rel must be > 0"):
        VolumeAnomalyCheck("x", rel=-1.0)


def test_suite_volume_history_and_rel(spark):
    from taco_toolbox_spark.suite import SuiteError, parse_suite

    rows = [(f"p{p}", f"c{p}", 0) for p in range(3) for _ in range(10)]
    df = spark.createDataFrame(
        rows * 5, "part string, conv_id string, turn_idx int"
    )
    spec = {
        "engine": {"partition_col": "part"},
        "checks": [
            {"type": "volume", "id": "v", "k": 3,
             "history": [100, 100, 100], "rel": 0.3}
        ],
    }
    res = parse_suite(spec).run(df)
    # every partition has 50 rows vs blessed 100: dev=50 > 0.3*100
    assert res.verdicts.filter("NOT passed").count() == 3
    with pytest.raises(SuiteError, match="history"):
        parse_suite(
            {"checks": [{"type": "volume", "id": "v",
                         "history": ["lots"]}]}
        )


def test_validate_cli_volume_vs_manifest(spark, cli_corpus_dir, tmp_path):
    """A recurring job judges today's volume against yesterday's blessed
    manifest: the faithful replay matches the self-band verdicts, and a
    missing manifest path exits loudly."""
    from jobs.validate import main as validate_main

    out1 = str(tmp_path / "blessed")
    assert validate_main(
        [
            "--input", f"{cli_corpus_dir}/transcripts",
            "--output", out1,
            "--batch-parts", "0",
            "--run-id", "b1",
        ],
        stop_session=False,
    ) == 0
    out2 = str(tmp_path / "today")
    assert validate_main(
        [
            "--input", f"{cli_corpus_dir}/transcripts",
            "--output", out2,
            "--batch-parts", "0",
            "--volume-vs-manifest", os.path.join(out1, "manifest.json"),
            "--volume-rel", "0.5",
            "--run-id", "t1",
        ],
        stop_session=False,
    ) == 0
    verd = spark.read.parquet(os.path.join(out2, "verdicts"))
    assert verd.filter("check_id = 'volume'").count() > 0

    with pytest.raises(SystemExit, match="volume-vs-manifest"):
        validate_main(
            [
                "--input", f"{cli_corpus_dir}/transcripts",
                "--output", str(tmp_path / "x"),
                "--volume-vs-manifest", str(tmp_path / "nope.json"),
            ],
            stop_session=False,
        )


def test_robust_band_guards(spark, corpus):
    prof = partition_profile(corpus, "part")
    with pytest.raises(ValueError, match="k must be > 0"):
        robust_band(prof, "n", 0.0)
    clash = prof.withColumn("med", F.lit(1))
    with pytest.raises(ValueError, match="med"):
        robust_band(clash, "n", 3.0)


def test_check_constructor_guards():
    with pytest.raises(ValueError, match="k must be > 0"):
        VolumeAnomalyCheck("v", k=-1)
    with pytest.raises(ValueError, match="needs value_col"):
        CompletenessDriftCheck("c")
    with pytest.raises(ValueError, match="tol must be in"):
        CompletenessDriftCheck("c", value_col="x", tol=2.0)
    with pytest.raises(ValueError, match="baseline_frac"):
        CompletenessDriftCheck("c", value_col="x", baseline_frac=1.5)
    with pytest.raises(ValueError, match="needs value_col"):
        CardinalityAnomalyCheck("d")
    with pytest.raises(ValueError, match="k must be > 0"):
        CardinalityAnomalyCheck("d", value_col="x", k=0)


def test_engine_battery_verdicts_and_details(spark, corpus):
    res = run_validation(
        corpus,
        [
            VolumeAnomalyCheck("volume"),
            CompletenessDriftCheck("tool_null", value_col="tool", tol=0.1),
            CardinalityAnomalyCheck("conv_card", value_col="conv_id"),
        ],
        EngineConfig(),
    )
    viol = sorted(
        (r["part"], r["check_id"], r["conv_id"], r["turn_idx"])
        for r in res.violations.collect()
    )
    # partition-grain violations: conv_id/turn_idx NULL, one per offender
    assert viol == [
        ("p3", "conv_card", None, None),
        ("p4", "tool_null", None, None),
        ("p5", "volume", None, None),
    ]
    details = {
        r["check_id"]: r["detail"] for r in res.violations.collect()
    }
    assert "partition_rows=400" in details["volume"]
    assert "null_frac=0.5" in details["tool_null"]
    assert "n_distinct=5" in details["conv_card"]
    verd = {
        (r["part"], r["check_id"]): r["passed"]
        for r in res.verdicts.collect()
    }
    assert len(verd) == 18  # 6 parts x 3 checks
    assert sum(1 for ok in verd.values() if not ok) == 3


def test_health_pass_plan_single_scan_no_expand(spark, corpus):
    """The whole trio rides ONE scan + ONE partition-grain aggregation;
    the band windows share one single-partition exchange over the tiny
    profile frame; a single distinct aggregate plans without Expand."""
    from taco_toolbox_spark.engine import _health_pass

    v = _health_pass(
        corpus,
        [VolumeAnomalyCheck("volume")],
        [CompletenessDriftCheck("tool_null", value_col="tool", tol=0.1)],
        [CardinalityAnomalyCheck("conv_card", value_col="conv_id")],
        EngineConfig(),
    )
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") == 1
    assert plan.count("Expand") == 0
    # two agg exchanges (part,key then part) + one SinglePartition
    assert plan.count("Exchange") <= 3
    assert "SinglePartition" in plan


def test_stream_health_batch_parity(spark, tmp_path):
    """The streaming twin re-emits the BATCH verdicts exactly when fed
    the batch-computed band/baseline: per-day windows == volume_anomaly
    + completeness_drift on the same corpus, compared ==-exact (floats
    included), across multiple forced micro-batches."""
    import datetime

    from taco_toolbox_spark.streaming.validate_stream import (
        drain,
        stream_health,
        stream_health_baseline,
    )

    rows = []
    base = datetime.datetime(2024, 3, 1)
    for d in range(8):
        n = 50 if d != 5 else 200  # planted volume outlier on day 5
        for i in range(n):
            rows.append(
                (
                    base + datetime.timedelta(days=d, seconds=i),
                    None if (d == 3 and i % 2 == 0) else "x",
                )
            )
    df = spark.createDataFrame(rows, "ts timestamp, tool string")
    src = str(tmp_path / "events")
    # several files -> several micro-batches under maxFilesPerTrigger=1
    df.repartition(4).write.parquet(src)

    baseline = stream_health_baseline(spark.read.parquet(src), "tool")
    out = drain(
        spark,
        src,
        lambda s: stream_health(s, valid_expr="tool", tol=0.1, **baseline),
        "complete",
        1,
    )
    got = {
        r["window_start"].strftime("%Y-%m-%d"): r
        for r in out.collect()
    }
    assert len(got) == 8

    day = F.date_format("ts", "yyyy-MM-dd")
    vol = {
        r["part"]: r for r in volume_anomaly(df, day).collect()
    }
    comp = {
        r["part"]: r
        for r in completeness_drift(df, day, "tool", 0.1).collect()
    }
    for p, v in vol.items():
        s = got[p]
        assert (s["n"], s["med"], s["mad"], s["dev"], s["is_anomaly"]) == (
            v["n"], v["med"], v["mad"], v["dev"], v["is_anomaly"]
        )
        c = comp[p]
        assert (
            s["n_valid"], s["null_frac"], s["base_frac"], s["delta"],
            s["is_drift"],
        ) == (
            c["n_valid"], c["null_frac"], c["base_frac"], c["delta"],
            c["is_drift"],
        )
    assert got["2024-03-06"]["is_anomaly"] is True
    assert got["2024-03-04"]["is_drift"] is True


def test_stream_health_guards(spark):
    from taco_toolbox_spark.streaming.validate_stream import stream_health

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="at least one member"):
        stream_health(df, ts_col="timestamp")
    with pytest.raises(ValueError, match="explicit baseline_frac"):
        stream_health(df, ts_col="timestamp", valid_expr="value")
    with pytest.raises(ValueError, match="distinct_band"):
        stream_health(df, ts_col="timestamp", distinct_col="value")
    with pytest.raises(ValueError, match="baseline_frac must be in"):
        stream_health(
            df, ts_col="timestamp", valid_expr="value", baseline_frac=2.0
        )


def test_stream_health_approx_cardinality_member(spark, tmp_path):
    """The cardinality member streams as an HLL approximation (bounded
    state) with the band applied to the approximate count — the column
    names say so; the batch check stays the exact anchor."""
    import datetime

    from taco_toolbox_spark.streaming.validate_stream import stream_health

    rows = []
    base = datetime.datetime(2024, 3, 1)
    for d in range(4):
        for i in range(40):
            # day 2 collapses to 2 distinct users
            rows.append(
                (
                    base + datetime.timedelta(days=d, seconds=i),
                    f"u{i % (2 if d == 2 else 40)}",
                )
            )
    df = spark.createDataFrame(rows, "ts timestamp, user string")
    src = str(tmp_path / "ev")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = stream_health(
        stream,
        distinct_col="user",
        distinct_band=(40.0, 0.0),
        distinct_k=3.0,
        # small rsd: at these cardinalities the HLL answer is exact
        distinct_rsd=0.01,
    )
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_shealth_card")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["window_start"].strftime("%Y-%m-%d"): r
        for r in spark.sql("SELECT * FROM t_shealth_card").collect()
    }
    assert got["2024-03-03"]["card_flag_approx"] is True
    assert got["2024-03-01"]["card_flag_approx"] is False
    assert "n_distinct_approx" in got["2024-03-01"].asDict()


@pytest.fixture(scope="module")
def cli_corpus_dir(spark, tmp_path_factory):
    from taco_toolbox_spark.datagen import generate_transcripts, write_corpus

    d = tmp_path_factory.mktemp("health_cli")
    corpus = generate_transcripts(
        spark, n_convs=120, seed=7, violation_denom=200
    )
    write_corpus(corpus, str(d))
    return str(d)


def test_history_band_plan_is_broadcast(spark, corpus):
    """The vs-history band joins as a BROADCAST of the 1-row band — no
    shuffle of the profile, no sort-merge; the current side still scans
    the input exactly once."""
    from taco_toolbox_spark.checks.health import (
        volume_anomaly_vs_history,
    )

    history = partition_profile(corpus, "part")
    out = volume_anomaly_vs_history(corpus, "part", history, 3.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_validate_cli_health_flags(spark, cli_corpus_dir, tmp_path):
    from jobs.validate import main as validate_main

    out = str(tmp_path / "out")
    args = [
        "--input", f"{cli_corpus_dir}/transcripts",
        "--output", out,
        "--batch-parts", "0",
        "--volume-k", "3",
        "--null-drift", "tool:0.45",
        "--distinct-band", "conv_id:3",
    ]
    assert validate_main(args + ["--run-id", "h1"], stop_session=False) == 0
    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    ids = {r["check_id"] for r in verd.select("check_id").distinct().collect()}
    assert {"volume", "null_drift_tool", "distinct_band_conv_id"} <= ids


@pytest.mark.parametrize(
    "args,frag",
    [
        (["--volume-k", "-2"], "k must be > 0"),
        (["--null-drift", "tool"], "expected COL:TOL"),
        (["--null-drift", "tool:lots"], "TOL must be a number"),
        (["--distinct-band", ":3"], "expected COL:K"),
        (["--distinct-band", "conv_id:x"], "K must be a number"),
    ],
)
def test_validate_cli_health_bad_specs(
    spark, cli_corpus_dir, tmp_path, args, frag
):
    from jobs.validate import main as validate_main

    base = [
        "--input", f"{cli_corpus_dir}/transcripts",
        "--output", str(tmp_path / "out"),
    ]
    with pytest.raises(SystemExit, match=frag):
        validate_main(base + args, stop_session=False)


def test_engine_cardinality_history_and_rel(spark):
    """CardinalityAnomalyCheck with history_counts + rel: the global key
    collapse fires against the blessed band while the self mode is
    blind; suite keys round-trip; guards loud."""
    from taco_toolbox_spark.suite import parse_suite

    rows = [(f"p{p}", f"c{p}", 0, f"u{i % 3}") for p in range(4)
            for i in range(50)]
    df = spark.createDataFrame(
        rows, "part string, conv_id string, turn_idx int, user string"
    )
    self_res = run_validation(
        df, [CardinalityAnomalyCheck("card", value_col="user")],
        EngineConfig(),
    )
    assert self_res.violations.count() == 0  # all equal -> blind
    hist_res = run_validation(
        df,
        [CardinalityAnomalyCheck(
            "card_hist", value_col="user",
            history_counts=[50, 50, 50, 48], rel=0.5,
        )],
        EngineConfig(),
    )
    assert hist_res.violations.count() == 4  # every collapsed partition

    spec = {
        "engine": {"partition_col": "part"},
        "checks": [
            {"type": "cardinality", "id": "c", "col": "user",
             "history": [50, 50, 50, 48], "rel": 0.5}
        ],
    }
    res = parse_suite(spec).run(df)
    assert res.verdicts.filter("NOT passed").count() == 4

    with pytest.raises(ValueError, match="mutually exclusive"):
        CardinalityAnomalyCheck(
            "x", value_col="u", history_counts=[1], season="part"
        )
    with pytest.raises(ValueError, match="rel must be > 0"):
        CardinalityAnomalyCheck("x", value_col="u", rel=0.0)


def test_health_duplicate_check_id_is_loud(spark, corpus):
    """Two health checks sharing a check_id would silently collapse the
    shared profile's metric columns — the engine refuses instead."""
    with pytest.raises(ValueError, match="duplicate health check_id"):
        run_validation(
            corpus,
            [
                CompletenessDriftCheck("same", value_col="tool", tol=0.1),
                CompletenessDriftCheck("same", value_col="conv_id", tol=0.1),
            ],
            EngineConfig(),
        )


def test_volume_absolute_bounds(spark):
    """min_rows/max_rows are absolute per-partition bounds ORed with the
    band — the 'every day carries at least N events' rule no relative
    band can express: with identical partition counts the band is
    silent, the floor still fires."""
    from taco_toolbox_spark.suite import SuiteError, parse_suite

    rows = [(f"p{p}", f"c{p}", 0) for p in range(4) for _ in range(50)]
    df = spark.createDataFrame(
        rows, "part string, conv_id string, turn_idx int"
    )
    res = run_validation(
        df,
        [VolumeAnomalyCheck("vol_floor", min_rows=60)],
        EngineConfig(),
    )
    assert res.violations.count() == 4  # all 50-row partitions < 60
    res2 = run_validation(
        df,
        [VolumeAnomalyCheck("vol_cap", max_rows=49)],
        EngineConfig(),
    )
    assert res2.violations.count() == 4
    res3 = run_validation(
        df,
        [VolumeAnomalyCheck("vol_ok", min_rows=50, max_rows=50)],
        EngineConfig(),
    )
    assert res3.violations.count() == 0

    spec = {
        "engine": {"partition_col": "part"},
        "checks": [
            {"type": "volume", "id": "v", "min_rows": 60}
        ],
    }
    assert parse_suite(spec).run(df).verdicts.filter(
        "NOT passed"
    ).count() == 4
    with pytest.raises(ValueError, match="min_rows 9 > max_rows"):
        VolumeAnomalyCheck("x", min_rows=9, max_rows=5)
    with pytest.raises(SuiteError, match="must be an integer"):
        parse_suite(
            {"checks": [{"type": "volume", "id": "v", "min_rows": "x"}]}
        )
