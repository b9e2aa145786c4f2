"""Quantile drift paths (JVM percentile_approx) + KS drift."""

import numpy as np
import pandas as pd

from taco_toolbox_spark.checks.drift import (
    approx_global_quantiles,
    approx_quantiles_by_partition,
)

PROBES = (0.1, 0.25, 0.5, 0.75, 0.9)


def test_compress_quantiles_close_to_exact(spark):
    rng = np.random.default_rng(0)
    v = rng.lognormal(3, 1, 50_000)
    df = spark.createDataFrame(pd.DataFrame({"v": v}))
    q = approx_global_quantiles(df, "v", PROBES)
    exact = np.quantile(v, PROBES)
    assert np.allclose(q, exact, rtol=0.05)


def test_merge_matches_whole(spark):
    """Per-partition partial sketches merge into global quantiles close to
    the quantiles of the concatenated values."""
    rng = np.random.default_rng(1)
    parts = [rng.normal(100, 15, 10_000) for _ in range(8)]
    pdf = pd.DataFrame(
        {"part": np.repeat(np.arange(8), 10_000), "v": np.concatenate(parts)}
    )
    df = spark.createDataFrame(pdf).repartitionByRange(8, "part")
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == sum(len(p) for p in parts)
    q = approx_global_quantiles(df, "v", PROBES)
    exact = np.quantile(np.concatenate(parts), PROBES)
    assert np.allclose(q, exact, rtol=0.03)


def test_empty_and_single(spark):
    empty = spark.createDataFrame([], "v double")
    assert np.isnan(approx_global_quantiles(empty, "v", PROBES)).all()
    single = spark.createDataFrame([(5.0,)], "v double")
    assert approx_global_quantiles(single, "v", PROBES) == [5.0] * 5


def test_spark_sketch_by_partition(corpus):
    q = approx_quantiles_by_partition(
        corpus.clean, "length(text)", PROBES, "part"
    ).toPandas()
    parts = {r["part"] for r in corpus.clean.select("part").distinct().collect()}
    assert len(q) == len(parts) and set(q["part"]) == {str(p) for p in parts}
    assert all(len(x) == len(PROBES) for x in q["q"])


def test_global_quantiles_vs_exact(corpus, clean_pdf):
    q = approx_global_quantiles(corpus.clean, "length(text)", PROBES)
    exact = np.quantile(clean_pdf["text"].str.len().to_numpy(), PROBES)
    assert np.allclose(q, exact, rtol=0.08, atol=1.5)


# ---------------------------------------------------------------- KS drift


def test_ks_hand_computed(spark):
    """KS on a tiny frame, checked against a hand-worked value.

    part A sample = [1, 2, 3], baseline = [1, 2, 3, 4, 5, 6].
    ECDFs jump at {1..6}; sup |3·F_A − ... | attained at x=3:
    |cum_A·m − cum_B·n| = |3·6 − 3·3| = 9 → ks = 9 / (3·6) = 0.5.
    """
    from taco_toolbox_spark.checks.drift import ks_statistic_by_partition

    sample = spark.createDataFrame(
        [("A", float(v)) for v in (1, 2, 3)], "part string, v double"
    )
    base = spark.createDataFrame(
        [(float(v),) for v in (1, 2, 3, 4, 5, 6)], "v double"
    )
    [r] = ks_statistic_by_partition(sample, "v", "part", base).collect()
    assert (r["n_part"], r["m"], r["ks_num"]) == (3, 6, 9)
    assert r["ks"] == 0.5


def test_ks_identical_sample_is_zero(spark):
    """A partition whose sample IS the baseline has D = 0 exactly — the
    cross-multiplied integer deviations cancel at every jump point."""
    from taco_toolbox_spark.checks.drift import ks_statistic_by_partition

    vals = [(float(v % 7),) for v in range(50)]
    base = spark.createDataFrame(vals, "v double")
    sample = base.selectExpr("'P' AS part", "v")
    [r] = ks_statistic_by_partition(sample, "v", "part", base).collect()
    assert r["ks_num"] == 0 and r["ks"] == 0.0


def test_ks_detects_shift_and_nulls_dropped(spark):
    """A shifted partition scores near 1; NULLs on either side are not
    ECDF points (they'd otherwise sort engine-specifically)."""
    from taco_toolbox_spark.checks.drift import (
        ks_drift_violations,
        ks_statistic_by_partition,
    )

    sample = spark.createDataFrame(
        [("near", float(v), ) for v in range(10)]
        + [("far", 1000.0 + v) for v in range(10)]
        + [("far", None), ("near", None)],
        "part string, v double",
    )
    base = spark.createDataFrame(
        [(float(v),) for v in range(10)] + [(None,)], "v double"
    )
    ks = ks_statistic_by_partition(sample, "v", "part", base)
    rows = {r["part"]: r for r in ks.collect()}
    assert rows["far"]["n_part"] == 10 and rows["far"]["m"] == 10  # NULLs out
    assert rows["far"]["ks"] == 1.0  # disjoint supports
    assert rows["near"]["ks"] == 0.0
    viol = ks_drift_violations(ks, 0.5, "ks_value").collect()
    assert [v["part"] for v in viol] == ["far"]
    assert viol[0]["check_id"] == "ks_value"


def test_ks_partition_count_invariance(spark):
    """BIGINT max over integer deviations is order-independent: the
    statistic is bit-identical under repartitioning (the drift family's
    cross-engine reproducibility claim, exercised cross-partitioning)."""
    from taco_toolbox_spark.checks.drift import ks_statistic_by_partition

    import random

    rng = random.Random(7)
    sample = spark.createDataFrame(
        [(f"p{i % 3}", float(rng.randint(0, 40))) for i in range(300)],
        "part string, v double",
    )
    base = spark.createDataFrame(
        [(float(rng.randint(0, 40)),) for _ in range(200)], "v double"
    )
    a = ks_statistic_by_partition(
        sample.coalesce(1), "v", "part", base.coalesce(1)
    )
    b = ks_statistic_by_partition(
        sample.repartition(7), "v", "part", base.repartition(5)
    )
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
