"""Distribution-drift checks: quantile, categorical, KS, embedding,
correlation, conditional and transition drift.

The reference approximates percentiles with a 100-bucket histogram per band
(/root/reference/tacotoolbox/sample/extensions/geotiff_stats.py:251-264) and
merges per-partition summaries into global ones (min-of-mins / max-of-maxes,
_tacollection.py:343-466). At 10^12 rows the quantile drift check needs a
*mergeable, bounded-size* sketch, and Spark ships one: ``DriftCheck`` has
two paths, both plain JVM aggregations with no Python workers.

  approx  ``percentile_approx`` (Greenwald-Khanna) per partition — a
          partial/final ObjectHashAggregate, combined map-side. The
          default; ``method="tdigest"`` is an alias of it.
  exact   ``percentile`` (sort-based, type-7) per partition — the
          DuckDB-replicable path for verification corpora.

Both feed the same column-expression judge (:func:`drift_violations_approx`,
deviation :func:`rel_dev`). The checkpoint manifest stores Spark's native
KLL sketches (checkpoint.record_sketch_state).

The other members each compute their statistic in one kernel:

  total variation  :func:`_tv_grid` over a (keys…, cond, cat) count
                   table (:func:`_cell_counts`, categories normalized by
                   :func:`as_category`). ``categorical_tv`` is the table at
                   one constant condition, ``conditional_tv`` the table
                   itself, ``transition_drift`` the table over transition
                   pairs; suite calibration feeds it too. Its streaming
                   twin is ``streaming.stream_conditional_tv``.
  Pearson          :func:`_pearson_moments` (exact DECIMAL moments) and
                   :func:`pearson_corr` (the one float expression).
  KS, centroid     :func:`ks_statistic_by_partition`,
                   :func:`embedding_centroid_drift`.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .base import violation_rows

#: one floor for relative deviation everywhere (batch exact, batch approx,
#: streaming) — a baseline quantile below 1 must not inflate the denominator.
REL_DEV_FLOOR = 1e-12


def rel_dev(a, b):
    """|a - b| / max(|b|, floor): THE drift deviation definition, shared by
    drift_violations_approx (approx and exact paths), streaming.stream_drift
    and suite.suggest_suite so the surfaces can't diverge."""
    return F.abs(a - b) / F.greatest(F.abs(b), F.lit(REL_DEV_FLOOR))


def approx_quantiles_by_partition(
    df: DataFrame,
    value_expr: str,
    probes: Sequence[float],
    partition_col: str = "part",
    accuracy: int = 10000,
) -> DataFrame:
    """JVM-side per-partition quantiles via percentile_approx — Spark's own
    mergeable sketch (Greenwald-Khanna), partial/final ObjectHashAggregate,
    no Python workers. The fast path for the drift check."""
    return df.groupBy(F.col(partition_col).cast("string").alias("part")).agg(
        F.percentile_approx(
            F.expr(value_expr).cast("double"), list(probes), accuracy
        ).alias("q")
    )


def approx_global_quantiles(
    df: DataFrame, value_expr: str, probes: Sequence[float], accuracy: int = 10000
) -> list[float]:
    row = df.agg(
        F.percentile_approx(
            F.expr(value_expr).cast("double"), list(probes), accuracy
        ).alias("q")
    ).first()
    return list(row["q"]) if row and row["q"] is not None else [float("nan")] * len(probes)


def exact_quantiles_by_partition(
    df: DataFrame,
    value_expr: str,
    probes: Sequence[float],
    partition_col: str = "part",
) -> DataFrame:
    """Exact per-partition quantiles via Spark's ``percentile`` (sort-based,
    type-7 linear interpolation — the same definition DuckDB's
    quantile_cont uses), so an independent engine can recompute the drift
    verdicts bit-for-bit. Costs a per-partition sort of the values: the
    oracle-replicable path for verification corpora; the mergeable
    ``approx`` path above remains the 10^12-row default."""
    probes_sql = ", ".join(repr(float(p)) for p in probes)
    return df.groupBy(F.col(partition_col).cast("string").alias("part")).agg(
        F.expr(
            f"percentile(cast(({value_expr}) as double), array({probes_sql}))"
        ).alias("q")
    )


def exact_global_quantiles(
    df: DataFrame, value_expr: str, probes: Sequence[float]
) -> list[float]:
    probes_sql = ", ".join(repr(float(p)) for p in probes)
    row = df.agg(
        F.expr(
            f"percentile(cast(({value_expr}) as double), array({probes_sql}))"
        ).alias("q")
    ).first()
    return (
        list(row["q"])
        if row and row["q"] is not None
        else [float("nan")] * len(probes)
    )


def drift_violations_approx(
    quantiles: DataFrame,
    baseline_quantiles: Sequence[float],
    threshold: float,
    check_id: str,
) -> DataFrame:
    """Per-partition drift verdicts computed as column expressions over the
    per-partition quantile arrays (no Python)."""
    base = F.array(*[F.lit(float(b)) for b in baseline_quantiles])
    dist = F.array_max(F.zip_with(F.col("q"), base, rel_dev))
    judged = quantiles.select(
        "part",
        dist.alias("dist"),
        F.transform(F.col("q"), lambda x: F.round(x, 2)).alias("q_r"),
    ).filter(F.col("dist").isNull() | F.isnan("dist") | (F.col("dist") > threshold))
    base_r = [round(float(b), 2) for b in baseline_quantiles]
    return violation_rows(
        judged,
        check_id,
        F.format_string(
            f"max_rel_quantile_dist=%s > {threshold} (quantiles=%s baseline={base_r})",
            F.round("dist", 4).cast("string"),
            F.col("q_r").cast("string"),
        ),
    )


# ---------------------------------------------------------------------------
# categorical drift: exact total-variation distance
# ---------------------------------------------------------------------------

#: NULL category values get their own bucket under this label so they join
#: (an equi-join on a NULL key would silently drop them) and so a baseline
#: that never saw NULLs flags them as pure drift mass.
NULL_CATEGORY = "<null>"


def as_category(c: Column) -> Column:
    """THE category normalizer of the TV family, batch, stream, suite and
    checkpoint alike: the value cast to string, NULL folded into
    ``NULL_CATEGORY``. The cast comes first so the coalesce never asks
    Spark to cast ``'<null>'`` to the column's own type (a
    ``CAST_INVALID_INPUT`` error under ANSI mode for a numeric column)."""
    return F.coalesce(c.cast("string"), F.lit(NULL_CATEGORY))


def _cell_counts(
    df: DataFrame, keys: Sequence[Column], cond: Column, cat: Column
) -> DataFrame:
    """The one data-sized pass of the TV family: ``(keys…, _k, _c, _n)``,
    a grouped count (map-side partial agg) per (keys, cond, cat) cell. A
    marginal histogram is the table at one constant condition."""
    return df.groupBy(
        *keys, as_category(cond).alias("_k"), as_category(cat).alias("_c")
    ).agg(F.count(F.lit(1)).alias("_n"))


def _baseline_frame(spark, baseline_counts: dict) -> DataFrame:
    """A {(cond, cat): n} baseline as a broadcastable literal frame
    ``(_k, _c, _nb)`` — built JVM-side, never a Python RDD scan."""
    from ..schema import literal_frame

    return literal_frame(
        spark,
        [(str(k), str(c), int(n))
         for (k, c), n in sorted(baseline_counts.items())],
        "_k string, _c string, _nb long",
    )


def _tv_grid(counts: DataFrame, base: DataFrame) -> DataFrame:
    """THE exact total-variation kernel of the batch drift family.

    ``counts`` is ``(keys…, _k, _c, _n)`` (:func:`_cell_counts`);
    ``base`` is ``(bkeys…, _k, _c, _nb)`` with ``bkeys`` a subset of
    ``keys`` (none for a stored baseline; the member id for the suite's
    self-baseline calibration). Per (keys, _k) group:

        TV = 1/2 · Σ_c | n(c)/N − n_b(c)/N_b |

    with each observed category's term the cross-multiplied INTEGER
    ``|n·N_b − n_b·N|`` (no per-category float division), summed as
    BIGINT (order-independent), ONE float division at the end — so an
    independent engine (the DuckDB oracle) reproduces every row
    bit-for-bit, which no float-accumulated KL/PSI statistic can promise.
    Products stay < 2^63 up to ~3·10^9 rows per condition per side; past
    that, pre-scale the baseline (TV needs only its per-condition
    *proportions*, so a common per-condition divisor is lossless for the
    verdict).

    Baseline categories MISSING from a group never need a grid row: their
    numerator mass is the closed form ``(N_b − Σ_present n_b) · N``.
    Materializing them (the naive union-of-categories grid) would
    re-derive the category axis from the input and, because Catalyst
    collapses the aggregate-over-aggregate into a second direct
    aggregation of the input, re-execute the whole data-sized subtree.
    Everything here runs over the grid: per-group totals via one window,
    the baseline through broadcast joins. A condition the baseline has
    never seen surfaces with ``n_base`` and ``tv`` NULL.

    Returns ``(keys…, _k, n_part, n_base, tv_num, tv)``.
    """
    keys = [c for c in counts.columns if c not in ("_k", "_c", "_n")]
    bkeys = [c for c in base.columns if c not in ("_k", "_c", "_nb")]
    base_tot = base.groupBy(*bkeys, "_k").agg(F.sum("_nb").alias("n_base"))
    w = Window.partitionBy(*keys, "_k")
    stats = (
        counts.join(F.broadcast(base), [*bkeys, "_k", "_c"], "left")
        .join(F.broadcast(base_tot), [*bkeys, "_k"], "left")
        .select(
            "*",
            F.sum("_n").over(w).alias("n_part"),
            F.sum(F.coalesce(F.col("_nb"), F.lit(0)))
            .over(w)
            .alias("_nb_present"),
        )
    )
    term = F.abs(
        F.col("_n") * F.col("n_base")
        - F.coalesce(F.col("_nb"), F.lit(0)) * F.col("n_part")
    )
    return (
        stats.groupBy(*keys, "_k", "n_part", "n_base", "_nb_present")
        .agg(F.sum(term).alias("_present_num"))
        .select(
            *keys,
            "_k",
            "n_part",
            "n_base",
            (
                F.col("_present_num")
                + (F.col("n_base") - F.col("_nb_present")) * F.col("n_part")
            ).alias("tv_num"),
        )
        .select(
            "*",
            (
                F.col("tv_num")
                / (F.lit(2.0) * F.col("n_part") * F.col("n_base"))
            ).alias("tv"),
        )
    )


def categorical_counts(df: DataFrame, cat_col: str) -> dict[str, int]:
    """Baseline category histogram as a plain dict (tiny: one row per
    category) — the conditional table at one constant condition. The
    collect is over the post-aggregation frame — a handful of rows
    regardless of input size."""
    rows = _cell_counts(df, [], F.lit(""), F.col(cat_col)).collect()
    return {r["_c"]: r["_n"] for r in rows}


def categorical_tv(
    df: DataFrame,
    cat_col: str,
    part_col: str,
    baseline_counts: dict[str, int],
) -> DataFrame:
    """Per-partition total-variation distance between the partition's
    ``cat_col`` distribution and the baseline distribution:

        TV = 1/2 · Σ_c | n_part(c)/N_part − n_base(c)/N_base |

    computed EXACTLY by the family's one kernel (:func:`_tv_grid`): a
    marginal histogram is the conditional table of :func:`conditional_tv`
    at ONE constant condition. Plan shape: the input is touched EXACTLY
    ONCE — one grouped count; nothing after it touches more than
    |parts|·|categories| rows.

    Returns (part, n_part, tv_num, tv) — one row per partition.
    """
    if sum(int(v) for v in baseline_counts.values()) <= 0:
        raise ValueError("baseline_counts must hold at least one observation")
    counts = _cell_counts(
        df, [F.col(part_col).cast("string").alias("part")],
        F.lit(""), F.col(cat_col),
    )
    base = _baseline_frame(
        df.sparkSession, {("", k): v for k, v in baseline_counts.items()}
    )
    return _tv_grid(counts, base).select("part", "n_part", "tv_num", "tv")


def categorical_drift_violations(
    tv: DataFrame, threshold: float, check_id: str
) -> DataFrame:
    """Violation rows (engine schema) for partitions whose TV distance
    exceeds the threshold."""
    judged = tv.filter(F.col("tv") > threshold)
    return violation_rows(
        judged,
        check_id,
        F.format_string(
            f"categorical_tv=%s > {threshold}",
            F.round("tv", 6).cast("string"),
        ),
    )


def ks_statistic_by_partition(
    df: DataFrame,
    value_col: str,
    part_col: str,
    baseline: DataFrame,
    baseline_value_col: str | None = None,
) -> DataFrame:
    """Per-partition two-sample Kolmogorov–Smirnov statistic against a
    baseline sample — the ECDF sibling of the quantile DriftCheck:
    where quantile drift judges a handful of percentile points,
    KS is the supremum over the WHOLE distribution, so a shape change
    between percentiles (bimodality, a new spike) that leaves p25/p50/p75
    untouched still registers.

        D_part = sup_x | ECDF_part(x) − ECDF_base(x) |

    computed EXACTLY in the repo's drift-family discipline: the supremum
    is attained at a jump point of either ECDF, so it is evaluated on the
    union of both samples' distinct values; at each point the deviation is
    the INTEGER ``|cum_part·m − cum_base·n_part|`` (cross-multiplied — no
    per-point float division), the max over points is a BIGINT max
    (order-independent), and ONE float division lands at the end. An
    independent engine reproduces (n_part, m, ks_num) bit-for-bit and the
    final ``ks`` as the same single IEEE754 division — the property the
    oracle verifies and a float-accumulated statistic cannot promise.
    Integer headroom: ``cum·m < n_part·m``, so products stay < 2^63 up to
    ~3·10^9 rows per side; past that, thin the BASELINE (KS only needs the
    baseline's ECDF, so any fixed subsample keeps the verdict's meaning —
    the same proportion-not-mass argument as categorical_tv's pre-scale).

    ``baseline`` is a bounded REFERENCE SAMPLE (the same contract as the
    DriftCheck's baseline sample): its distinct values are broadcast and
    replicated once per partition, so the grid carries
    |parts| × |baseline distinct| rows. The per-partition cumulative
    window sorts |part distinct + baseline distinct| rows — the exact
    drift mode's cost class (exact_quantiles_by_partition sorts the same
    frame); at 100 TB run this on quantized values or a baseline
    subsample, exactly as the exact quantile path documents. NULLs on
    either side are dropped (NULL ordering is engine-specific; nullness
    belongs to the null-fraction stats, not the ECDF).

    Returns (part, n_part, m, ks_num, ks) — one row per partition.
    """
    bcol = baseline_value_col or value_col
    s = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(part_col).cast("string").alias("part"),
            F.col(value_col).alias("_v"),
        )
        .agg(F.count(F.lit(1)).alias("_sn"))
    )
    b = (
        baseline.filter(F.col(bcol).isNotNull())
        .groupBy(F.col(bcol).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_bn"))
    )
    parts = s.select("part").distinct()
    grid_b = parts.join(F.broadcast(b), how="cross")
    u = s.withColumn("_bn", F.lit(0).cast("long")).unionByName(
        grid_b.withColumn("_sn", F.lit(0).cast("long"))
    )
    g = u.groupBy("part", "_v").agg(
        F.sum("_sn").alias("_sn"), F.sum("_bn").alias("_bn")
    )
    wc = Window.partitionBy("part").orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wp = Window.partitionBy("part")
    c = g.select(
        "part",
        F.sum("_sn").over(wc).alias("_cs"),
        F.sum("_bn").over(wc).alias("_cb"),
        F.sum("_sn").over(wp).alias("n_part"),
        F.sum("_bn").over(wp).alias("m"),
    )
    dev = F.abs(F.col("_cs") * F.col("m") - F.col("_cb") * F.col("n_part"))
    return (
        c.groupBy("part", "n_part", "m")
        .agg(F.max(dev).alias("ks_num"))
        .select(
            "part",
            "n_part",
            "m",
            "ks_num",
            (
                F.col("ks_num").cast("double")
                / (F.col("n_part").cast("double") * F.col("m").cast("double"))
            ).alias("ks"),
        )
    )


def ks_drift_violations(
    ks: DataFrame, threshold: float, check_id: str
) -> DataFrame:
    """Violation rows (engine schema) for partitions whose KS statistic
    exceeds the threshold."""
    judged = ks.filter(F.col("ks") > threshold)
    return violation_rows(
        judged,
        check_id,
        F.format_string(
            f"ks=%s > {threshold}",
            F.round("ks", 6).cast("string"),
        ),
    )


def embedding_centroid_sums(
    df: DataFrame, vec_col: str, part_col: str, quant: int = 10**7
) -> DataFrame:
    """Per-(partition, dimension) quantized component sums — the exact,
    mergeable sketch behind :func:`embedding_centroid_drift`. Components
    are quantized to integers (``round(val * quant)`` — both engines round
    half away from zero, and the float64 multiply is IEEE-identical), so
    the per-dim sums are BIGINT-exact and ORDER-INDEPENDENT: two engines
    (or two runs, or a manifest merge) agree bit-for-bit, which
    float-accumulated means cannot promise. One posexplode + one
    map-side-combined aggregation; the shuffle carries
    |parts| x |dims| rows."""
    e = df.select(
        F.col(part_col).cast("string").alias("part"),
        F.posexplode(F.col(vec_col)).alias("dim", "_v"),
    )
    q = F.round(F.col("_v").cast("double") * F.lit(float(quant))).cast("long")
    return e.groupBy("part", "dim").agg(
        F.sum(q).alias("s"), F.count(F.lit(1)).alias("n")
    )


def embedding_centroid_drift(
    df: DataFrame,
    vec_col: str,
    part_col: str,
    baseline: DataFrame | None = None,
    quant: int = 10**7,
    baseline_sums: dict[str, int] | None = None,
) -> DataFrame:
    """Per-partition embedding-centroid drift: the cosine between each
    partition's mean embedding and the baseline's (default: the whole
    corpus) — the embedding sibling of the quantile DriftCheck and
    categorical TV drift, for catching a day/source whose vectors moved.

    The entire computation is EXACT until one final float step: quantized
    BIGINT component sums (centroid numerators — the 1/n factors cancel
    inside cosine), DECIMAL(38,0) cross/self products summed exactly, then
    a single double division + sqrt. Bit-for-bit reproducible across
    engines and partition orders. Plan: one posexplode + grouped sum over
    the data, a |dims|-row broadcast join, a per-part final agg — nothing
    beyond the one data-sized pass.

    Returns (part, n_vecs, cosine, drift) where drift = 1 - cosine.
    """
    sums = embedding_centroid_sums(df, vec_col, part_col, quant)
    if baseline_sums is not None:
        # checkpoint-manifest state (checkpoint.record_embedding_state):
        # already-merged per-dim quantized sums — no baseline rescan
        from ..schema import literal_frame

        g = literal_frame(
            df.sparkSession,
            [(int(d), int(s)) for d, s in sorted(baseline_sums.items(),
                                                 key=lambda kv: int(kv[0]))],
            "dim int, g long",
        )
    else:
        base_sums = (
            sums
            if baseline is None
            else embedding_centroid_sums(baseline, vec_col, part_col, quant)
        )
        g = base_sums.groupBy("dim").agg(F.sum("s").alias("g"))
    dec = "decimal(19,0)"
    joined = sums.join(F.broadcast(g), "dim")
    out = joined.groupBy("part").agg(
        F.max("n").alias("n_vecs"),
        F.sum(F.col("s").cast(dec) * F.col("g").cast(dec)).alias("_num"),
        F.sum(F.col("s").cast(dec) * F.col("s").cast(dec)).alias("_a"),
        F.sum(F.col("g").cast(dec) * F.col("g").cast(dec)).alias("_b"),
    )
    cos = F.col("_num").cast("double") / (
        F.sqrt(F.col("_a").cast("double")) * F.sqrt(F.col("_b").cast("double"))
    )
    return out.select(
        "part",
        "n_vecs",
        cos.alias("cosine"),
        (F.lit(1.0) - cos).alias("drift"),
    )


def _pearson_moments(
    df: DataFrame, x_expr: str, y_expr: str, carry: Column, by: Column
) -> tuple[DataFrame, Column]:
    """The exact Pearson kernel shared by :func:`correlation_by_partition`
    and its streaming twin, ``stream_correlation_drift``: project
    ``carry`` plus the two expressions cast to BIGINT, drop rows where
    either is NULL, group by ``by`` and sum the five DECIMAL moments. Returns the aggregated frame (``by``'s
    columns, n, _sx, _sy, _sxx, _syy, _sxy) and the float64 ``corr``
    expression over it — NULL for n < 2 or zero variance on either side."""
    d = df.select(
        carry,
        F.expr(x_expr).cast("long").alias("_x"),
        F.expr(y_expr).cast("long").alias("_y"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    dec = "decimal(19,0)"
    x, y = F.col("_x").cast(dec), F.col("_y").cast(dec)
    m = d.groupBy(by).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
        F.sum(x * y).alias("_sxy"),
    )
    return m, pearson_corr("n", "_sx", "_sy", "_sxx", "_syy", "_sxy")


def pearson_corr(
    n: str, sx: str, sy: str, sxx: str, syy: str, sxy: str
) -> Column:
    """The float64 Pearson expression over the six named exact moment
    columns (count, Σx, Σy, Σx², Σy², Σxy) — shared by
    :func:`_pearson_moments` and the suite's correlation calibration:

        corr = (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²) · √(n·Σy² − Σy²))

    NULL for n < 2 or zero variance on either side."""
    nd = F.col(n).cast("double")
    dx, dy = F.col(sx).cast("double"), F.col(sy).cast("double")
    dxx, dyy = F.col(sxx).cast("double"), F.col(syy).cast("double")
    dxy = F.col(sxy).cast("double")
    num = nd * dxy - dx * dy
    vx = nd * dxx - dx * dx
    vy = nd * dyy - dy * dy
    return F.when(
        (F.col(n) >= 2) & (vx > 0) & (vy > 0),
        num / (F.sqrt(vx) * F.sqrt(vy)),
    )


def correlation_by_partition(
    df: DataFrame,
    x_expr: str,
    y_expr: str,
    part_col: str | None = None,
) -> DataFrame:
    """Per-partition Pearson correlation of two INTEGER-VALUED expressions
    — the relationship member of the drift family: quantile / categorical
    / KS / centroid drift all watch one column's MARGINAL distribution,
    but a corpus can keep every marginal intact while the relationship
    between columns silently breaks (response length no longer tracks
    prompt length; value no longer follows time of day). Correlation
    drift is the standard analyzer for that failure class.

    Exact in the family's discipline (ks_statistic_by_partition,
    embedding_centroid_drift): the five moment sums (Σx, Σy, Σx², Σy²,
    Σxy) are DECIMAL(38,0)-exact and order-independent — per-row products
    are formed at DECIMAL(19,0) so |x|,|y| up to ~10^18 never wrap, and
    10^12-row sums sit far inside the 10^38 headroom — then ONE float
    transition at the end:

        corr = (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²̄) · √(n·Σy² − Σy²̄))

    evaluated in float64 from the exact moments, so an independent engine
    (DuckDB sums to HUGEINT) reproduces every row bit-for-bit; a
    float-accumulated ``corr()`` aggregate cannot promise that across
    partition orders, let alone engines. Non-integer inputs: quantize
    first (``round(value*1000)``), the KS family's documented move —
    Pearson r is invariant under the affine part and the quantization
    error is the caller's stated tolerance.

    Rows where EITHER expression is NULL are dropped (pairwise-complete
    semantics); degenerate partitions (n < 2, or zero variance on either
    side) yield corr = NULL rather than a misleading 0. ``part_col``
    None = one global row (part = 'all'). Plan: one projection + ONE
    map-side-combinable hash aggregation — no window, no second pass.

    Returns (part, n, corr).
    """
    keys = (
        F.col(part_col).cast("string").alias("part")
        if part_col is not None
        else F.lit("all").alias("part")
    )
    m, corr = _pearson_moments(df, x_expr, y_expr, keys, F.col("part"))
    return m.select("part", "n", corr.alias("corr"))


def correlation_drift(
    df: DataFrame,
    x_expr: str,
    y_expr: str,
    part_col: str,
    baseline: DataFrame | None = None,
    baseline_corr: float | None = None,
) -> DataFrame:
    """Per-partition correlation vs a baseline's GLOBAL correlation:
    (part, n, corr, corr_base, delta = |corr − corr_base|). Baseline
    None = the frame itself (each partition vs the corpus relationship —
    the self-baseline mode every drift sibling defaults to);
    ``baseline_corr`` pins an inline stored value instead (the manifest /
    suite-document mode every sibling also offers) and skips the baseline
    pass entirely. The baseline row is a 1-row broadcast; delta is NULL
    when either side is degenerate — surface those rows, don't hide them
    (a partition that LOST its variance is drift too; the violations
    helper flags it)."""
    per_part = correlation_by_partition(df, x_expr, y_expr, part_col)
    if baseline_corr is not None:
        return per_part.select(
            "part",
            "n",
            "corr",
            F.lit(float(baseline_corr)).alias("corr_base"),
            F.abs(F.col("corr") - F.lit(float(baseline_corr))).alias("delta"),
        )
    base = correlation_by_partition(
        baseline if baseline is not None else df, x_expr, y_expr, None
    ).select(
        F.col("n").alias("n_base"), F.col("corr").alias("corr_base")
    )
    j = per_part.join(F.broadcast(base), how="cross")
    return j.select(
        "part",
        "n",
        "corr",
        "corr_base",
        F.abs(F.col("corr") - F.col("corr_base")).alias("delta"),
    )


def correlation_drift_violations(
    cd: DataFrame, threshold: float, check_id: str
) -> DataFrame:
    """Violation rows (engine schema) for partitions whose correlation
    moved more than ``threshold`` from the baseline — or went degenerate
    (corr NULL: n < 2 or zero variance) while the baseline has a real
    relationship to drift from."""
    fired = cd.filter(
        (F.col("delta") > threshold)
        | (F.col("corr").isNull() & F.col("corr_base").isNotNull())
    )
    return violation_rows(
        fired,
        check_id,
        F.when(
            F.col("corr").isNull(),
            F.format_string(
                "corr degenerate (n=%s) vs baseline %s",
                F.col("n").cast("string"),
                F.round("corr_base", 6).cast("string"),
            ),
        )
        .otherwise(
            F.format_string(
                f"corr delta %s > {threshold} (corr=%s base=%s)",
                F.round("delta", 6).cast("string"),
                F.round("corr", 6).cast("string"),
                F.round("corr_base", 6).cast("string"),
            )
        ),
    )


def conditional_counts(
    df: DataFrame, cond_expr: str, cat_expr: str
) -> dict[tuple[str, str], int]:
    """Baseline contingency table {(cond, cat): count} as a plain dict
    (tiny: one row per observed (cond, cat) pair). The collect is over the
    post-aggregation frame — |conds|·|cats| rows regardless of input size.
    Both axes accept SQL expressions (``least(floor(value/100), 4)``), cast
    to string with NULLs folded into the shared ``NULL_CATEGORY``."""
    rows = _cell_counts(df, [], F.expr(cond_expr), F.expr(cat_expr)).collect()
    return {(r["_k"], r["_c"]): r["_n"] for r in rows}


def conditional_tv(
    df: DataFrame,
    cond_expr: str,
    cat_expr: str,
    part_col: str,
    baseline_counts: dict[tuple[str, str], int],
) -> DataFrame:
    """Per-(partition, conditioning value) total-variation distance of the
    CONDITIONAL distribution P(cat | cond) from the baseline's global
    P(cat | cond) — the categorical-RELATIONSHIP member of the drift
    family, completing the pair with :func:`correlation_drift`: categorical
    TV watches one column's marginal, correlation drift watches a numeric
    relationship, and this watches a categorical relationship. Both
    marginals can stay bit-identical while P(cat | cond) breaks (every
    tool keeps its volume, every role keeps its share, but which roles a
    given tool co-occurs with silently shifts) — the contingency-table
    failure class no marginal check can see.

    For each (part, cond) the statistic is

        TV = 1/2 · Σ_c | n(part,cond,c)/N(part,cond) − n_b(cond,c)/N_b(cond) |

    computed EXACTLY by the family's one kernel (:func:`_tv_grid`:
    cross-multiplied INTEGER terms summed as BIGINT, the closed-form mass
    of baseline categories the partition lacks, ONE float division).

    A conditioning value observed in a partition but ABSENT from the
    baseline has no distribution to compare against: its row surfaces with
    tv = NULL (n_base NULL) rather than a fabricated 0 — the violations
    helper fires it as its own "novel conditioning value" class.

    Plan shape: the input is touched EXACTLY ONCE — one grouped count
    (map-side partial agg, shuffle keyed (part, cond, cat)); everything
    after runs over the |parts|·|conds|·|cats| grid.

    Returns (part, cond, n_part, n_base, tv_num, tv) — one row per
    (partition, conditioning value) observed in ``df``.
    """
    if not baseline_counts:
        raise ValueError("baseline_counts must hold at least one observation")
    counts = _cell_counts(
        df, [F.col(part_col).cast("string").alias("part")],
        F.expr(cond_expr), F.expr(cat_expr),
    )
    base = _baseline_frame(df.sparkSession, baseline_counts)
    return _tv_grid(counts, base).withColumnRenamed("_k", "cond")


def conditional_drift_violations(
    ct: DataFrame, threshold: float, check_id: str
) -> DataFrame:
    """Violation rows (engine schema) for (partition, conditioning value)
    pairs whose conditional distribution moved more than ``threshold`` TV
    from the baseline — or whose conditioning value the baseline has never
    seen (tv NULL: no distribution to compare against)."""
    fired = ct.filter((F.col("tv") > threshold) | F.col("tv").isNull())
    return violation_rows(
        fired,
        check_id,
        F.when(
            F.col("tv").isNull(),
            F.format_string(
                "novel conditioning value %s (n=%s) absent from baseline",
                F.col("cond"),
                F.col("n_part").cast("string"),
            ),
        )
        .otherwise(
            F.format_string(
                f"conditional_tv=%s > {threshold} (cond=%s)",
                F.round("tv", 6).cast("string"),
                F.col("cond"),
            )
        ),
    )


# ---------------------------------------------------------------------------
# transition (bigram / Markov-row) drift — the SEQUENTIAL-structure member
# ---------------------------------------------------------------------------

#: boundary sentinels for transition_pairs. A first turn contributes the
#: transition (START_TOKEN -> state), a last turn (state -> END_TOKEN), so
#: opening/closing-protocol drift is visible (a corpus whose conversations
#: stop opening with role=user shifts P(to | <start>) even when every
#: interior bigram is intact). Real state values must not collide with
#: these; pass custom tokens if they can.
START_TOKEN = "<start>"
END_TOKEN = "<end>"

_TRANSITION_INTERNAL = {"_s", "_prev", "_islast", "_p"}


def transition_pairs(
    df: DataFrame,
    seq_col: str,
    order_cols: Sequence[str],
    state_expr: str,
    *,
    include_boundaries: bool = True,
    start_token: str = START_TOKEN,
    end_token: str = END_TOKEN,
) -> DataFrame:
    """One row per STATE TRANSITION within each sequence: the input columns
    plus (``from_state``, ``to_state``) string columns, under the stable
    order ``order_cols`` within ``seq_col``. The sequential building block
    of :func:`transition_drift`. (The corpus-PROFILING sibling,
    operators/distribution.py:transition_matrix, reports global bigram
    counts for audit/SequenceCheck-derivation; the drift family instead
    needs every input column preserved — for per-partition attribution —
    plus boundary sentinels and NULL-state disambiguation.)

    ONE lag/lead window partitioned by the sequence id — conversations are
    bounded (thousands of turns, not billions), so the window never sees a
    hot key the way a global window would; no other shuffle. Each row owns
    the transition that COMPLETES at it (``prev -> state``, the first row's
    ``prev`` being ``start_token``), so a transition crossing a partition
    boundary (e.g. a conversation spanning two ingest days) is attributed
    to the later row's partition — the deterministic convention the oracle
    replays. The last row additionally emits (``state -> end_token``).

    NULL states are folded into ``NULL_CATEGORY`` BEFORE the lag, so a
    NULL ``lag`` unambiguously means "first row of the sequence" — a
    genuine NULL state mid-sequence cannot masquerade as a boundary.
    """
    clash = _TRANSITION_INTERNAL | {"from_state", "to_state"}
    hit = clash & set(df.columns)
    if hit:
        raise ValueError(
            f"input columns collide with transition_pairs internals: "
            f"{sorted(hit)}"
        )
    s = as_category(F.expr(state_expr))
    w = Window.partitionBy(seq_col).orderBy(*[F.col(c) for c in order_cols])
    staged = (
        df.withColumn("_s", s)
        .withColumn("_prev", F.lag("_s").over(w))
        .withColumn("_islast", F.lead("_s").over(w).isNull())
    )
    if include_boundaries:
        head = F.struct(
            F.coalesce(F.col("_prev"), F.lit(start_token)).alias("from_state"),
            F.col("_s").alias("to_state"),
        )
        tail = F.struct(
            F.col("_s").alias("from_state"),
            F.lit(end_token).alias("to_state"),
        )
        pairs = F.when(F.col("_islast"), F.array(head, tail)).otherwise(
            F.array(head)
        )
        out = staged.withColumn("_p", F.explode(pairs)).select(
            *df.columns, F.col("_p.from_state"), F.col("_p.to_state")
        )
    else:
        out = staged.filter(F.col("_prev").isNotNull()).select(
            *df.columns,
            F.col("_prev").alias("from_state"),
            F.col("_s").alias("to_state"),
        )
    return out


def transition_counts(
    df: DataFrame,
    seq_col: str,
    order_cols: Sequence[str],
    state_expr: str,
    *,
    include_boundaries: bool = True,
    start_token: str = START_TOKEN,
    end_token: str = END_TOKEN,
) -> dict[tuple[str, str], int]:
    """Baseline bigram table {(from_state, to_state): count} — tiny
    (|states|² + boundary rows at most), collected post-aggregation."""
    pairs = transition_pairs(
        df,
        seq_col,
        order_cols,
        state_expr,
        include_boundaries=include_boundaries,
        start_token=start_token,
        end_token=end_token,
    )
    return conditional_counts(pairs, "from_state", "to_state")


def transition_drift(
    df: DataFrame,
    seq_col: str,
    order_cols: Sequence[str],
    state_expr: str,
    part_col: str,
    baseline_counts: dict[tuple[str, str], int],
    *,
    include_boundaries: bool = True,
    start_token: str = START_TOKEN,
    end_token: str = END_TOKEN,
) -> DataFrame:
    """Per-(partition, from_state) total-variation distance of the outgoing
    TRANSITION distribution P(to_state | from_state) from the baseline's —
    the SEQUENTIAL-structure member of the drift family. Its siblings watch
    marginals (quantile/categorical/KS/centroid) or co-occurrence within a
    row (correlation, conditional); none of them can see a corpus whose
    every marginal AND every per-row contingency stays bit-identical while
    the ORDER of turns breaks — tool turns no longer followed by assistant
    turns, conversations that stop closing with the assistant, retry loops
    (assistant->assistant) appearing. The Markov transition matrix is the
    standard analyzer for that failure class; its rows are conditional
    distributions, so the exact cross-multiplied-integer TV machinery of
    :func:`conditional_tv` applies verbatim — each term
    ``|n(part,from,to)·N_b(from) − n_b(from,to)·N(part,from)|`` summed as
    BIGINT, ONE float division at the end, bit-for-bit reproducible by an
    independent engine.

    Plan shape: ONE bounded lag/lead window keyed by the sequence id (the
    only per-row pass), ONE grouped count (map-side partial agg); everything
    after is broadcast-grid-sized (|parts|·|states|² rows).

    Returns (part, from_state, n_part, n_base, tv_num, tv) — ``n_part`` /
    ``n_base`` count TRANSITIONS out of ``from_state``, not rows. A
    from-state the baseline never saw surfaces with tv = NULL and fires as
    its own violation class in :func:`transition_drift_violations`.
    """
    pairs = transition_pairs(
        df,
        seq_col,
        order_cols,
        state_expr,
        include_boundaries=include_boundaries,
        start_token=start_token,
        end_token=end_token,
    )
    ct = conditional_tv(
        pairs, "from_state", "to_state", part_col, baseline_counts
    )
    return ct.withColumnRenamed("cond", "from_state")


def transition_drift_violations(
    td: DataFrame, threshold: float, check_id: str
) -> DataFrame:
    """Violation rows (engine schema) for (partition, from_state) pairs
    whose outgoing-transition distribution moved more than ``threshold``
    TV from the baseline — or whose from-state the baseline has never seen
    (tv NULL: no transition row to compare against)."""
    fired = td.filter((F.col("tv") > threshold) | F.col("tv").isNull())
    return violation_rows(
        fired,
        check_id,
        F.when(
            F.col("tv").isNull(),
            F.format_string(
                "novel from-state %s (n=%s transitions) absent from baseline",
                F.col("from_state"),
                F.col("n_part").cast("string"),
            ),
        )
        .otherwise(
            F.format_string(
                f"transition_tv=%s > {threshold} (from=%s)",
                F.round("tv", 6).cast("string"),
                F.col("from_state"),
            )
        ),
    )
