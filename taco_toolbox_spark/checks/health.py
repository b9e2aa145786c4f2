"""Partition-health checks — volume, completeness, cardinality.

The data-observability trio every recurring validation job needs and no
distribution/sequence member of the battery covers:

* **Volume anomaly** — a partition's ROW COUNT falls outside the robust
  (median ± k·MAD) band of the run's partitions. An upstream outage or a
  double-delivery changes how MUCH data a day carries while every
  row-level rule, every marginal, and every sequence statistic stays
  perfectly intact — the one failure class that is invisible to checks
  that only look INSIDE rows. The reference's row-count reconciliation
  (expected-vs-found sample counts, /root/reference/tacotoolbox/
  tacocat.py:249-271) is the same question asked of a single container;
  here it is asked across partitions with a self-calibrating band.
* **Completeness drift** — a partition's NULL FRACTION of a column (or
  of any validity expression) deviates from the corpus-wide fraction by
  more than a tolerance. A schema-evolution bug or a half-broken join
  upstream turns a 2%-null column into a 40%-null column in one day's
  partition; global profiling (stats.column_stats) averages it away and
  not_null row rules only catch columns that must NEVER be null. The
  per-column null_frac of the reference's stats profile
  (_metadata.py:305-321 null-count kernels) made per-partition and
  judged against the corpus.
* **Cardinality anomaly** — a partition's EXACT DISTINCT count of a key
  falls outside the robust band. Distinct-users-per-day collapsing to a
  handful means an id-mapping bug; exploding means a fan-out join —
  both invisible to every other rule (counts intact, values in-vocab,
  order fine). With ``key = fingerprint(text)`` this same check is a
  per-partition DUPLICATE-RATE monitor (n/n_distinct drifting = a
  crawler re-delivering), composing with dedup/exact.py's fingerprint.

Scale shape (the 100-TB contract): everything derives from ONE grouped
aggregation over the partition grain — ``groupBy(part).agg(count,
count(valid_expr)…, count_distinct(key)…)`` — which partial-aggregates
map-side, so the shuffle carries one row per partition per task. The
robust band (median, MAD) is then computed by whole-frame window
functions over the PROFILE frame, which has one row per partition —
thousands of rows at 10^12 turns — so the single-partition exchange the
windows need moves kilobytes, never data. The input is scanned exactly
once no matter how many health checks run (locked by a plan test).

Exactness (the family's engine-portability discipline): counts and
distinct counts are exact integers; the median is the exact interpolated
percentile (Spark ``percentile`` == DuckDB ``quantile_cont``, verified
bit-for-bit — integer inputs make the 0.5-interpolation exactly
representable, and MAD values are halves at worst); fractions are ONE
float division of exact longs. An independent engine replays every
verdict bit-for-bit, which a sampled or sketched health monitor cannot
promise. Degenerate bands are loud by construction: MAD = 0 (all
partitions identical) flags ANY deviating partition — the strictest
reading, documented rather than smoothed away.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _whole_frame() -> Window:
    """Whole-frame window over the (tiny) per-partition profile: one
    single-partition exchange of one-row-per-partition, shared by every
    band in the pass."""
    return Window.partitionBy(F.lit(1))


def _as_col(c: Column | str) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def _guard(df: DataFrame, names: set[str], op: str) -> None:
    hit = names & set(df.columns)
    if hit:
        raise ValueError(
            f"{op}: input already has column(s) {sorted(hit)} — rename "
            "them; these names are part of the operator's output contract"
        )


def partition_profile(
    df: DataFrame,
    part_col: Column | str,
    *,
    valid: dict[str, Column] | None = None,
    distinct: dict[str, Column | str] | None = None,
) -> DataFrame:
    """ONE grouped aggregation over the partition grain carrying every
    metric the health battery needs: ``(part, n, v_<name>…, d_<name>…)``
    where ``v_`` columns count rows where the validity expression is
    non-NULL and ``d_`` columns are exact distinct counts.

    This is the whole family's only touch of the input. Multiple distinct
    columns make Spark plan an Expand (shuffle grows with the number of
    distinct aggregates) — pass only the keys a check actually watches;
    the approximate path for wide batteries is stats.py's HLL sketches.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("n")]
    for name, expr in (valid or {}).items():
        aggs.append(F.count(expr).alias(f"v_{name}"))
    for name, key in (distinct or {}).items():
        aggs.append(F.count_distinct(_as_col(key)).alias(f"d_{name}"))
    return df.groupBy(
        _as_col(part_col).cast("string").alias("part")
    ).agg(*aggs)


def robust_band(
    profile: DataFrame,
    metric_col: str,
    k: float,
    prefix: str = "",
    season_col: str | None = None,
) -> DataFrame:
    """Append ``<prefix>med / dev / mad / flag`` for one profile metric:
    exact interpolated median, absolute deviation, median absolute
    deviation, and ``dev > k·MAD``. Two whole-frame windows over the
    one-row-per-partition profile — no second scan of the data, no extra
    exchange beyond the shared single-partition one.

    ``season_col`` makes the band SEASONAL: the median/MAD are computed
    within each season class (e.g. day-of-week) instead of over all
    partitions — the weekly-rhythm fix for volume monitoring, where a
    plain band pages on every legitimate Sunday trough and misses a
    broken Sunday that looks like a weekday. The windows partition by
    the class; the profile is still one row per partition, so the
    exchange stays kilobytes."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    _guard(
        profile,
        {f"{prefix}{s}" for s in ("med", "dev", "mad", "flag")},
        "robust_band",
    )
    w = (
        Window.partitionBy(season_col)
        if season_col is not None
        else _whole_frame()
    )
    med = F.percentile(F.col(metric_col).cast("double"), F.lit(0.5)).over(w)
    out = profile.withColumn(f"{prefix}med", med)
    out = out.withColumn(
        f"{prefix}dev",
        F.abs(F.col(metric_col).cast("double") - F.col(f"{prefix}med")),
    )
    out = out.withColumn(
        f"{prefix}mad", F.percentile(F.col(f"{prefix}dev"), F.lit(0.5)).over(w)
    )
    return out.withColumn(
        f"{prefix}flag",
        F.col(f"{prefix}dev") > F.lit(float(k)) * F.col(f"{prefix}mad"),
    )


def volume_anomaly(
    df: DataFrame,
    part_col: Column | str,
    k: float = 3.0,
    season_expr: Column | None = None,
) -> DataFrame:
    """Per-partition ``(part, [season,] n, med, mad, dev, is_anomaly)``:
    row count judged against the run's own robust band. ``season_expr``
    is an expression over the output ``part`` STRING column (e.g.
    ``F.weekday(F.to_date("part")) + 1`` for ISO day-of-week) that makes
    the band seasonal — judged against same-class partitions only."""
    prof = partition_profile(df, part_col)
    cols = ["part", "n", "med", "mad", "dev"]
    season = None
    if season_expr is not None:
        prof = prof.withColumn("season", season_expr)
        season = "season"
        cols.insert(1, "season")
    band = robust_band(prof, "n", k, season_col=season)
    return band.select(*cols, F.col("flag").alias("is_anomaly"))


def completeness_drift(
    df: DataFrame,
    part_col: Column | str,
    valid_expr: Column | str,
    tol: float,
    baseline_frac: float | None = None,
) -> DataFrame:
    """Per-partition ``(part, n, n_valid, null_frac, base_frac, delta,
    is_drift)``: the fraction of rows where ``valid_expr`` is NULL,
    judged against ``baseline_frac`` — or, when None, against the
    corpus-wide fraction computed from the SAME profile frame by
    whole-frame window sums (zero extra scans; the self-calibrating
    mode a first run uses before a blessed baseline exists)."""
    if not 0.0 <= tol <= 1.0:
        raise ValueError(f"tol must be in [0, 1], got {tol}")
    if baseline_frac is not None and not 0.0 <= baseline_frac <= 1.0:
        raise ValueError(
            f"baseline_frac must be in [0, 1], got {baseline_frac}"
        )
    prof = partition_profile(df, part_col, valid={"c": _as_col(valid_expr)})
    null_frac = (
        (F.col("n") - F.col("v_c")).cast("double")
        / F.col("n").cast("double")
    )
    if baseline_frac is None:
        w = _whole_frame()
        base = (
            (F.sum("n").over(w) - F.sum("v_c").over(w)).cast("double")
            / F.sum("n").over(w).cast("double")
        )
    else:
        base = F.lit(float(baseline_frac))
    out = prof.select(
        "part",
        "n",
        F.col("v_c").alias("n_valid"),
        null_frac.alias("null_frac"),
        base.alias("base_frac"),
    ).withColumn("delta", F.col("null_frac") - F.col("base_frac"))
    return out.withColumn("is_drift", F.abs(F.col("delta")) > F.lit(float(tol)))


def cardinality_anomaly(
    df: DataFrame,
    part_col: Column | str,
    key: Column | str,
    k: float = 3.0,
    season_expr: Column | None = None,
) -> DataFrame:
    """Per-partition ``(part, [season,] n, n_distinct, med, mad, dev,
    is_anomaly)``: exact distinct count of ``key`` judged against the
    robust band — seasonal when ``season_expr`` (over the output ``part``
    string) is given, same contract as :func:`volume_anomaly`."""
    prof = partition_profile(df, part_col, distinct={"c": key})
    season = None
    if season_expr is not None:
        prof = prof.withColumn("season", season_expr)
        season = "season"
    band = robust_band(prof, "d_c", k, season_col=season)
    cols = [
        "part",
        "n",
        F.col("d_c").alias("n_distinct"),
        "med",
        "mad",
        "dev",
        F.col("flag").alias("is_anomaly"),
    ]
    if season is not None:
        cols.insert(1, F.col("season"))
    return band.select(*cols)


def band_from_history(
    history: DataFrame, metric_col: str, k: float
) -> DataFrame:
    """ONE-row ``(med, mad)`` band computed over a HISTORY frame of
    per-partition metric values (tiny: one row per historical
    partition). Exact interpolated percentiles, same arithmetic as
    :func:`robust_band` so the two band sources are interchangeable."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    w = _whole_frame()
    banded = history.withColumn(
        "_med", F.percentile(F.col(metric_col).cast("double"), F.lit(0.5)).over(w)
    ).withColumn(
        "_dev", F.abs(F.col(metric_col).cast("double") - F.col("_med"))
    )
    return banded.agg(
        F.min("_med").alias("med"),
        F.percentile(F.col("_dev"), F.lit(0.5)).alias("mad"),
    )


def volume_anomaly_vs_history(
    df: DataFrame,
    part_col: Column | str,
    history: DataFrame,
    k: float = 3.0,
    rel: float | None = None,
) -> DataFrame:
    """Per-partition ``(part, n, med, mad, dev, is_anomaly)`` with the
    band computed from HISTORY (a frame with an ``n`` column of
    per-partition row counts from previous blessed runs — e.g.
    ``checkpoint.volume_history_from_manifest``) instead of from the
    run itself.

    This closes the self-calibrated band's one blind spot: when EVERY
    partition of today's run shrinks together (an upstream global
    outage), today's own median shrinks with them and
    :func:`volume_anomaly` sees a perfectly healthy run. Judged against
    history, every partition fires. The band is a 1-row broadcast onto
    the current profile — the history frame is manifest-sized, the
    current profile one row per partition; nothing data-sized moves.

    ``rel`` adds a RELATIVE floor: also fire when ``dev > rel·med``. A
    bursty corpus can carry a MAD comparable to its median, and a 3-MAD
    band that wide swallows even a 90% collapse — the relative floor
    fires on any deviation past that fraction of the historical median
    regardless of how noisy history was (``rel=0.5`` pages on any
    halving/doubling)."""
    if rel is not None and rel <= 0:
        raise ValueError(f"rel must be > 0, got {rel}")
    prof = partition_profile(df, part_col)
    band = band_from_history(history, "n", k)
    out = prof.crossJoin(F.broadcast(band))
    out = out.withColumn(
        "dev", F.abs(F.col("n").cast("double") - F.col("med"))
    )
    flag = F.col("dev") > F.lit(float(k)) * F.col("mad")
    if rel is not None:
        flag = flag | (F.col("dev") > F.lit(float(rel)) * F.col("med"))
    return out.select(
        "part",
        "n",
        "med",
        "mad",
        "dev",
        flag.alias("is_anomaly"),
    )


def cardinality_anomaly_vs_history(
    df: DataFrame,
    part_col: Column | str,
    key: Column | str,
    history: DataFrame,
    k: float = 3.0,
    rel: float | None = None,
) -> DataFrame:
    """Per-partition ``(part, n, n_distinct, med, mad, dev, is_anomaly)``
    with the band over HISTORY — the cardinality twin of
    :func:`volume_anomaly_vs_history`, closing the same global blind
    spot (every partition's distinct-user count collapsing together
    moves the run's own median with it). ``history`` carries an ``n``
    column of per-partition distinct counts from previous blessed runs —
    e.g. ``checkpoint.cardinality_history_from_manifest``, whose values
    are the stored per-partition HLL estimates (±~1.6% at the default
    lg_k; band half-widths are MAD-scale, far above that). The current
    side stays the exact distinct. ``rel`` is the same relative floor as
    the volume form."""
    if rel is not None and rel <= 0:
        raise ValueError(f"rel must be > 0, got {rel}")
    prof = partition_profile(df, part_col, distinct={"c": key})
    band = band_from_history(history, "n", k)
    out = prof.crossJoin(F.broadcast(band))
    out = out.withColumn(
        "dev", F.abs(F.col("d_c").cast("double") - F.col("med"))
    )
    flag = F.col("dev") > F.lit(float(k)) * F.col("mad")
    if rel is not None:
        flag = flag | (F.col("dev") > F.lit(float(rel)) * F.col("med"))
    return out.select(
        "part",
        "n",
        F.col("d_c").alias("n_distinct"),
        "med",
        "mad",
        "dev",
        flag.alias("is_anomaly"),
    )
