"""Validation engine: compiles a declarative check battery into a minimal
set of Spark passes and emits (verdict matrix, violation rows, stats).

Pass plan (the scale story — adding checks never adds scans):

  row pass      all RowChecks in ONE shuffle-free projection
                (checks/base.apply_row_checks, also the streaming row
                pass): an OR-chain prefilter, then per row an array of
                failed-check structs, array_compact + explode.
                Filters/column pruning push to the parquet/Iceberg scan.
  window pass   all MonotoneChecks + GapChecks (bounded adjacent step) +
                SequenceChecks (adjacent-pair grammar) over ONE window
                (single shuffle on the group key, all lags computed in one
                Window operator); SequenceCheck opening/closing-value rules
                ride one min_by/max_by group-agg piece; RateChecks
                (trailing time-window burst bound) add RANGE-frame windows
                on the SAME group-key exchange; RunLengthChecks (stuck-
                value run bound = the period-1 loop) and PeriodicLoopChecks
                (period-p ping-pong bound) share ONE islands pass: two
                stacked Window selects on that exchange with one sort.
  agg pass      Uniqueness of the (group, order) key rides the shared
                window sort (a duplicate is order == lag(order)) when
                windows are not chunked; any other key, or chunked
                windows, count on the full key (fine-grained → no hot
                key). Contiguity + GroupAggChecks share ONE
                groupBy(group) agg (Spark's partial aggregation =
                map-side combine).
  drift pass    percentile_approx (or percentile for method="exact") per
                partition (checks/drift.py); categorical drift = one
                grouped count + broadcast grid joins, TV distance exact
                in integer arithmetic.
  text pass     key join + JVM null-safe <=> filter, no Python
                (checks/text_equality.py).

Verdict aggregation replaces the reference's typed-exception reports
(/root/reference/tacotoolbox/_exceptions.py:19-171): per (partition, check)
pass/fail + violation counts, with violation rows capped for reporting under
a canonical (conv_id, turn_idx) ordering — the set-oriented equivalent of
the reference's "first 10 duplicates" report
(tortilla/datamodel.py:243-254).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .checks.base import (
    VIOLATION_COLS,
    CardinalityAnomalyCheck,
    CategoricalDriftCheck,
    Check,
    CompletenessDriftCheck,
    ConditionalDriftCheck,
    ContiguityCheck,
    CorrelationDriftCheck,
    DriftCheck,
    FunctionalDependencyCheck,
    GapCheck,
    GroupAggCheck,
    MonotoneCheck,
    PeriodicLoopCheck,
    RateCheck,
    RowCheck,
    RunLengthCheck,
    SequenceCheck,
    TextEqualityCheck,
    TransitionDriftCheck,
    UniquenessCheck,
    VolumeAnomalyCheck,
    apply_row_checks,
    explode_failures,
    failed_check,
    violation_rows,
)
from .checks.fd import fd_violations
from .checks.drift import (
    approx_global_quantiles,
    approx_quantiles_by_partition,
    categorical_counts,
    categorical_drift_violations,
    categorical_tv,
    conditional_counts,
    conditional_drift_violations,
    conditional_tv,
    correlation_drift,
    correlation_drift_violations,
    drift_violations_approx,
    exact_global_quantiles,
    exact_quantiles_by_partition,
    transition_counts,
    transition_drift,
    transition_drift_violations,
)
from .checks.text_equality import text_equality_violations
from .operators.runs import _islands
from .schema import literal_frame


#: every Check class some pass compiles; run_validation refuses any other
_COMPILED = (
    RowCheck, MonotoneCheck, GapCheck, SequenceCheck, RateCheck,
    RunLengthCheck, PeriodicLoopCheck, UniquenessCheck,
    FunctionalDependencyCheck, ContiguityCheck, GroupAggCheck, DriftCheck,
    CategoricalDriftCheck, CorrelationDriftCheck, ConditionalDriftCheck,
    TransitionDriftCheck, TextEqualityCheck, VolumeAnomalyCheck,
    CompletenessDriftCheck, CardinalityAnomalyCheck,
)


@dataclass
class EngineConfig:
    """Data contract: every window/aggregation pass is keyed by
    ``(partition_col, group_col)`` — ONE shared exchange, and violation
    attribution is always a single partition value. This assumes groups are
    NESTED WITHIN partitions (a conversation never spans two partition
    values — true for the transcript layout, where ``part`` is derived from
    the conversation's start date). If a group DID span partitions, its
    cross-partition duplicates/order regressions/contiguity breaks would not
    be detected; run :func:`assert_groups_nested` first when ingesting a
    layout that doesn't guarantee nesting by construction."""

    partition_col: str = "part"
    group_col: str = "conv_id"
    order_col: str = "turn_idx"
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    persist_violations: bool = False
    #: when set, window passes partition by (group, floor(order/chunk)) so a
    #: pathologically hot conversation (10^7+ turns) never lands on one
    #: task; chunk-boundary rows are reconciled with a tiny join of
    #: per-chunk first/last values. None = plain per-group windows.
    window_chunk_size: int | None = None
    #: whether a driver (CLI, bench) should pipeline independent actions
    #: (battery summary + stats scan) concurrently. None = decide from the
    #: input size via scale.concurrent_actions — pipelining wins while the
    #: combined working set is cache/bandwidth-resident and loses past the
    #: crossover (measured r3 weak scaling: 35.6s->26.0s at 16M turns, but
    #: 181s vs 106s at 64M). True/False forces the mode.
    concurrent_actions: bool | None = None

    def resolve_concurrent_actions(self, n_rows: int) -> bool:
        """The action mode a driver should use for an ``n_rows`` pass."""
        if self.concurrent_actions is not None:
            return self.concurrent_actions
        from .scale import concurrent_actions

        return concurrent_actions(n_rows)


@dataclass
class ValidationResult:
    verdicts: DataFrame  # (part, check_id, passed, n_violations)
    violations: DataFrame  # (part, check_id, conv_id, turn_idx, detail)

    def release(self) -> None:
        """Unpersist what this run cached (persist_violations) — call after
        the terminal action in long-lived sessions so repeated runs don't
        accumulate executor storage."""
        self.violations.unpersist()

    def summary(self) -> dict:
        """Materialize the battery with ONE action and return headline
        numbers: ``{"n_violations": int, "failed_part_checks": int}``.

        The single aggregation over ``violations`` evaluates every check
        pass exactly once (populating the violations cache when
        ``persist_violations`` is set, so follow-up consumers — reports,
        violation sinks — read cached rows). Compare the naive
        count-then-aggregate protocol, which pays two full scheduler
        round-trips for the same answer. Deliberately NOT computed from
        ``verdicts``: the full pass/fail matrix needs the distinct-partition
        list, i.e. another scan of the input — a failed cell is any
        (part, check) with >=1 violation, derivable from violations alone."""
        row = (
            self.violations.groupBy("part", "check_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.sum("n").alias("nv"),
                F.count(F.lit(1)).alias("nf"),
            )
            .first()
        )
        return {
            "n_violations": int(row["nv"] or 0),
            "failed_part_checks": int(row["nf"] or 0),
        }


def assert_groups_nested(df: DataFrame, cfg: EngineConfig) -> None:
    """Verify the EngineConfig data contract: no group spans more than one
    partition value. One cheap aggregation (map-side combined); raises with
    an example offender. Call once when ingesting a layout that doesn't
    guarantee group-in-partition nesting by construction."""
    offender = (
        df.groupBy(cfg.group_col)
        .agg(F.countDistinct(cfg.partition_col).alias("n_parts"))
        .filter(F.col("n_parts") > 1)
        .first()
    )
    if offender is not None:
        raise ValueError(
            f"group {offender[cfg.group_col]!r} spans {offender['n_parts']} "
            f"{cfg.partition_col!r} values — the engine's "
            "(partition, group)-keyed passes require groups nested within "
            "partitions; repartition the input or choose a coarser "
            "partition_col"
        )


def _row_coords(cfg: EngineConfig) -> tuple[Column, Column, Column]:
    """A row-grain violation's coordinates, typed as VIOLATION_COLS."""
    return (
        F.col(cfg.partition_col).cast("string").alias("part"),
        F.col(cfg.group_col).cast("string").alias("conv_id"),
        F.col(cfg.order_col).cast("int").alias("turn_idx"),
    )


def _emit(
    frame: DataFrame,
    structs: list[Column],
    part: Column,
    conv: Column | None = None,
    turn: Column | None = None,
) -> DataFrame:
    """Violation rows of one pass: the aliased coordinates are projected
    beside the failed-check structs, one row per failed check; a
    coordinate the pass has none of is NULL."""
    rows = explode_failures(
        frame, structs, *[c for c in (part, conv, turn) if c is not None]
    )
    return violation_rows(
        rows,
        F.col("f.check_id"),
        F.col("f.detail"),
        conv=None if conv is None else F.col("conv_id"),
        turn=None if turn is None else F.col("turn_idx"),
    )


def _row_pass(df: DataFrame, checks: list[RowCheck], cfg: EngineConfig) -> DataFrame:
    return apply_row_checks(df, checks, _row_coords(cfg)).select(*VIOLATION_COLS)


def _adjacent_fail(c, prev, cur) -> F.Column:
    """The failed-check struct (or NULL) for one adjacent (prev, cur) value
    pair — shared by the plain window pass, the chunked window pass, and
    the chunk-boundary reconciliation join, so all three realize identical
    semantics. ``prev`` is NULL on a group's (or chunk's) first row — and
    when the previous row's VALUE is NULL, which `lag` cannot distinguish
    from absence: adjacent-pair checks never fire off a NULL prev (the
    NULL-valued row itself is caught as a bad *current* value, and role
    NULLs additionally fail the vocab row check). SequenceCheck
    first-value rules run in their own group-agg piece, where the TRUE
    first row is known even under chunking."""
    cur = F.col(cur) if isinstance(cur, str) else cur
    if isinstance(c, SequenceCheck):
        bad = prev.isNotNull() & ~c.pair_ok(prev, cur)
        detail = F.format_string(
            f"{c.value_col} transition not allowed: %s -> %s",
            F.coalesce(prev.cast("string"), F.lit("null")),
            F.coalesce(cur.cast("string"), F.lit("null")),
        )
    elif isinstance(c, GapCheck):
        bad = c.step_bad(prev, cur)
        detail = F.format_string(
            f"{c.value_col} step out of "
            f"[{c.min_step if c.min_step is not None else '-inf'}, "
            f"{c.max_step if c.max_step is not None else 'inf'}]: %s -> %s",
            F.coalesce(prev.cast("string"), F.lit("null")),
            F.coalesce(cur.cast("string"), F.lit("null")),
        )
    else:
        bad = prev > cur if not c.strict else prev >= cur
        bad = F.coalesce(bad, F.lit(False))
        detail = F.format_string(
            f"{c.value_col} regression: %s -> %s",
            prev.cast("string"),
            cur.cast("string"),
        )
    return failed_check(c.check_id, bad, detail)


def _window_pass(
    df: DataFrame,
    checks: list[MonotoneCheck | GapCheck | SequenceCheck],
    cfg: EngineConfig,
    *chunk_key: str,
) -> DataFrame:
    # keyed (partition, group) like every other pass: one shared exchange,
    # and attribution stays correct even if a group spans partitions; the
    # chunked pass adds its order-chunk key
    w = Window.partitionBy(cfg.partition_col, cfg.group_col, *chunk_key).orderBy(
        cfg.order_col
    )
    structs = [
        _adjacent_fail(c, F.lag(F.col(c.value_col)).over(w), c.value_col)
        for c in checks
    ]
    return _emit(df, structs, *_row_coords(cfg))


def _rate_pass(
    df: DataFrame, checks: list[RateCheck], cfg: EngineConfig
) -> DataFrame:
    """Trailing-rate rules: one RANGE-frame window per distinct
    (value_col, seconds) pair, all sharing the engine-key exchange the
    lag window uses (same partitioning — Catalyst reuses the shuffle;
    only the sort/frame differs). Determinism: frames key on the
    truncated epoch second (operators/rolling.py contract), so intra-
    second row order cannot move a row between frames."""
    from .operators.rolling import _trunc_epoch

    structs = []
    for c in checks:
        e = _trunc_epoch(df, c.value_col)
        w = (
            Window.partitionBy(cfg.partition_col, cfg.group_col)
            .orderBy(e)
            .rangeBetween(-int(c.seconds), 0)
        )
        n = F.count(F.lit(1)).over(w)
        bad = e.isNotNull() & (n > F.lit(int(c.max_events)))
        detail = F.format_string(
            f"%s rows in trailing {c.seconds}s > {c.max_events}",
            n.cast("string"),
        )
        structs.append(failed_check(c.check_id, bad, detail))
    return _emit(df, structs, *_row_coords(cfg))


def _periodic_pass(
    df: DataFrame,
    checks: list[RunLengthCheck | PeriodicLoopCheck],
    cfg: EngineConfig,
) -> DataFrame:
    """Stuck-value run and ping-pong loop rules in one pass: a
    RunLengthCheck is the period-1 loop capped at ``max_run``. Every rule
    rides the islands kernel (operators/runs.py:_islands) — row_number
    and the lag-``period`` continuing indicators in one select, a running
    max over the non-continuing rows in a second — keyed identically to
    the engine's lag pass, so Catalyst shares the exchange and ONE sort.
    A row fires when it extends its stretch (``_rn - _reset + period``)
    past ``cap * period`` rows, so dropping exactly the flagged rows
    leaves at most ``cap`` repetitions (``max_run`` rows of a run)."""
    rules, structs = {}, []
    for i, c in enumerate(checks):
        if isinstance(c, RunLengthCheck):
            p, cap = 1, c.max_run
            fmt = f"{c.value_col} run position %s > {c.max_run}"
        else:
            p, cap = c.period, c.max_reps
            fmt = (
                f"{c.value_col} period-{c.period} stretch row %s > "
                f"{c.max_reps} reps"
            )
        rules[f"_{i}"] = (c.value_col, p)
        pos = F.col("_rn") - F.col(f"_reset_{i}") + F.lit(int(p))
        bad = F.col(f"_c_{i}") & (pos > F.lit(int(cap) * int(p)))
        detail = F.format_string(fmt, pos.cast("string"))
        structs.append(failed_check(c.check_id, bad, detail))
    # keep the ORIGINAL key/order columns through the intermediate select:
    # the second window keys on them verbatim, so Catalyst reuses the
    # exchange AND the sort (string-cast keys here would force a second
    # shuffle — the casts happen only in the final projection)
    marked = _islands(
        df,
        [cfg.partition_col, cfg.group_col],
        [cfg.order_col],
        rules,
        [cfg.partition_col, cfg.group_col, cfg.order_col],
    )
    return _emit(marked, structs, *_row_coords(cfg))


def _window_pass_chunked(
    df: DataFrame, checks: list[MonotoneCheck | GapCheck | SequenceCheck], cfg: EngineConfig
) -> DataFrame:
    """Skew-proof adjacent-pair pass: windows over (group, order-chunk)
    bound every task to ≤ chunk_size rows even for a single enormous
    conversation; cross-chunk pairs (regressions / disallowed transitions)
    are caught by joining each chunk's last value with the next chunk's
    first value (a join over n_chunks rows — negligible)."""
    chunk = cfg.window_chunk_size
    dfc = df.withColumn("_chunk", F.floor(F.col(cfg.order_col) / chunk))
    in_chunk = _window_pass(dfc, checks, cfg, "_chunk")

    # boundary reconciliation: per chunk, first/last value of each checked
    # column; compare chunk c's last against chunk c+1's first
    aggs = [
        F.min(F.col(cfg.partition_col).cast("string")).alias("part"),
        F.min(F.struct(cfg.order_col)).alias("_first_key"),
    ]
    for c in checks:
        aggs += [
            F.min_by(F.col(c.value_col), F.col(cfg.order_col)).alias(f"_first_{c.check_id}"),
            F.max_by(F.col(c.value_col), F.col(cfg.order_col)).alias(f"_last_{c.check_id}"),
        ]
    per_chunk = dfc.groupBy(cfg.group_col, "_chunk").agg(*aggs)
    # chunks may be sparse (a gap-shifted row sits alone in a far chunk):
    # pair consecutive OCCUPIED chunks by rank, not by chunk id arithmetic.
    # per_chunk is tiny (one row per occupied chunk), so this window is free.
    rk = Window.partitionBy(cfg.group_col).orderBy("_chunk")
    per_chunk = per_chunk.withColumn("_rk", F.row_number().over(rk))
    nxt = per_chunk.select(
        F.col(cfg.group_col).alias("_g"),
        (F.col("_rk") - 1).alias("_rk"),
        F.col("part").alias("_next_part"),
        F.col("_first_key").alias("_next_first_key"),
        *[F.col(f"_first_{c.check_id}").alias(f"_next_first_{c.check_id}") for c in checks],
    )
    joined = per_chunk.join(
        nxt,
        (per_chunk[cfg.group_col] == nxt["_g"]) & (per_chunk["_rk"] == nxt["_rk"]),
        "inner",
    )
    bstructs = []
    for c in checks:
        last, nfirst = F.col(f"_last_{c.check_id}"), F.col(f"_next_first_{c.check_id}")
        bstructs.append(_adjacent_fail(c, last, nfirst))
    boundary = _emit(
        joined,
        bstructs,
        F.col("_next_part").alias("part"),
        F.col(cfg.group_col).cast("string").alias("conv_id"),
        F.col("_next_first_key")[cfg.order_col].cast("int").alias("turn_idx"),
    )
    return in_chunk.unionAll(boundary)


def _seq_endpoint_pass(
    df: DataFrame, checks: list[SequenceCheck], cfg: EngineConfig
) -> DataFrame:
    """Endpoint rules of SequenceChecks: per group, the value at the
    smallest order must be in ``check.first`` and/or the value at the
    LARGEST order in ``check.last``. ONE groupBy over (partition, group)
    for every endpoint rule in the battery — ``min``/``min_by``/``max_by``
    partial-aggregate map-side, so the shuffle carries one row per group
    per task regardless of group size (hot conversations included), and
    the rules see the TRUE first/last rows even when the window pass runs
    chunked. Opening violations land at the group's min order, closing
    violations at its max order."""
    aggs = [
        F.min(F.col(cfg.order_col)).alias("_first_idx"),
        F.max(F.col(cfg.order_col)).alias("_last_idx"),
    ]
    for c in checks:
        if c.first is not None:
            aggs.append(
                F.min_by(F.col(c.value_col), F.col(cfg.order_col)).alias(
                    f"_vf_{c.check_id}"
                )
            )
        if c.last is not None:
            aggs.append(
                F.max_by(F.col(c.value_col), F.col(cfg.order_col)).alias(
                    f"_vl_{c.check_id}"
                )
            )
    g = df.groupBy(
        F.col(cfg.partition_col).cast("string").alias("part"),
        F.col(cfg.group_col).cast("string").alias("conv_id"),
    ).agg(*aggs)

    # one projection over the single agg: each failed-rule struct carries
    # its OWN coordinate (min order for opening rules, max order for
    # closing rules), so both rule families ride one branch — the agg is
    # never evaluated twice
    structs = []
    for c in checks:
        for kind, vocab, idx in (
            ("first", c.first, "_first_idx"),
            ("last", c.last, "_last_idx"),
        ):
            if vocab is None:
                continue
            v = F.col(f"_v{kind[0]}_{c.check_id}")
            ok = F.coalesce(v.isin(list(vocab)), F.lit(False))
            structs.append(
                failed_check(
                    c.check_id,
                    ~ok,
                    F.format_string(
                        f"{kind} {c.value_col} not in {sorted(vocab)}: %s",
                        F.coalesce(v.cast("string"), F.lit("null")),
                    ),
                    F.col(idx).cast("int").alias("turn_idx"),
                )
            )
    return violation_rows(
        explode_failures(g, structs, "part", "conv_id"),
        F.col("f.check_id"),
        F.col("f.detail"),
        conv=F.col("conv_id"),
        turn=F.col("f.turn_idx"),
    )


def _duplicate_rows(dups: DataFrame, check, cfg: EngineConfig, keys) -> DataFrame:
    """One violation row per duplicated key of ``dups``, with its count."""
    return violation_rows(
        dups,
        check.check_id,
        F.format_string("duplicate key (n=%s)", F.col("count").cast("string")),
        part=F.col(cfg.partition_col),
        conv=F.col(keys[0]),
        turn=F.col(keys[1]) if len(keys) > 1 else None,
    )


def _uniqueness_pass(
    df: DataFrame, check: UniquenessCheck, cfg: EngineConfig
) -> DataFrame:
    keys = list(check.keys or cfg.key_cols)
    dups = df.groupBy(cfg.partition_col, *keys).count().filter(F.col("count") > 1)
    return _duplicate_rows(dups, check, cfg, keys)


def _uniqueness_via_window(
    df: DataFrame, check: UniquenessCheck, cfg: EngineConfig
) -> DataFrame:
    """Duplicate (group, order) keys detected inside the shared window sort:
    a dup row has order == lag(order). Only the flagged rows (a ~0.1%
    sliver) are then aggregated for per-key counts — the full-key shuffle
    of every row is gone."""
    w = Window.partitionBy(cfg.partition_col, cfg.group_col).orderBy(cfg.order_col)
    flagged = (
        df.withColumn("_prev", F.lag(cfg.order_col).over(w))
        .filter(F.col("_prev").isNotNull() & (F.col("_prev") == F.col(cfg.order_col)))
        .groupBy(cfg.partition_col, cfg.group_col, cfg.order_col)
        .agg((F.count(F.lit(1)) + 1).alias("count"))
    )
    return _duplicate_rows(flagged, check, cfg, (cfg.group_col, cfg.order_col))


def _fd_pass(
    df: DataFrame, check: FunctionalDependencyCheck, cfg: EngineConfig
) -> DataFrame:
    """Functional-dependency violations as standard violation rows. The
    two-stage agg (checks/fd.py) is scoped by the engine's partition
    column — per-partition verdicts like every other pass. The violation
    coordinate is the FULL determinant value tuple (comma-joined, NULLs
    marked) so multi-column determinants stay distinguishable; the detail
    carries the variant count and both witness combos so the row is
    actionable without a second query."""
    viol = fd_violations(
        df,
        check.determinant,
        check.dependent,
        cfg.partition_col,
        skip_null_determinant=check.skip_null_determinant,
    )
    det_vals = F.concat_ws(
        ",",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("<null>"))
            for c in check.determinant
        ],
    )
    return violation_rows(
        viol,
        check.check_id,
        F.format_string(
            "%s=(%s) -> %s broken: %s variants over %s rows (e.g. %s vs %s)",
            F.lit(",".join(check.determinant)),
            det_vals,
            F.lit(",".join(check.dependent)),
            F.col("n_variants").cast("string"),
            F.col("n_rows").cast("string"),
            F.col("variant_min"),
            F.col("variant_max"),
        ),
        part=F.col(cfg.partition_col),
        conv=det_vals,
    )


def _group_agg_pass(
    df: DataFrame,
    contig: list[ContiguityCheck],
    group_checks: list[GroupAggCheck],
    cfg: EngineConfig,
) -> DataFrame:
    """Contiguity + generic group-agg checks share one aggregation.

    Distinct counts ride the group-key window sort instead of a
    countDistinct expand: after sorting by the idx within the group, the
    number of rows where idx != lag(idx) (+1 for the first row) IS the
    distinct count — and the window exchange is byte-identical to the
    monotone/uniqueness passes' exchange, so Spark's ReusedExchange makes
    all window-keyed passes pay for ONE shuffle of the input."""
    aggs: list = []
    structs: list = []
    for idx_col in sorted({c.idx_col for c in contig}):
        prev = F.lag(idx_col).over(
            # must match the aggregation key (partition, group): a window
            # keyed by group alone would split one group's _is_new flags
            # across partition values and mis-count distincts
            Window.partitionBy(cfg.partition_col, cfg.group_col).orderBy(idx_col)
        )
        df = df.withColumn(
            f"_is_new_{idx_col}",
            (prev.isNull() | (F.col(idx_col) != prev)).cast("int"),
        )
    for c in contig:
        n = F.count(F.lit(1)).alias(f"_{c.check_id}_n")
        nd = F.sum(f"_is_new_{c.idx_col}").alias(f"_{c.check_id}_nd")
        mn = F.min(c.idx_col).alias(f"_{c.check_id}_mn")
        mx = F.max(c.idx_col).alias(f"_{c.check_id}_mx")
        aggs += [n, nd, mn, mx]
    for c in group_checks:
        aggs += list(c.aggs)
    agg_df = df.groupBy(cfg.partition_col, cfg.group_col).agg(*aggs)
    for c in contig:
        n, nd = F.col(f"_{c.check_id}_n"), F.col(f"_{c.check_id}_nd")
        mn, mx = F.col(f"_{c.check_id}_mn"), F.col(f"_{c.check_id}_mx")
        ok = (mn == 0) & (mx == n - 1) & (nd == n)
        structs.append(
            failed_check(
                c.check_id,
                ~F.coalesce(ok, F.lit(False)),
                F.format_string(
                    "idx not 0..n-1: n=%s distinct=%s min=%s max=%s",
                    n.cast("string"),
                    nd.cast("string"),
                    mn.cast("string"),
                    mx.cast("string"),
                ),
            )
        )
    for c in group_checks:
        structs.append(
            failed_check(
                c.check_id,
                ~F.coalesce(c.predicate, F.lit(False)),
                c.detail if c.detail is not None else F.lit(c.description),
            )
        )
    return _emit(agg_df, structs, *_row_coords(cfg)[:2])


def _health_pass(
    df: DataFrame,
    vol_checks: list[VolumeAnomalyCheck],
    comp_checks: list[CompletenessDriftCheck],
    card_checks: list[CardinalityAnomalyCheck],
    cfg: EngineConfig,
) -> DataFrame:
    """Volume / completeness / cardinality checks share ONE grouped
    aggregation over the partition grain (checks/health.py contract): the
    input is scanned once no matter how many health checks run, the
    profile frame is one row per partition, and every robust band /
    corpus baseline is a whole-frame window over that tiny frame sharing
    a single single-partition exchange. Violations are partition-grain
    (conv_id/turn_idx NULL), built as structs in one select and exploded
    — the _group_agg_pass pattern, so N checks never means N branches
    re-executing the data-sized subtree."""
    from .checks.health import partition_profile, robust_band

    # ids key the shared profile's metric columns and the band-column
    # prefixes: a duplicate would silently overwrite a sibling's metric
    # (dict collapse) — loud, like the suite's duplicate-id rule
    ids = [c.check_id for c in (*vol_checks, *comp_checks, *card_checks)]
    dupes = {i for i in ids if ids.count(i) > 1}
    if dupes:
        raise ValueError(
            f"duplicate health check_id(s) {sorted(dupes)} — each "
            "volume/completeness/cardinality check needs a unique id"
        )
    valid = {c.check_id: F.expr(c.value_col) for c in comp_checks}
    distinct = {c.check_id: F.expr(c.value_col) for c in card_checks}
    frame = partition_profile(
        df, cfg.partition_col, valid=valid, distinct=distinct
    )
    w = Window.partitionBy(F.lit(1))

    def _banded(frame, c, metric):
        p = f"_{c.check_id}_"
        if getattr(c, "history_counts", None) is not None:
            # band from a previous blessed run, injected as exact
            # literals (history_band: interpolated median, identical to
            # the window percentile's arithmetic)
            med, mad = c.history_band()
            frame = frame.withColumn(f"{p}med", F.lit(med))
            frame = frame.withColumn(
                f"{p}dev",
                F.abs(F.col(metric).cast("double") - F.col(f"{p}med")),
            )
            frame = frame.withColumn(f"{p}mad", F.lit(mad))
            return frame.withColumn(
                f"{p}flag",
                F.col(f"{p}dev") > F.lit(float(c.k)) * F.col(f"{p}mad"),
            )
        season = None
        if c.season is not None:
            frame = frame.withColumn(
                f"_{c.check_id}_season", F.expr(c.season)
            )
            season = f"_{c.check_id}_season"
        return robust_band(
            frame, metric, c.k, prefix=p, season_col=season
        )

    for c in vol_checks:
        frame = _banded(frame, c, "n")
        p = f"_{c.check_id}_"
        extra = F.lit(False)
        if c.rel is not None:
            extra = extra | (
                F.col(f"{p}dev") > F.lit(float(c.rel)) * F.col(f"{p}med")
            )
        if c.min_rows is not None:
            extra = extra | (F.col("n") < F.lit(int(c.min_rows)))
        if c.max_rows is not None:
            extra = extra | (F.col("n") > F.lit(int(c.max_rows)))
        if c.rel is not None or c.min_rows is not None or c.max_rows is not None:
            frame = frame.withColumn(
                f"{p}flag", F.col(f"{p}flag") | extra
            )
    for c in card_checks:
        frame = _banded(frame, c, f"d_{c.check_id}")
        if c.rel is not None:
            p = f"_{c.check_id}_"
            frame = frame.withColumn(
                f"{p}flag",
                F.col(f"{p}flag")
                | (
                    F.col(f"{p}dev")
                    > F.lit(float(c.rel)) * F.col(f"{p}med")
                ),
            )
    for c in comp_checks:
        nf = (F.col("n") - F.col(f"v_{c.check_id}")).cast(
            "double"
        ) / F.col("n").cast("double")
        frame = frame.withColumn(f"_{c.check_id}_nf", nf)
        if c.baseline_frac is None:
            base = (
                (F.sum("n").over(w) - F.sum(f"v_{c.check_id}").over(w)).cast(
                    "double"
                )
                / F.sum("n").over(w).cast("double")
            )
        else:
            base = F.lit(float(c.baseline_frac))
        frame = frame.withColumn(f"_{c.check_id}_bf", base)

    def band_fail(c, metric, text):
        p = f"_{c.check_id}_"
        return failed_check(
            c.check_id,
            F.coalesce(F.col(f"{p}flag"), F.lit(False)),
            F.format_string(
                f"{text} (med=%s mad=%s)",
                F.col(metric).cast("string"),
                F.col(f"{p}med").cast("string"),
                F.col(f"{p}mad").cast("string"),
            ),
        )

    structs: list[Column] = []
    for c in vol_checks:
        # name every configured rule part: a floor-fired row must not
        # read as a band violation
        rule = f"median±{c.k}·MAD"
        if c.rel is not None:
            rule += f", rel={c.rel}"
        if c.min_rows is not None:
            rule += f", min_rows={c.min_rows}"
        if c.max_rows is not None:
            rule += f", max_rows={c.max_rows}"
        structs.append(
            band_fail(c, "n", f"partition_rows=%s violates volume rule [{rule}]")
        )
    for c in card_checks:
        structs.append(
            band_fail(
                c, f"d_{c.check_id}", f"n_distinct=%s outside median±{c.k}·MAD"
            )
        )
    for c in comp_checks:
        p = f"_{c.check_id}_"
        drifted = F.abs(
            F.col(f"{p}nf") - F.col(f"{p}bf")
        ) > F.lit(float(c.tol))
        structs.append(
            failed_check(
                c.check_id,
                F.coalesce(drifted, F.lit(False)),
                F.format_string(
                    f"null_frac=%s vs baseline=%s (|delta| > {c.tol})",
                    F.round(f"{p}nf", 6).cast("string"),
                    F.round(f"{p}bf", 6).cast("string"),
                ),
            )
        )
    return _emit(frame, structs, F.col("part"))


def run_validation(
    df: DataFrame,
    checks: list[Check],
    cfg: EngineConfig | None = None,
    baseline: DataFrame | None = None,
) -> ValidationResult:
    """Run the battery; returns lazily-evaluated verdicts + violations.

    ``baseline`` (clean reference table) resolves DriftCheck baselines that
    were not given explicit quantiles.
    """
    cfg = cfg or EngineConfig()
    spark = df.sparkSession
    unsupported = [c for c in checks if not isinstance(c, _COMPILED)]
    if unsupported:
        raise ValueError(
            "unsupported checks "
            f"{[(c.check_id, type(c).__name__) for c in unsupported]}: no "
            "pass compiles them; every entry in `checks` must be one of "
            + ", ".join(t.__name__ for t in _COMPILED)
        )

    def of(cls):
        return [c for c in checks if isinstance(c, cls)]

    def need_baseline(c, what):
        if baseline is None:
            raise ValueError(
                f"{type(c).__name__} {c.check_id} has no {what} and no "
                "baseline DataFrame was provided"
            )

    row_checks = of(RowCheck)
    mono_checks = of(MonotoneCheck)
    gap_checks = of(GapCheck)
    rate_checks = of(RateCheck)
    run_checks = of(RunLengthCheck)
    loop_checks = of(PeriodicLoopCheck)
    seq_checks = of(SequenceCheck)
    uniq_checks = of(UniquenessCheck)
    fd_checks = of(FunctionalDependencyCheck)
    contig_checks = of(ContiguityCheck)
    group_checks = of(GroupAggCheck)
    drift_checks = of(DriftCheck)
    cat_drift_checks = of(CategoricalDriftCheck)
    corr_drift_checks = of(CorrelationDriftCheck)
    cond_drift_checks = of(ConditionalDriftCheck)
    trans_drift_checks = of(TransitionDriftCheck)
    text_checks = of(TextEqualityCheck)
    vol_checks = of(VolumeAnomalyCheck)
    comp_checks = of(CompletenessDriftCheck)
    card_checks = of(CardinalityAnomalyCheck)

    pieces: list[DataFrame] = []
    if row_checks:
        pieces.append(_row_pass(df, row_checks, cfg))
    # one shared lag window for every adjacent-pair rule; endpoint-only
    # SequenceChecks (allowed=None) have no pair rule and skip it
    adj_checks = (
        mono_checks
        + gap_checks
        + [c for c in seq_checks if c.allowed is not None]
    )
    if adj_checks:
        if cfg.window_chunk_size:
            pieces.append(_window_pass_chunked(df, adj_checks, cfg))
        else:
            pieces.append(_window_pass(df, adj_checks, cfg))
    seq_endpoint = [
        c for c in seq_checks if c.first is not None or c.last is not None
    ]
    if seq_endpoint:
        pieces.append(_seq_endpoint_pass(df, seq_endpoint, cfg))
    if rate_checks:
        pieces.append(_rate_pass(df, rate_checks, cfg))
    if run_checks or loop_checks:
        pieces.append(_periodic_pass(df, run_checks + loop_checks, cfg))
    for c in uniq_checks:
        # chunked windows can't see duplicates across chunks
        if not cfg.window_chunk_size and tuple(c.keys or cfg.key_cols) == (
            cfg.group_col,
            cfg.order_col,
        ):
            pieces.append(_uniqueness_via_window(df, c, cfg))
        else:
            pieces.append(_uniqueness_pass(df, c, cfg))
    for c in fd_checks:
        pieces.append(_fd_pass(df, c, cfg))
    if contig_checks or group_checks:
        pieces.append(_group_agg_pass(df, contig_checks, group_checks, cfg))
    for c in drift_checks:
        bq = c.baseline_quantiles
        if bq is None:
            need_baseline(c, "baseline quantiles")
            if c.method == "exact":
                bq = exact_global_quantiles(baseline, c.value_expr, c.probes)
            else:
                bq = approx_global_quantiles(baseline, c.value_expr, c.probes)
        if c.method == "exact":
            q = exact_quantiles_by_partition(
                df, c.value_expr, c.probes, cfg.partition_col
            )
        else:
            q = approx_quantiles_by_partition(
                df, c.value_expr, c.probes, cfg.partition_col
            )
        pieces.append(drift_violations_approx(q, bq, c.threshold, c.check_id))
    for c in cat_drift_checks:
        bc = c.baseline_counts
        if bc is None:
            need_baseline(c, "baseline counts")
            bc = categorical_counts(baseline, c.cat_col)
        tv = categorical_tv(df, c.cat_col, cfg.partition_col, bc)
        pieces.append(categorical_drift_violations(tv, c.threshold, c.check_id))
    for c in corr_drift_checks:
        if c.baseline_corr is None:
            need_baseline(c, "baseline_corr")
        cd = correlation_drift(
            df,
            c.x_expr,
            c.y_expr,
            cfg.partition_col,
            baseline=baseline,
            baseline_corr=c.baseline_corr,
        )
        pieces.append(
            correlation_drift_violations(cd, c.threshold, c.check_id)
        )
    for c in cond_drift_checks:
        bc = c.baseline_counts
        if bc is None:
            need_baseline(c, "baseline counts")
            bc = conditional_counts(baseline, c.cond_expr, c.cat_expr)
        ct = conditional_tv(
            df, c.cond_expr, c.cat_expr, cfg.partition_col, bc
        )
        pieces.append(
            conditional_drift_violations(ct, c.threshold, c.check_id)
        )
    for c in trans_drift_checks:
        seq = c.seq_col or cfg.group_col
        order = tuple(c.order_cols) or (cfg.order_col,)
        bc = c.baseline_counts
        if bc is None:
            need_baseline(c, "baseline counts")
            bc = transition_counts(
                baseline,
                seq,
                order,
                c.state_expr,
                include_boundaries=c.include_boundaries,
            )
        td = transition_drift(
            df,
            seq,
            order,
            c.state_expr,
            cfg.partition_col,
            bc,
            include_boundaries=c.include_boundaries,
        )
        pieces.append(
            transition_drift_violations(td, c.threshold, c.check_id)
        )
    for c in text_checks:
        pieces.append(
            text_equality_violations(
                df,
                c.reference,
                cfg.key_cols,
                c.text_col,
                cfg.partition_col,
                c.check_id,
                colocated=c.colocated,
            )
        )

    if vol_checks or comp_checks or card_checks:
        pieces.append(
            _health_pass(df, vol_checks, comp_checks, card_checks, cfg)
        )

    if not pieces:
        raise ValueError(
            "no supported checks: `checks` is empty or holds only rules "
            "with nothing to check"
        )
    violations = pieces[0]
    for p in pieces[1:]:
        violations = violations.unionAll(p)
    if cfg.persist_violations:
        violations = violations.persist()

    parts = df.select(
        F.col(cfg.partition_col).cast("string").alias("part")
    ).distinct()
    # literal_frame, NOT createDataFrame: the check registry is re-broadcast
    # on every verdict action, and a Python-parallelize plan re-spawns Python
    # workers each time (measured ~20s/action of zero-CPU wait on a loaded
    # box); the literal projection evaluates JVM-side in microseconds
    checks_df = literal_frame(
        spark,
        [(c.check_id, c.description) for c in checks],
        "check_id string, description string",
    )
    counts = violations.groupBy("part", "check_id").agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    verdicts = (
        parts.crossJoin(F.broadcast(checks_df.select("check_id")))
        .join(counts, ["part", "check_id"], "left")
        .select(
            "part",
            "check_id",
            F.coalesce(F.col("n_violations"), F.lit(0)).alias("n_violations"),
            (F.coalesce(F.col("n_violations"), F.lit(0)) == 0).alias("passed"),
        )
    )
    return ValidationResult(verdicts=verdicts, violations=violations)


def sample_violations(violations: DataFrame, k: int = 10) -> DataFrame:
    """Reference-style capped report ("first 10 duplicates",
    tortilla/datamodel.py:243-254) under the canonical (conv_id, turn_idx)
    ordering, so truncation is deterministic under distribution."""
    w = Window.partitionBy("part", "check_id").orderBy(
        F.col("conv_id").asc_nulls_last(), F.col("turn_idx").asc_nulls_last(), "detail"
    )
    return (
        violations.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
