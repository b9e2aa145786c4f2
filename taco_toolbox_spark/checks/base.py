"""Declarative constraint checks.

The reference implements each validation as an imperative routine raising a
typed exception with offending values (e.g. duplicate-id detection,
/root/reference/tacotoolbox/tortilla/datamodel.py:235-254; vocabulary
Literals, sample/datamodel.py:34; ordering rules, sample/extensions/
stac.py:94-98; PIT structural isomorphism, taco/datamodel.py:294-390).

Here every check is a small declarative spec; the engine (engine.py)
compiles the whole battery into a minimal number of Spark passes:

  * all RowChecks    -> ONE projection over the scan (no shuffle)
  * all MonotoneChecks -> ONE window pass (single shuffle on the group key)
  * Uniqueness/Contiguity/GroupAgg -> ONE aggregation pass (same key)
  * DriftCheck       -> percentile_approx / percentile per partition
  * TextEqualityCheck -> one key join + JVM null-safe <=> filter

so adding a check never adds a scan. Violations are *rows*, not exceptions:
(part, check_id, conv_id, turn_idx, detail) — the set-oriented equivalent
of the reference's error reports. Every pass builds them with the helpers
at the end of this module (:func:`failed_check`,
:func:`explode_failures`, :func:`violation_rows`).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import CONV_ID_PATTERN, ROLE_VOCAB, TOOL_VOCAB


@dataclass
class Check:
    check_id: str
    description: str = ""


@dataclass
class RowCheck(Check):
    """Single-row predicate that must hold (NULL-safe: a NULL predicate is
    a FAIL unless ``null_ok``). Compiled into the shared row pass."""

    predicate: Column | None = None
    detail: Column | None = None
    null_ok: bool = False

    def holds(self) -> Column:
        p = self.predicate
        if self.null_ok:
            return F.coalesce(p, F.lit(True))
        return F.coalesce(p, F.lit(False))

    def detail_col(self) -> Column:
        return self.detail if self.detail is not None else F.lit(self.check_id)


@dataclass
class MonotoneCheck(Check):
    """Value must be monotone (non-decreasing, or strictly increasing) within
    the group ordered by the engine's order column — the window realization
    of the reference's order-by-construction guarantees (stac.py:94-98,
    zip_writer.py:216-220)."""

    value_col: str = ""
    strict: bool = False


@dataclass
class GapCheck(Check):
    """Adjacent step bound within the group: for consecutive rows (by the
    engine's order column), ``cur - prev`` must not exceed ``max_step``
    (and, when ``min_step`` is set, must not fall below it). Values compare
    in DOUBLE units — for timestamp columns the cast is epoch seconds, so
    ``max_step=3600`` means "no silent gap longer than an hour inside a
    conversation" (the temporal sibling of MonotoneCheck's ordering rule;
    reference analog: temporal-extent sanity, taco/datamodel.py extent
    family). Rides the SAME shared lag window as MonotoneCheck /
    SequenceCheck — adding a gap bound adds zero scans and zero shuffles —
    and composes with the chunked skew-proof path, whose boundary
    reconciliation replays the identical expression on chunk-edge pairs.
    NULL prev (group/chunk first row) never fires; a NULL current value is
    a bad-value problem for the row pass, not a gap."""

    value_col: str = ""
    #: maximum allowed (cur - prev) in double units; None = unbounded above
    max_step: float | None = None
    #: minimum allowed (cur - prev); None = unbounded below. A value of 0
    #: with ``min_step`` duplicates MonotoneCheck — use it for asymmetric
    #: bands instead.
    min_step: float | None = None

    def __post_init__(self) -> None:
        if self.max_step is None and self.min_step is None:
            raise ValueError(
                f"GapCheck {self.check_id!r} needs max_step and/or min_step "
                "— with neither it would silently pass everything"
            )

    def step_bad(self, prev: Column, cur: Column) -> Column:
        step = cur.cast("double") - prev.cast("double")
        bad = F.lit(False)
        if self.max_step is not None:
            bad = bad | (step > F.lit(float(self.max_step)))
        if self.min_step is not None:
            bad = bad | (step < F.lit(float(self.min_step)))
        return F.coalesce(bad, F.lit(False))


@dataclass
class RateCheck(Check):
    """Trailing time-window rate bound within the group: no row may see
    more than ``max_events`` rows of its group (itself included) in the
    trailing ``seconds`` window ending at its own timestamp — the burst /
    retry-storm / runaway-agent rule, the TIME-frame sibling of
    GapCheck's adjacent-step bound (a gap rule sees one pair at a time
    and misses "many small steps adding up to a storm"). Compiled into a
    RANGE-frame window over the truncated epoch second
    (operators/rolling.py has the determinism contract: rows sharing a
    second share one frame, so the count is independent of intra-second
    order); one shuffle on the engine key, shared exchange with the lag
    window. Only the OVERFLOW rows fire, so dropping exactly the flagged
    rows satisfies the rule. A NULL timestamp never fires (it is the row
    pass's not-null problem)."""

    value_col: str = ""
    seconds: int = 3600
    max_events: int = 1

    def __post_init__(self) -> None:
        if not self.value_col:
            raise ValueError(
                f"RateCheck {self.check_id!r}: value_col (the timestamp "
                "column) is required"
            )
        if self.seconds < 0:
            raise ValueError(
                f"RateCheck {self.check_id!r}: seconds must be >= 0"
            )
        if self.max_events < 1:
            raise ValueError(
                f"RateCheck {self.check_id!r}: max_events must be >= 1"
            )


@dataclass
class RunLengthCheck(Check):
    """Stuck-value bound within the group: no maximal run of consecutive
    null-safe-equal ``value_col`` values (under the engine's order
    column) may exceed ``max_run`` rows — the stuck-sensor / looping-
    agent / template-storm rule, the EQUALITY-run sibling of GapCheck's
    step bound (every adjacent pair inside a run is "equal", which no
    gap/monotone/rate rule forbids, yet 500 identical assistant turns is
    exactly the pathology a transcript validator must flag). A run is
    the period-1 loop: the engine compiles this check as
    ``PeriodicLoopCheck(period=1, max_reps=max_run)`` in the shared
    islands pass (operators/runs.py) — row_number + lag-1 continuing
    indicator, then a running max over the run starts — two stacked
    Window operators sharing the engine-key exchange and ONE sort. Only
    the OVERFLOW rows fire (run position > max_run), so dropping exactly
    the flagged rows satisfies the rule; the detail reads
    ``"{value_col} run position N > max_run"``. NULL values form runs
    too (stuck-null is stuck); whether NULL is also illegal is the row
    pass's problem."""

    value_col: str = ""
    max_run: int = 1

    def __post_init__(self) -> None:
        if not self.value_col:
            raise ValueError(
                f"RunLengthCheck {self.check_id!r}: value_col is required"
            )
        if self.max_run < 1:
            raise ValueError(
                f"RunLengthCheck {self.check_id!r}: max_run must be >= 1"
            )


@dataclass
class PeriodicLoopCheck(Check):
    """Period-``period`` loop bound within the group: no maximal stretch
    of rows where ``value_col`` null-safe equals the value ``period``
    rows earlier (under the engine's order column) may contain more than
    ``max_reps`` full motif repetitions — the PING-PONG rule, the
    period-p sibling of :class:`RunLengthCheck` (period 1). An agent
    alternating between two tools (``a b a b a b``) defeats every other
    sequential rule: adjacent pairs all differ (no run), gaps can be
    regular, and the transition grammar sees only legal ``a->b`` edges.
    Compiled in ONE islands pass with the run rules (operators/runs.py):
    a lag-``period`` continuing indicator, then a running max over the
    non-continuing rows — two stacked Window operators sharing the
    engine-key exchange with ONE sort, however many run and loop checks
    the battery holds. Only OVERFLOW rows fire (rows extending the
    stretch past ``max_reps * period`` total rows), so dropping exactly
    the flagged rows leaves at most ``max_reps`` repetitions. NULL
    cycling with NULL is a loop (stuck-null discipline, as in the run
    rule)."""

    value_col: str = ""
    period: int = 2
    max_reps: int = 2

    def __post_init__(self) -> None:
        if not self.value_col:
            raise ValueError(
                f"PeriodicLoopCheck {self.check_id!r}: value_col is required"
            )
        if self.period < 1:
            raise ValueError(
                f"PeriodicLoopCheck {self.check_id!r}: period must be >= 1"
            )
        if self.max_reps < 1:
            raise ValueError(
                f"PeriodicLoopCheck {self.check_id!r}: max_reps must be >= 1"
            )


@dataclass
class UniquenessCheck(Check):
    """Key must be unique (reference duplicate-id check,
    tortilla/datamodel.py:235-254). Keys default to the engine key."""

    keys: Sequence[str] | None = None


@dataclass
class FunctionalDependencyCheck(Check):
    """``determinant → dependent`` must hold per partition: every distinct
    determinant value maps to exactly ONE combination of dependent values
    (NULL is a real value). The declarative generalization of the
    reference's per-object field-consistency rules (checks/fd.py has the
    full scale rationale); compiled into two stacked map-side-combinable
    hash aggregations — no expand, no window, determinant skew absorbed at
    the (determinant, combo) grain."""

    determinant: Sequence[str] = ()
    dependent: Sequence[str] = ()
    #: exempt rows whose determinant is (partly) NULL — "optional key"
    #: semantics: a turn with no tool is not a counterexample to
    #: "each tool is used by one role"
    skip_null_determinant: bool = False


@dataclass
class ContiguityCheck(Check):
    """Per group, the index column must be exactly 0..n-1 (PIT-analog
    structural invariant, taco/datamodel.py:294-390)."""

    idx_col: str = ""


@dataclass
class SequenceCheck(Check):
    """Allowed-transition grammar over a categorical column within each
    group, ordered by the engine's order column: every adjacent
    (prev, cur) value pair must be a member of ``allowed``, and (when
    ``first`` is given) the group's opening value must be in ``first``.
    The transcript realization of the reference's structural sequence
    rules (PIT child-order isomorphism, taco/datamodel.py:294-390;
    order-by-construction guarantees, stac.py:94-98): here the "structure"
    is the conversation's role protocol (e.g. a conversation opens with
    `system`, and `system` never reappears mid-conversation).

    Compiled into the SAME lag-window pass as :class:`MonotoneCheck` (one
    shared shuffle for the whole adjacent-pair battery); the first-value
    rule rides the group-aggregation pass (``min_by`` partial-aggregates
    map-side, so the shuffle carries one row per group per task). A NULL
    current value never silently passes: NULL is not a member of any
    ``allowed`` pair or ``first`` vocabulary.
    """

    value_col: str = ""
    #: allowed (previous, current) adjacent value pairs; None = no
    #: adjacent-pair rule (endpoint-only grammar — the check is skipped in
    #: the window pass and exists purely for its ``first``/``last`` rules)
    allowed: Sequence[tuple[str, str]] | None = ()
    #: values the group may OPEN with; None = unconstrained
    first: Sequence[str] | None = None
    #: values the group may CLOSE with (value at the LARGEST order); None =
    #: unconstrained. Rides the same endpoint group-agg as ``first`` — a
    #: ``max_by`` alongside the ``min_by``, one shared shuffle of one row
    #: per group, correct under window chunking (the agg is global).
    last: Sequence[str] | None = None

    def __post_init__(self) -> None:
        if self.allowed is None and self.first is None and self.last is None:
            raise ValueError(
                f"SequenceCheck {self.check_id!r} needs 'allowed', 'first' "
                "and/or 'last' — with none it compiles to no pass and "
                "would silently pass everything"
            )

    def pair_ok(self, prev: Column, cur: Column) -> Column:
        """Membership of the (prev, cur) pair in the allowed set, as one
        JVM `isin` over a separator-joined key (values are closed-vocab
        categoricals, so the separator cannot collide). NULL cur joins as
        the bare prev string — never a member — so it fails closed."""
        keys = [f"{a}\x1f{b}" for a, b in self.allowed]
        return F.concat_ws(
            "\x1f", prev.cast("string"), cur.cast("string")
        ).isin(keys)


@dataclass
class CategoricalDriftCheck(Check):
    """Per-partition categorical distribution must stay within ``threshold``
    total-variation distance of the baseline distribution (the categorical
    sibling of :class:`DriftCheck`'s quantile drift; reference analog:
    per-collection categorical summaries, geotiff_stats.py histogram
    family). TV distance is computed EXACTLY in integer arithmetic —
    ``|n_part·N_base − n_base·N_part|`` summed per category, one float
    division at the end — so an independent engine reproduces the verdict
    bit-for-bit (no order-dependent float accumulation; see
    drift.categorical_tv)."""

    cat_col: str = ""
    threshold: float = 0.25
    #: baseline category counts {value: count}; resolved by the engine from
    #: the ``baseline`` DataFrame when None
    baseline_counts: dict[str, int] | None = None


@dataclass
class CorrelationDriftCheck(Check):
    """Per-partition Pearson correlation of two INTEGER-VALUED SQL
    expressions must stay within ``threshold`` absolute distance of the
    baseline's global correlation — the RELATIONSHIP member of the drift
    family: the marginal-watching siblings (quantile, categorical TV, KS,
    centroid) miss a partition whose columns keep their distributions
    while the relationship between them breaks. Exact DECIMAL moment sums
    with one final float transition (drift.correlation_by_partition), so
    the verdict is bit-for-bit reproducible by an independent engine. A
    partition whose correlation went DEGENERATE (n < 2 or zero variance)
    while the baseline has a real relationship fires as its own violation
    class. Quantize non-integer inputs in the expression
    (``round(value*1000)``), the KS family's documented move."""

    x_expr: str = ""
    y_expr: str = ""
    threshold: float = 0.25
    #: inline baseline correlation; resolved by the engine from the
    #: ``baseline`` DataFrame (its global correlation) when None
    baseline_corr: float | None = None


@dataclass
class ConditionalDriftCheck(Check):
    """Per-(partition, conditioning value) total-variation distance of the
    conditional distribution P(cat | cond) from the baseline's global
    P(cat | cond) must stay within ``threshold`` — the categorical
    RELATIONSHIP member of the drift family, pairing with
    :class:`CorrelationDriftCheck`: both marginals can stay bit-identical
    while the contingency table breaks (every tool keeps its volume, every
    role its share, but which roles a tool co-occurs with shifts). Exact
    cross-multiplied integer arithmetic with one final float division
    (drift.conditional_tv), so the verdict is bit-for-bit reproducible by
    an independent engine. A conditioning value the baseline has never
    seen fires as its own "novel conditioning value" violation class."""

    cond_expr: str = ""
    cat_expr: str = ""
    threshold: float = 0.25
    #: baseline contingency counts {(cond, cat): count}; resolved by the
    #: engine from the ``baseline`` DataFrame when None
    baseline_counts: dict[tuple[str, str], int] | None = None


@dataclass
class TransitionDriftCheck(Check):
    """Per-(partition, from_state) total-variation distance of the outgoing
    TRANSITION distribution P(to_state | from_state) — the Markov row for
    ``state_expr`` under stable (``seq_col``, ``order_cols``) ordering —
    from the baseline's, must stay within ``threshold``. The
    SEQUENTIAL-structure member of the drift family: marginals and per-row
    contingency tables can stay bit-identical while the ORDER of turns
    breaks (tool turns no longer followed by assistant turns, retry loops
    appearing, conversations that stop closing with the assistant).
    :class:`SequenceCheck` hard-fails individual forbidden adjacencies;
    this watches the transition DISTRIBUTION shift statistically. Exact
    cross-multiplied integer arithmetic with one final float division
    (drift.transition_drift), bit-for-bit reproducible by an independent
    engine. With boundaries on, <start>/<end> sentinels expose
    opening/closing-protocol drift as P(to | <start>) / P(<end> | from).
    Empty ``seq_col`` / ``order_cols`` resolve to the engine's
    group_col / (order_col,)."""

    seq_col: str = ""
    order_cols: tuple[str, ...] = ()
    state_expr: str = ""
    threshold: float = 0.25
    include_boundaries: bool = True
    #: baseline bigram counts {(from_state, to_state): count}; resolved by
    #: the engine from the ``baseline`` DataFrame when None
    baseline_counts: dict[tuple[str, str], int] | None = None


@dataclass
class VolumeAnomalyCheck(Check):
    """A partition's ROW COUNT must sit inside the robust median±k·MAD
    band of the run's partitions — the VOLUME member of the partition-
    health trio (checks/health.py): upstream outages and double-
    deliveries change how much data a partition carries while every
    row-level, marginal, and sequential rule stays intact. Self-
    calibrating (the band comes from the run itself); the whole health
    battery shares ONE grouped aggregation over the partition grain, so
    adding this check adds no scans. MAD = 0 (all partitions identical)
    flags ANY deviating partition — strict by construction."""

    k: float = 3.0
    #: SQL expression over the partition value (available as the string
    #: column ``part``) defining a season class, e.g.
    #: ``"weekday(to_date(part)) + 1"`` for ISO day-of-week: the band is
    #: then computed within each class — the weekly-rhythm fix (a plain
    #: band pages on every legitimate Sunday trough and misses a broken
    #: Sunday that looks like a weekday). None = one band over all
    #: partitions.
    season: str | None = None
    #: per-partition row counts from a previous BLESSED run (e.g. a
    #: checkpoint manifest's n_rows values): the band is computed over
    #: these instead of the run itself, closing the self-calibrated
    #: band's blind spot (a global shrink moves the run's own median
    #: with it). Mutually exclusive with ``season`` (a seasonal history
    #: band needs per-class history — compose volume_anomaly_vs_history
    #: directly for that).
    history_counts: Sequence[int] | None = None
    #: relative floor: also fire when dev > rel·med — bursty corpora
    #: carry a MAD comparable to the median, which swallows even a 90%
    #: collapse inside k·MAD; the floor pages on any deviation past this
    #: fraction of the median regardless of band width.
    rel: float | None = None
    #: ABSOLUTE per-partition bounds, applied on top of (ORed with) the
    #: band: a partition with fewer than ``min_rows`` or more than
    #: ``max_rows`` rows fires regardless of where the band sits — the
    #: declarative "every day must carry at least N events" rule that no
    #: relative band can express. None = unbounded on that side.
    min_rows: int | None = None
    max_rows: int | None = None

    def __post_init__(self) -> None:
        if self.k <= 0:
            raise ValueError(
                f"VolumeAnomalyCheck {self.check_id!r}: k must be > 0, "
                f"got {self.k}"
            )
        if (
            self.min_rows is not None
            and self.max_rows is not None
            and self.min_rows > self.max_rows
        ):
            raise ValueError(
                f"VolumeAnomalyCheck {self.check_id!r}: min_rows "
                f"{self.min_rows} > max_rows {self.max_rows}"
            )
        if self.rel is not None and self.rel <= 0:
            raise ValueError(
                f"VolumeAnomalyCheck {self.check_id!r}: rel must be > 0, "
                f"got {self.rel}"
            )
        if self.history_counts is not None:
            if len(self.history_counts) == 0:
                raise ValueError(
                    f"VolumeAnomalyCheck {self.check_id!r}: history_counts "
                    "is empty — an empty history bands nothing"
                )
            if self.season is not None:
                raise ValueError(
                    f"VolumeAnomalyCheck {self.check_id!r}: season and "
                    "history_counts are mutually exclusive (a seasonal "
                    "history band needs per-class history; compose "
                    "volume_anomaly_vs_history directly)"
                )

    def history_band(self) -> tuple[float, float]:
        """Exact (median, MAD) of ``history_counts`` — interpolated
        median, identical to quantile_cont/percentile at 0.5 (halves and
        quarters of integers, exactly representable)."""
        import statistics

        med = float(statistics.median(self.history_counts))
        mad = float(
            statistics.median(abs(float(n) - med) for n in self.history_counts)
        )
        return med, mad


@dataclass
class CompletenessDriftCheck(Check):
    """A partition's NULL FRACTION of ``value_col`` (a column name or SQL
    validity expression — NULL means incomplete) must stay within ``tol``
    of ``baseline_frac``, or of the corpus-wide fraction computed in the
    same pass when no baseline is given. The COMPLETENESS member of the
    partition-health trio: a half-broken upstream join turns a 2%-null
    column into a 40%-null day while not_null row rules (columns that may
    never be null) and global profiling (which averages the day away)
    both stay silent. Exact integer counts, ONE float division — an
    independent engine replays every verdict bit-for-bit."""

    value_col: str = ""
    tol: float = 0.05
    #: expected null fraction; None = judge against the corpus-wide
    #: fraction from the same aggregation (self-calibrating first run)
    baseline_frac: float | None = None

    def __post_init__(self) -> None:
        if not self.value_col:
            raise ValueError(
                f"CompletenessDriftCheck {self.check_id!r} needs value_col"
            )
        if not 0.0 <= self.tol <= 1.0:
            raise ValueError(
                f"CompletenessDriftCheck {self.check_id!r}: tol must be in "
                f"[0, 1], got {self.tol}"
            )
        if self.baseline_frac is not None and not (
            0.0 <= self.baseline_frac <= 1.0
        ):
            raise ValueError(
                f"CompletenessDriftCheck {self.check_id!r}: baseline_frac "
                f"must be in [0, 1], got {self.baseline_frac}"
            )


@dataclass
class CardinalityAnomalyCheck(Check):
    """A partition's EXACT DISTINCT count of ``value_col`` must sit inside
    the robust median±k·MAD band of the run's partitions — the
    CARDINALITY member of the partition-health trio: distinct-users-per-
    day collapsing means an id-mapping bug, exploding means a fan-out
    join; both invisible to every other rule (counts intact, values
    in-vocab, order fine). With ``value_col`` set to a content
    fingerprint this is a per-partition duplicate-rate monitor. Each
    distinct column adds an Expand projection to the shared aggregation —
    watch the keys a check actually needs; the approximate wide-battery
    path is stats.py's HLL sketches."""

    value_col: str = ""
    k: float = 3.0
    #: season-class expression over the ``part`` string — same contract
    #: as :class:`VolumeAnomalyCheck.season`
    season: str | None = None
    #: per-partition distinct counts from a previous blessed run (e.g.
    #: checkpoint.cardinality_history_from_manifest values) — same
    #: contract as :class:`VolumeAnomalyCheck.history_counts`
    history_counts: Sequence[int] | None = None
    #: relative floor, same contract as :class:`VolumeAnomalyCheck.rel`
    rel: float | None = None

    def __post_init__(self) -> None:
        if not self.value_col:
            raise ValueError(
                f"CardinalityAnomalyCheck {self.check_id!r} needs value_col"
            )
        if self.k <= 0:
            raise ValueError(
                f"CardinalityAnomalyCheck {self.check_id!r}: k must be > 0, "
                f"got {self.k}"
            )
        if self.rel is not None and self.rel <= 0:
            raise ValueError(
                f"CardinalityAnomalyCheck {self.check_id!r}: rel must be "
                f"> 0, got {self.rel}"
            )
        if self.history_counts is not None:
            if len(self.history_counts) == 0:
                raise ValueError(
                    f"CardinalityAnomalyCheck {self.check_id!r}: "
                    "history_counts is empty"
                )
            if self.season is not None:
                raise ValueError(
                    f"CardinalityAnomalyCheck {self.check_id!r}: season "
                    "and history_counts are mutually exclusive"
                )

    # the exact interpolated band, shared with the volume check
    history_band = VolumeAnomalyCheck.history_band


@dataclass
class GroupAggCheck(Check):
    """Generic per-group aggregate invariant: ``aggs`` are computed per
    group, ``predicate`` (over the agg row) must hold."""

    aggs: Sequence[Column] = field(default_factory=list)
    predicate: Column | None = None
    detail: Column | None = None


@dataclass
class DriftCheck(Check):
    """Per-partition distribution of ``value_expr`` must stay within
    ``threshold`` relative distance of the baseline quantiles (reference
    analog: histogram percentiles geotiff_stats.py:251-264 + partial→final
    extent merge _tacollection.py:343-466)."""

    value_expr: str = ""  # SQL expression over the input row
    probes: Sequence[float] = (0.1, 0.25, 0.5, 0.75, 0.9)
    threshold: float = 0.25
    baseline_quantiles: Sequence[float] | None = None  # resolved by engine if None
    #: "approx" = JVM-side percentile_approx (Spark's own mergeable sketch,
    #: no Python in the path — the default/fast path); "tdigest" = an
    #: alias of "approx", kept so older suites and callers still run;
    #: "exact" = sort-based exact percentiles (type-7 interpolation,
    #: identical to DuckDB quantile_cont) so an independent engine can
    #: recompute the verdicts — for verification corpora, not the
    #: 10^12-row path.
    method: str = "approx"


@dataclass
class TextEqualityCheck(Check):
    """Per-turn text equality against a clean reference copy under stable
    (conv_id, turn_idx) ordering (BASELINE input_hint), judged by the JVM
    null-safe ``<=>``. ``reference`` must contain the key columns +
    ``text_col``."""

    reference: DataFrame | None = None
    text_col: str = "text"
    #: True when df and reference share a storage layout (co-bucketed /
    #: co-partitioned on the key): the key join is exchange-free, so the
    #: direct single-scan plan beats the shuffle-avoiding fingerprint plan.
    colocated: bool = False


# ---------------------------------------------------------------------------
# constructors for the common row checks
# ---------------------------------------------------------------------------


def vocab_check(
    check_id: str, col: str, vocab: Sequence[str], nullable: bool = False
) -> RowCheck:
    """Closed-vocabulary membership (reference Literal/enum checks)."""
    return RowCheck(
        check_id=check_id,
        description=f"{col} in {list(vocab)}",
        predicate=F.col(col).isin(list(vocab)),
        detail=F.format_string(f"%s not in {list(vocab)}", F.col(col)),
        null_ok=nullable,
    )


def format_check(check_id: str, col: str, pattern: str) -> RowCheck:
    """Regex format check (reference id-format rules,
    sample/datamodel.py:245-275)."""
    return RowCheck(
        check_id=check_id,
        description=f"{col} rlike {pattern}",
        predicate=F.col(col).rlike(pattern),
        detail=F.format_string(f"%s !~ {pattern}", F.col(col)),
    )


def not_null_check(check_id: str, col: str) -> RowCheck:
    return RowCheck(
        check_id=check_id,
        description=f"{col} is not null",
        predicate=F.col(col).isNotNull(),
        detail=F.lit(f"{col} is null"),
    )


def range_check(
    check_id: str, col: str, lo=None, hi=None, null_ok: bool = True
) -> RowCheck:
    """Bounds/sanity check (reference lon/lat bounds, stac.py:58-68)."""
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(col) >= F.lit(lo))
    if hi is not None:
        pred = pred & (F.col(col) <= F.lit(hi))
    return RowCheck(
        check_id=check_id,
        description=f"{col} in [{lo}, {hi}]",
        predicate=pred,
        detail=F.format_string(f"{col}=%s out of [{lo},{hi}]", F.col(col)),
        null_ok=null_ok,
    )


def embedding_checks(
    col: str,
    dim: int,
    norm_lo: float | None = None,
    norm_hi: float | None = None,
    prefix: str = "emb",
) -> list[RowCheck]:
    """Per-row sanity battery for an embedding column (``array<float>`` /
    ``array<double>``) — the vector counterpart of :func:`range_check`:

    * ``{prefix}_not_null`` — the vector exists;
    * ``{prefix}_dim``      — exactly ``dim`` elements (a truncated or
      padded vector poisons every downstream dot product silently);
    * ``{prefix}_finite``   — no NULL/NaN/Inf element (one NaN makes
      cosine NaN, one NULL element nulls every dot product, and both make
      ANN buckets garbage);
    * ``{prefix}_norm``     — L2 norm within [norm_lo, norm_hi] (only when
      bounds are given; catches unnormalized or exploded vectors).

    All pure JVM higher-order expressions (exists / aggregate fold), so
    they compile into the engine's shared zero-shuffle row pass like any
    other RowCheck. The norm fold runs in float64 in array order, so an
    independent engine reproduces the verdict bit-for-bit. NULL vectors
    fail only ``{prefix}_not_null`` (the others are ``null_ok``); a NaN
    norm fails the norm bounds (NaN comparisons are falsy, fail-closed)."""
    c = F.col(col)
    checks = [
        RowCheck(
            check_id=f"{prefix}_not_null",
            description=f"{col} present",
            predicate=c.isNotNull(),
            detail=F.lit("embedding is null"),
        ),
        RowCheck(
            check_id=f"{prefix}_dim",
            description=f"{col} has exactly {dim} elements",
            # size(NULL) is -1 with ANSI off, which would defeat null_ok;
            # gate on isNotNull so a NULL vector yields a NULL predicate
            predicate=F.when(c.isNotNull(), F.size(c) == dim),
            detail=F.format_string(f"dim=%s != {dim}",
                                   F.size(c).cast("string")),
            null_ok=True,
        ),
        RowCheck(
            check_id=f"{prefix}_finite",
            description=f"{col} has no NULL/NaN/Inf element",
            # the lambda returns TRUE for a NULL element (isNull first), so
            # exists() can never silently NULL-out on a bad element
            predicate=~F.exists(
                c,
                lambda x: x.isNull()
                | F.isnan(x.cast("double"))
                | (F.abs(x.cast("double")) == F.lit(float("inf"))),
            ),
            detail=F.lit("non-finite element"),
            null_ok=True,
        ),
    ]
    if norm_lo is not None or norm_hi is not None:
        sq = F.aggregate(
            c,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
        norm = F.sqrt(sq)
        pred = F.lit(True)
        if norm_lo is not None:
            pred = pred & (norm >= F.lit(float(norm_lo)))
        if norm_hi is not None:
            pred = pred & (norm <= F.lit(float(norm_hi)))
        checks.append(
            RowCheck(
                check_id=f"{prefix}_norm",
                description=f"{col} L2 norm in [{norm_lo}, {norm_hi}]",
                predicate=pred,
                detail=F.lit("norm out of bounds"),
                null_ok=True,
            )
        )
    return checks


# ---------------------------------------------------------------------------
# violation rows: every pass (batch engine, drift judges, streaming row
# pass) builds its output through these helpers
# ---------------------------------------------------------------------------

#: column order of a violation row
VIOLATION_COLS = ("part", "check_id", "conv_id", "turn_idx", "detail")


def failed_check(
    check_id: str, bad: Column, detail: Column, *extra: Column
) -> Column:
    """One rule's failed-check struct on one row: ``(check_id, detail,
    *extra)`` where ``bad`` holds, NULL where it does not. ``extra`` are
    aliased fields a pass knows only per rule (an endpoint rule's own
    ``turn_idx``)."""
    return F.when(
        bad,
        F.struct(
            F.lit(check_id).alias("check_id"),
            detail.cast("string").alias("detail"),
            *extra,
        ),
    )


def explode_failures(
    frame: DataFrame, structs: Sequence[Column], *coords: Column | str
) -> DataFrame:
    """Project ``coords`` beside the array_compact of the failed-check
    ``structs``, drop the rows where nothing failed, and explode one row
    per failed check: ``(*coords, f)``, with the struct as ``f``."""
    fails = frame.select(
        *coords, F.array_compact(F.array(*structs)).alias("fails")
    ).filter(F.size("fails") > 0)
    return fails.select("*", F.explode("fails").alias("f")).drop("fails")


def violation_rows(
    frame: DataFrame,
    check_id: str | Column,
    detail: Column,
    part: Column | str = "part",
    conv: Column | None = None,
    turn: Column | None = None,
) -> DataFrame:
    """One violation row per ``frame`` row, typed and ordered as
    :data:`VIOLATION_COLS`; a coordinate the pass has none of
    (partition-grain drift and health rows) is NULL."""
    null = F.lit(None)
    return frame.select(
        (F.col(part) if isinstance(part, str) else part)
        .cast("string")
        .alias("part"),
        (F.lit(check_id) if isinstance(check_id, str) else check_id).alias(
            "check_id"
        ),
        (null if conv is None else conv).cast("string").alias("conv_id"),
        (null if turn is None else turn).cast("int").alias("turn_idx"),
        detail.cast("string").alias("detail"),
    )


def apply_row_checks(
    df: DataFrame, checks: Sequence[RowCheck], id_cols: Sequence[Column | str]
) -> DataFrame:
    """THE row pass — the batch engine's, the stream's, and the one for
    tables with no partition/conversation shape (an embeddings table keyed
    by vec_id). A cheap codegen'd OR-chain prefilter narrows to the
    violating sliver first (and is scan-pushdown-eligible), so struct
    allocation and detail formatting never touch passing rows; then one
    shuffle-free projection of failed-check structs, exploded to
    ``(*id_cols, check_id, detail)``. ``id_cols`` are names or aliased
    columns."""
    any_bad = F.lit(False)
    for c in checks:
        any_bad = any_bad | ~c.holds()
    structs = [failed_check(c.check_id, ~c.holds(), c.detail_col()) for c in checks]
    rows = explode_failures(df.filter(any_bad), structs, *id_cols)
    return rows.select(*rows.columns[:-1], "f.check_id", "f.detail")


# ---------------------------------------------------------------------------
# the default transcript battery (BASELINE.json north_star)
# ---------------------------------------------------------------------------

#: the transcript role protocol (datagen invariant, and the usual agent-
#: transcript shape): a conversation OPENS with `system`, and `system`
#: never reappears mid-conversation. Any out-of-vocabulary role fails both
#: sides of the pair test by construction.
ROLE_FIRST: tuple[str, ...] = ("system",)
ROLE_TRANSITIONS: tuple[tuple[str, str], ...] = tuple(
    (a, b) for a in ROLE_VOCAB for b in ROLE_VOCAB if b != "system"
)


#: values a conversation may CLOSE with: any in-vocabulary role except the
#: opening `system` sentinel (a conversation whose final turn is a corrupted
#: or out-of-vocabulary role fails this rule at its max turn_idx)
ROLE_LAST: tuple[str, ...] = tuple(r for r in ROLE_VOCAB if r != "system")


def role_sequence_check(
    check_id: str = "role_transitions",
    allowed: Sequence[tuple[str, str]] | None = ROLE_TRANSITIONS,
    first: Sequence[str] | None = ROLE_FIRST,
    last: Sequence[str] | None = None,
) -> SequenceCheck:
    """The role-protocol grammar as a :class:`SequenceCheck` (opt-in: pass
    it alongside :func:`transcript_checks`). ``allowed=None`` drops the
    adjacent-pair rule, leaving an endpoint-only grammar (e.g. a pure
    closing-value check with ``last=ROLE_LAST``)."""
    return SequenceCheck(
        check_id=check_id,
        description="role transitions follow the conversation protocol",
        value_col="role",
        allowed=tuple(allowed) if allowed is not None else None,
        first=tuple(first) if first is not None else None,
        last=tuple(last) if last is not None else None,
    )


def transcript_checks(
    reference: DataFrame | None = None,
    drift_baseline: Sequence[float] | None = None,
    drift_method: str = "approx",
    colocated: bool = False,
) -> list[Check]:
    """The constraint battery for the transcript table, one per reference
    validator family (SURVEY.md §2.9):

      V1 uniqueness, V5 vocab/referential, F3/V10 id format, V9/W4 monotone
      ordering, V6 contiguity (PIT analog), V10 ranges/nulls, drift,
      per-turn text equality (input_hint).
    """
    checks: list[Check] = [
        UniquenessCheck(
            check_id="unique_turn",
            description="(conv_id, turn_idx) unique",
        ),
        format_check("conv_id_format", "conv_id", CONV_ID_PATTERN),
        vocab_check("role_vocab", "role", ROLE_VOCAB),
        vocab_check("tool_vocab", "tool", TOOL_VOCAB, nullable=True),
        RowCheck(
            check_id="tool_iff_role",
            description="tool set iff role='tool'",
            predicate=(F.col("role") == "tool") == F.col("tool").isNotNull(),
            detail=F.format_string("role=%s tool=%s", F.col("role"), F.col("tool")),
        ),
        not_null_check("text_not_null", "text"),
        range_check("turn_idx_nonneg", "turn_idx", lo=0, null_ok=False),
        not_null_check("ts_not_null", "ts"),
        MonotoneCheck(
            check_id="ts_monotone",
            description="ts non-decreasing per conversation by turn_idx",
            value_col="ts",
        ),
        ContiguityCheck(
            check_id="turn_contiguous",
            description="turn_idx is exactly 0..n-1 per conversation",
            idx_col="turn_idx",
        ),
        DriftCheck(
            check_id="text_len_drift",
            description="text length distribution vs baseline quantiles",
            value_expr="length(text)",
            baseline_quantiles=list(drift_baseline) if drift_baseline else None,
            method=drift_method,
        ),
    ]
    if reference is not None:
        checks.append(
            TextEqualityCheck(
                check_id="text_equality",
                description="per-turn text equals clean reference",
                reference=reference,
                colocated=colocated,
            )
        )
    return checks
