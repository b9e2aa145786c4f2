"""Run-length and periodic-loop (gaps-and-islands) analysis — stuck-value
and ping-pong detection over ordered groups.

The window family so far covers ordering (lag monotone), adjacent steps
(GapCheck), and time-frame rates (rolling.py RANGE windows). The missing
member is the ISLAND: a maximal block of consecutive rows (in the
group's order) where every value null-safe equals the value ``period``
rows earlier. Period 1 is the RUN — the signature of a stuck sensor, a
looping agent repeating the same tool call, a retry storm re-emitting
one response, or a template generator pinned to one output. Period 2+
is the LOOP — an agent alternating between two tools (``a b a b``), the
retry pair, a template rotation. Both are invisible to every rule above
(each adjacent pair is "equal", or each differs by a legal step).

One kernel, :func:`_islands`, serves every member here and the engine's
RunLengthCheck/PeriodicLoopCheck pass: a run is the loop with
``period=1``. The streaming twin (stream_periodic_violations) replays
the same identity per key in numpy.

Plan shape — the scale contract:

  * ONE shuffle on ``keys`` and ONE sort on ``order_cols``: two stacked
    window selects over the SAME window spec — ``row_number`` and the
    continuing indicator ``_c = rn > p AND v <=> lag(v, p)`` first, then
    ``_reset`` = running ``max(rn)`` over the NON-continuing rows — so
    Catalyst plans one Exchange, one Sort, and two Window operators:
    never a second exchange and never a self-join (locked by
    tests/test_plan_assertions.py). The ``rn > p`` guard keeps the
    out-of-range NULLs of ``lag`` from matching real NULLs.
  * stretch position = rn - _reset + p — the classic gaps-and-islands
    identity, O(1) state per row inside the frame. At p = 1, NOT ``_c``
    is exactly the run-start marker and the position is the run
    position.
  * Only OVERFLOW rows fire in :func:`stuck_runs` (position > max_run)
    and :func:`periodic_overflow` (position > max_reps * period), so
    dropping exactly the flagged rows satisfies the rule — the same
    actionable-violation contract as the engine's RateCheck.

Determinism: islands are defined by the ORDER of ``order_cols``; pass a
tie-free ordering (the transcript battery orders by turn_idx, whose
uniqueness is itself checked; event-stream callers add a unique id as a
tiebreaker). NULL values form islands too — NULL is null-safe equal to
NULL, so a stuck-null column is reported like any other stuck value
(whether NULL is also a row-pass problem is a separate check).

Skew: one hot key serializes its own sort, exactly like every ordered
pass in the engine; the mitigations are the same (finer keys, or the
engine's chunked path — a run crossing a chunk boundary is re-spliced by
the boundary join, not implemented here because run rules bind to
conversation-sized groups).

Beyond-reference training-pipeline/validation operator (SURVEY.md §6);
the reference validator has no run-length surface. DuckDB reproduces the
result bit-for-bit with the same stacked windows (IS DISTINCT FROM for
the null-safe start marker).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_INTERNAL = {"_rn", "_c", "_reset"}


def _guard(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    caller: str,
    outputs: set[str],
    value_col: str | None = None,
    period: int = 1,
) -> None:
    """The family's argument checks, in one order: keys, period, value
    column distinct from keys/order (when the caller projects them side
    by side), then internal/output name collisions."""
    if not keys or not order_cols:
        raise ValueError(
            f"{caller} needs at least one key and one order column"
        )
    if period < 1:
        raise ValueError("period must be >= 1")
    if value_col is not None and value_col in set(keys) | set(order_cols):
        raise ValueError(
            "value_col must be distinct from keys and order_cols"
        )
    clash = (_INTERNAL | outputs) & set(df.columns)
    if clash:
        raise ValueError(
            f"columns {sorted(clash)} collide with {caller} "
            "internals/outputs; rename them first"
        )


def _islands(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    rules: Mapping[str, tuple[str, int]],
    carry: Sequence[str | Column],
) -> DataFrame:
    """The islands kernel: ``carry``, ``_rn`` (row number under
    ``order_cols`` within ``keys``) and, per rule ``tag -> (value_col,
    period)``, ``_c{tag}`` (the value null-safe equals the one
    ``period`` rows back) and ``_reset{tag}`` (row number of the latest
    non-continuing row, so a row's stretch position is
    ``_rn - _reset + period``). Two stacked Window selects on one
    (keys, order) spec: one exchange, one sort."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    rn = F.row_number().over(w)
    marked = df.select(
        *carry,
        rn.alias("_rn"),
        *[
            (
                (rn > F.lit(int(p)))
                & F.col(v).eqNullSafe(F.lag(F.col(v), int(p)).over(w))
            ).alias(f"_c{tag}")
            for tag, (v, p) in rules.items()
        ],
    )
    # the running max orders by the SAME order columns (not by _rn, which
    # is order-equivalent but expression-different — ordering by
    # order_cols lets Catalyst drop the second Sort entirely)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return marked.select(
        "*",
        *[
            F.max(F.when(~F.col(f"_c{tag}"), F.col("_rn")))
            .over(wc)
            .alias(f"_reset{tag}")
            for tag in rules
        ],
    )


def run_positions(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "run_pos",
) -> DataFrame:
    """Every input row plus ``out_col`` = its 1-based position inside the
    maximal run of null-safe-equal ``value_col`` values within its key
    group under ``order_cols`` order. One shuffle, one sort (two stacked
    Window operators on one exchange)."""
    _guard(df, keys, order_cols, "run_positions", {out_col})
    marked = _islands(
        df, keys, order_cols, {"": (value_col, 1)}, df.columns
    )
    return marked.select(
        *df.columns, (F.col("_rn") - F.col("_reset") + F.lit(1)).alias(out_col)
    )


def run_lengths(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "run_len",
) -> DataFrame:
    """One row per RUN: the key columns, the order columns of the run's
    STARTING row (the deterministic attribution convention — order is
    non-decreasing within a run, so the start is the min order tuple),
    the run's value, and ``out_col`` = the run's total length. The
    run-GRAIN view of :func:`run_positions` — feed it to the categorical
    drift machinery for repetitiveness-texture drift (how run lengths
    distribute), or aggregate it for a stuck-value profile.

    Plan: the same one-exchange two-window pass as run_positions, then
    ONE aggregation grouped by (keys, run start) — the grouping keys
    contain the window partition keys, so Catalyst reuses the exchange
    (no second shuffle) and the partial aggregation combines map-side.
    The value column aggregates with ``min`` — every member of a run is
    null-safe equal, so min IS the value (NULL for a NULL run)."""
    _guard(
        df, keys, order_cols, "run_lengths", {"_sk", out_col},
        value_col=value_col,
    )
    marked = _islands(
        df, keys, order_cols, {"": (value_col, 1)},
        [*keys, *order_cols, value_col],
    )
    return (
        marked.groupBy(*keys, "_reset")
        .agg(
            F.count(F.lit(1)).alias(out_col),
            F.min(F.struct(*order_cols)).alias("_sk"),
            F.min(value_col).alias(value_col),
        )
        .select(
            *keys,
            *[F.col(f"_sk.{c}").alias(c) for c in order_cols],
            value_col,
            out_col,
        )
    )


def periodic_runs(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    period: int,
    min_reps: int = 2,
    out_len: str = "stretch_len",
    out_reps: str = "n_reps",
) -> DataFrame:
    """One row per maximal PERIOD-``period`` stretch: a block of
    consecutive rows (in the group's order) where every value null-safe
    equals the value ``period`` rows earlier. Period 1 is the plain run
    (:func:`run_lengths`); period 2+ catches what run rules cannot see —
    the ping-pong agent alternating between two tools (``a b a b a b``),
    the retry pair, the template cycling through a fixed rotation. Every
    adjacent pair differs, so stuck-value, gap, and monotone rules are
    all blind to it; the transition MATRIX (a10) sees the marginal
    ``a->b``/``b->a`` mass but not that one group loops contiguously.

    Output: the key columns, the order columns of the stretch's FIRST
    row (the row ``period`` before the first continuing row — reached by
    carrying ``lag(struct(order), period)`` through the island
    aggregation with ``min_by``), a ``period`` literal, ``out_len`` =
    total rows in the stretch (continuing rows + the seed motif), and
    ``out_reps`` = ``out_len // period`` full motif repetitions. Only
    stretches with at least ``min_reps`` repetitions are returned.

    Plan: the module's two stacked Window selects over one (keys, order)
    spec, then a groupBy of the continuing rows by (keys, ``_reset``)
    whose keys contain the partition keys, so Catalyst reuses the
    exchange for the island aggregation (locked by the plan test).
    """
    if min_reps < 1:
        raise ValueError("min_reps must be >= 1")
    _guard(
        df, keys, order_cols, "periodic_runs",
        {"_ps", out_len, out_reps, "period"},
        value_col=value_col, period=period,
    )
    # order tuple of the row that STARTS the periodic stretch
    start_row = F.lag(F.struct(*order_cols), period).over(
        Window.partitionBy(*keys).orderBy(*order_cols)
    )
    marked = _islands(
        df, keys, order_cols, {"": (value_col, period)},
        [*keys, *order_cols, start_row.alias("_ps")],
    )
    stretch = F.col("_clen") + F.lit(period)
    return (
        marked.filter(F.col("_c"))
        .groupBy(*keys, "_reset")
        .agg(
            F.count(F.lit(1)).alias("_clen"),
            F.min_by("_ps", "_rn").alias("_s0"),
        )
        .select(
            *keys,
            *[F.col(f"_s0.{c}").alias(c) for c in order_cols],
            F.lit(period).alias("period"),
            stretch.alias(out_len),
            F.floor(stretch / F.lit(period)).cast("long").alias(out_reps),
        )
        .filter(F.col(out_reps) >= F.lit(int(min_reps)))
    )


def periodic_overflow(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    period: int,
    max_reps: int,
) -> DataFrame:
    """Per-row overflow twin of :func:`periodic_runs` — the loop family's
    :func:`stuck_runs`: every row whose 1-based position in its
    period-``period`` stretch (``_rn - _reset + period``) exceeds
    ``max_reps * period``, so dropping exactly the returned rows leaves
    at most ``max_reps`` full motif repetitions (the engine
    PeriodicLoopCheck contract). Output: the key columns, the order
    columns, the row's value, and ``stretch_pos``. Same ONE-exchange
    two-window plan as the summary variant."""
    if max_reps < 1:
        raise ValueError("max_reps must be >= 1")
    _guard(
        df, keys, order_cols, "periodic_overflow", {"stretch_pos"},
        value_col=value_col, period=period,
    )
    marked = _islands(
        df, keys, order_cols, {"": (value_col, period)},
        [*keys, *order_cols, value_col],
    )
    stretch = (F.col("_rn") - F.col("_reset") + F.lit(period)).cast("long")
    return marked.filter(
        F.col("_c") & (stretch > F.lit(int(max_reps) * int(period)))
    ).select(*keys, *order_cols, value_col, stretch.alias("stretch_pos"))


def stuck_runs(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    max_run: int,
) -> DataFrame:
    """Overflow rows of runs longer than ``max_run``: every row at run
    position > ``max_run`` (so the first ``max_run`` rows of even a
    violating run are kept — dropping exactly the returned rows
    satisfies the rule). Output: the key columns, the order columns, the
    stuck value, and ``run_pos``."""
    if max_run < 1:
        raise ValueError("max_run must be >= 1")
    pos = run_positions(df, keys, order_cols, value_col)
    return pos.filter(F.col("run_pos") > F.lit(int(max_run))).select(
        *keys, *order_cols, value_col, "run_pos"
    )
