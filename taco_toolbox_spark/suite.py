"""Declarative constraint suites: a JSON document → the engine battery.

The north-star contract ("evaluates declarative constraint predicates")
needs constraints a data owner can declare WITHOUT writing Spark code —
checked into the dataset repo next to the data, diffable, reviewable,
and replayable by any engine. This module is that surface: a plain JSON
suite is parsed into the exact `EngineConfig` + `Check` battery that
`engine.run_validation` compiles into its shared passes, so a declared
suite costs the same plan as the hand-built one (one row-pass
projection, one shared lag window, map-side-combinable aggregations —
nothing is interpreted per row at execution time; parsing happens once
on the driver).

Reference analog: the reference validator hard-codes its rule battery
per datamodel (sample/datamodel.py field validators, taco/datamodel.py
structural rules); the declarative form generalizes it the same way
`FunctionalDependencyCheck` generalizes field-consistency. The spec
grammar covers every check family the engine executes; arbitrary
row-level business rules ("a tool turn must name a tool") ride the
``row`` type as an ANSI-SQL boolean expression compiled through
`F.expr` — JVM-side, whole-stage-codegen'd, never a Python UDF.

Suite shape::

    {
      "engine": {"partition_col": "part", "group_col": "conv_id", ...},
      "checks": [
        {"type": "not_null", "id": "text_not_null", "col": "text"},
        {"type": "row", "id": "tool_iff_role", "null_ok": false,
         "predicate": "(role = 'tool') = (tool IS NOT NULL)"},
        {"type": "fd", "id": "tool_role", "determinant": ["tool"],
         "dependent": ["role"], "skip_null_determinant": true},
        ...
      ]
    }

Every entry is validated strictly: unknown ``type``, unknown keys
(typo safety — a misspelled field in a VALIDATION suite must fail
loudly, not silently relax the rule), duplicate ids, and malformed
values all raise ``SuiteError`` naming the offending entry. A parsed
:class:`Suite` carries its normalized spec (defaults resolved), so
``dump()`` round-trips bit-for-bit through ``parse_suite(dump())`` —
the audit trail of exactly which rules ran.

``text_equality`` needs a reference DataFrame at bind time (it cannot
live in JSON); declare it in the spec and pass ``reference=`` to the
parser. ``drift`` / ``cat_drift`` baselines may be inline (quantiles /
counts) or resolved by the engine from its ``baseline`` frame, same as
code-built checks.
"""

from __future__ import annotations

import json
import re
import typing
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checks.base import (
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
    format_check,
    not_null_check,
    range_check,
    vocab_check,
)
from .engine import EngineConfig


class SuiteError(ValueError):
    """A malformed suite document. Always names the offending entry."""


# keys every check entry may carry
_COMMON = {"type", "id", "description"}

# per-type extra keys (strict: anything else is a typo and raises)
_TYPE_KEYS: dict[str, set[str]] = {
    "not_null": {"col"},
    "format": {"col", "pattern"},
    "range": {"col", "min", "max", "null_ok"},
    "vocab": {"col", "allowed", "nullable"},
    "row": {"predicate", "detail", "null_ok"},
    "uniqueness": {"keys"},
    "fd": {"determinant", "dependent", "skip_null_determinant"},
    "monotone": {"col", "strict"},
    "gap": {"col", "max_step", "min_step"},
    "rate": {"col", "seconds", "max_events"},
    "runlength": {"col", "max_run"},
    "periodic": {"col", "period", "max_reps"},
    "contiguity": {"col"},
    "sequence": {"col", "allowed", "first", "last"},
    "drift": {"expr", "probes", "threshold", "method", "baseline_quantiles"},
    "cat_drift": {"col", "threshold", "baseline_counts"},
    "corr_drift": {"x", "y", "threshold", "baseline_corr"},
    "cond_drift": {"cond", "cat", "threshold", "baseline_counts"},
    "transition_drift": {
        "state", "seq", "order", "threshold", "boundaries", "baseline_counts",
    },
    "group_agg": {"aggs", "predicate", "detail"},
    "text_equality": {"text_col", "colocated"},
    "volume": {"k", "season", "history", "rel", "min_rows", "max_rows"},
    "completeness": {"col", "tol", "baseline_frac"},
    "cardinality": {"col", "k", "season", "history", "rel"},
}

_ENGINE_KEYS = {
    "partition_col",
    "group_col",
    "order_col",
    "key_cols",
    "persist_violations",
    "window_chunk_size",
    "concurrent_actions",
}


def _sql_expr(s: str, where: str, what: str):
    """``F.expr`` with EAGER syntax validation. pyspark 4 defers parsing
    to plan build, which would surface a typo'd suite predicate as an
    opaque failure at run time, far from the suite file — a validation
    engine must reject a bad rule at load. Syntax-only (no analysis:
    unknown columns are a bind-time concern the engine reports against
    the actual frame); the JVM parser handle is internal API, so its
    absence (e.g. Spark Connect) degrades gracefully to lazy parsing."""
    from pyspark.sql import SparkSession

    if not isinstance(s, str) or not s.strip():
        raise SuiteError(f"{where}: {what} must be a non-empty SQL string")
    spark = SparkSession.getActiveSession()
    try:
        parser = spark._jsparkSession.sessionState().sqlParser()
    except AttributeError:
        parser = None
    if parser is not None:
        try:
            parser.parseExpression(s)
        except Exception as e:
            first = str(e).splitlines()[0]
            raise SuiteError(
                f"{where}: unparseable {what} {s!r}: {first}"
            ) from None
    return F.expr(s)


def _require(entry: dict, where: str, *keys: str) -> None:
    for k in keys:
        if k not in entry:
            raise SuiteError(f"{where}: missing required key {k!r}")


def _str_list(entry: dict, where: str, key: str) -> list[str]:
    v = entry[key]
    if not isinstance(v, (list, tuple)) or not v or not all(
        isinstance(x, str) for x in v
    ):
        raise SuiteError(f"{where}: {key!r} must be a non-empty list of strings")
    return list(v)


def _float(entry: dict, where: str, key: str, default: float) -> float:
    """Defaulted float field under the SuiteError contract — a bare
    float('big') ValueError would escape the CLI's `except SuiteError`
    as a raw traceback with no entry name."""
    v = entry.get(key, default)
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise SuiteError(f"{where}: {key!r} must be a number, got {v!r}")
    return float(v)


def _float_list(entry: dict, where: str, key: str) -> list[float]:
    v = entry[key]
    if not isinstance(v, (list, tuple)) or not v or not all(
        isinstance(x, (int, float)) and not isinstance(x, bool) for x in v
    ):
        raise SuiteError(
            f"{where}: {key!r} must be a non-empty list of numbers"
        )
    return [float(x) for x in v]


def _build_check(entry: dict, where: str, reference: DataFrame | None, cfg):
    t = entry["type"]
    cid = entry["id"]
    desc = entry.get("description", "")
    if t == "not_null":
        _require(entry, where, "col")
        c = not_null_check(cid, entry["col"])
    elif t == "format":
        _require(entry, where, "col", "pattern")
        c = format_check(cid, entry["col"], entry["pattern"])
    elif t == "range":
        _require(entry, where, "col")
        if entry.get("min") is None and entry.get("max") is None:
            raise SuiteError(f"{where}: range needs 'min' and/or 'max'")
        c = range_check(
            cid,
            entry["col"],
            lo=entry.get("min"),
            hi=entry.get("max"),
            null_ok=entry.get("null_ok", True),
        )
    elif t == "vocab":
        _require(entry, where, "col", "allowed")
        c = vocab_check(
            cid,
            entry["col"],
            _str_list(entry, where, "allowed"),
            nullable=entry.get("nullable", False),
        )
    elif t == "row":
        _require(entry, where, "predicate")
        # ANSI-SQL boolean expression — compiled once through the parser
        # into the same JVM Column any code-built RowCheck carries.
        # Arbitrary conditional business rules live here
        # ("role != 'tool' OR tool IS NOT NULL").
        pred = _sql_expr(entry["predicate"], where, "predicate")
        det = (
            _sql_expr(entry["detail"], where, "detail").cast("string")
            if entry.get("detail")
            else None
        )
        c = RowCheck(
            check_id=cid,
            predicate=pred,
            detail=det,
            null_ok=entry.get("null_ok", False),
        )
    elif t == "uniqueness":
        # presence-test, not truthiness: a declared-but-empty "keys": []
        # must fail loudly (in _str_list), never silently relax to the
        # engine default key set
        c = UniquenessCheck(
            check_id=cid,
            keys=(
                tuple(_str_list(entry, where, "keys"))
                if "keys" in entry
                else None
            ),
        )
    elif t == "fd":
        _require(entry, where, "determinant", "dependent")
        det = _str_list(entry, where, "determinant")
        dep = _str_list(entry, where, "dependent")
        # parse-time gate for what fd_violations would reject mid-battery
        # (overlap, partition-col membership) — the loader exists so a
        # bad suite fails at the file, not deep inside the run
        from .checks.fd import validate_fd_args

        try:
            validate_fd_args(det, dep, cfg.partition_col)
        except ValueError as e:
            raise SuiteError(f"{where}: {e}") from None
        c = FunctionalDependencyCheck(
            check_id=cid,
            determinant=tuple(det),
            dependent=tuple(dep),
            skip_null_determinant=entry.get("skip_null_determinant", False),
        )
    elif t == "monotone":
        _require(entry, where, "col")
        c = MonotoneCheck(
            check_id=cid,
            value_col=entry["col"],
            strict=entry.get("strict", False),
        )
    elif t == "gap":
        _require(entry, where, "col")
        try:
            c = GapCheck(
                check_id=cid,
                value_col=entry["col"],
                max_step=entry.get("max_step"),
                min_step=entry.get("min_step"),
            )
        except ValueError as e:
            raise SuiteError(f"{where}: {e}") from None
    elif t == "rate":
        _require(entry, where, "col", "max_events")
        for k in ("seconds", "max_events"):
            v = entry.get(k)
            if v is not None and (isinstance(v, bool) or not isinstance(v, int)):
                raise SuiteError(
                    f"{where}: '{k}' must be an integer, got {v!r} — a "
                    "fractional window would silently truncate"
                )
        try:
            c = RateCheck(
                check_id=cid,
                value_col=entry["col"],
                seconds=int(entry.get("seconds", 3600)),
                max_events=int(entry["max_events"]),
            )
        except ValueError as e:
            raise SuiteError(f"{where}: {e}") from None
    elif t == "runlength":
        _require(entry, where, "col", "max_run")
        v = entry["max_run"]
        if isinstance(v, bool) or not isinstance(v, int):
            raise SuiteError(
                f"{where}: 'max_run' must be an integer, got {v!r}"
            )
        try:
            c = RunLengthCheck(
                check_id=cid,
                value_col=entry["col"],
                max_run=int(v),
            )
        except ValueError as e:
            raise SuiteError(f"{where}: {e}") from None
    elif t == "periodic":
        _require(entry, where, "col")
        for k in ("period", "max_reps"):
            v = entry.get(k, 2)
            if isinstance(v, bool) or not isinstance(v, int):
                raise SuiteError(
                    f"{where}: {k!r} must be an integer, got {v!r}"
                )
        try:
            c = PeriodicLoopCheck(
                check_id=cid,
                value_col=entry["col"],
                period=int(entry.get("period", 2)),
                max_reps=int(entry.get("max_reps", 2)),
            )
        except ValueError as e:
            raise SuiteError(f"{where}: {e}") from None
    elif t == "contiguity":
        _require(entry, where, "col")
        c = ContiguityCheck(check_id=cid, idx_col=entry["col"])
    elif t == "sequence":
        _require(entry, where, "col")
        allowed = entry.get("allowed")
        if allowed is not None:
            if not all(
                isinstance(p, (list, tuple)) and len(p) == 2 for p in allowed
            ):
                raise SuiteError(
                    f"{where}: sequence 'allowed' must be a list of "
                    "[prev, cur] pairs"
                )
            allowed = tuple((str(a), str(b)) for a, b in allowed)
        # 'first'/'last' must be LISTS of values: tuple("system") would
        # silently char-split a JSON string into ('s','y','s','t','e','m')
        # and flag every legitimately-opening conversation
        first = (
            tuple(_str_list(entry, where, "first"))
            if "first" in entry
            else None
        )
        last = (
            tuple(_str_list(entry, where, "last"))
            if "last" in entry
            else None
        )
        try:
            c = SequenceCheck(
                check_id=cid,
                value_col=entry["col"],
                allowed=allowed,
                first=first,
                last=last,
            )
        except ValueError as e:
            raise SuiteError(f"{where}: {e}") from None
    elif t == "drift":
        _require(entry, where, "expr")
        method = entry.get("method", "approx")
        if method not in ("approx", "tdigest", "exact"):
            raise SuiteError(
                f"{where}: drift method must be approx|tdigest|exact "
                f"(tdigest is an alias of approx), got {method!r}"
            )
        _sql_expr(entry["expr"], where, "expr")  # eager syntax gate only
        bq = (
            _float_list(entry, where, "baseline_quantiles")
            if entry.get("baseline_quantiles") is not None
            else None
        )
        probes = (
            tuple(_float_list(entry, where, "probes"))
            if "probes" in entry
            else (0.1, 0.25, 0.5, 0.75, 0.9)
        )
        c = DriftCheck(
            check_id=cid,
            value_expr=entry["expr"],
            probes=probes,
            threshold=_float(entry, where, "threshold", 0.25),
            baseline_quantiles=bq,
            method=method,
        )
    elif t == "cat_drift":
        _require(entry, where, "col")
        bc = entry.get("baseline_counts")
        if bc is not None and not isinstance(bc, dict):
            raise SuiteError(
                f"{where}: 'baseline_counts' must be an object of "
                "category -> count"
            )
        c = CategoricalDriftCheck(
            check_id=cid,
            cat_col=entry["col"],
            threshold=_float(entry, where, "threshold", 0.25),
            baseline_counts=dict(bc) if bc is not None else None,
        )
    elif t == "corr_drift":
        _require(entry, where, "x", "y")
        _sql_expr(entry["x"], where, "x")  # eager syntax gate only
        _sql_expr(entry["y"], where, "y")
        bc = entry.get("baseline_corr")
        if bc is not None and (
            isinstance(bc, bool) or not isinstance(bc, (int, float))
        ):
            raise SuiteError(
                f"{where}: 'baseline_corr' must be a number, got {bc!r}"
            )
        c = CorrelationDriftCheck(
            check_id=cid,
            x_expr=entry["x"],
            y_expr=entry["y"],
            threshold=_float(entry, where, "threshold", 0.25),
            baseline_corr=float(bc) if bc is not None else None,
        )
    elif t == "cond_drift":
        _require(entry, where, "cond", "cat")
        _sql_expr(entry["cond"], where, "cond")  # eager syntax gate only
        _sql_expr(entry["cat"], where, "cat")
        bc = entry.get("baseline_counts")
        if bc is not None:
            # JSON keys can't be tuples: nested {cond: {cat: count}}
            if not isinstance(bc, dict) or not all(
                isinstance(v, dict) for v in bc.values()
            ):
                raise SuiteError(
                    f"{where}: 'baseline_counts' must be a nested object "
                    "of cond -> {category -> count}"
                )
            bc = {
                (str(k), str(c2)): int(n)
                for k, inner in bc.items()
                for c2, n in inner.items()
            }
        c = ConditionalDriftCheck(
            check_id=cid,
            cond_expr=entry["cond"],
            cat_expr=entry["cat"],
            threshold=_float(entry, where, "threshold", 0.25),
            baseline_counts=bc,
        )
    elif t == "transition_drift":
        _require(entry, where, "state")
        _sql_expr(entry["state"], where, "state")  # eager syntax gate only
        bc = entry.get("baseline_counts")
        if bc is not None:
            # JSON keys can't be tuples: nested {from_state: {to_state: n}}
            if not isinstance(bc, dict) or not all(
                isinstance(v, dict) for v in bc.values()
            ):
                raise SuiteError(
                    f"{where}: 'baseline_counts' must be a nested object "
                    "of from_state -> {to_state -> count}"
                )
            bc = {
                (str(k), str(c2)): int(n)
                for k, inner in bc.items()
                for c2, n in inner.items()
            }
        boundaries = entry.get("boundaries", True)
        if not isinstance(boundaries, bool):
            raise SuiteError(
                f"{where}: 'boundaries' must be a boolean, "
                f"got {boundaries!r}"
            )
        order = (
            tuple(_str_list(entry, where, "order"))
            if entry.get("order") is not None
            else ()
        )
        c = TransitionDriftCheck(
            check_id=cid,
            seq_col=str(entry.get("seq") or ""),
            order_cols=order,
            state_expr=entry["state"],
            threshold=_float(entry, where, "threshold", 0.25),
            include_boundaries=boundaries,
            baseline_counts=bc,
        )
    elif t == "volume":
        season = entry.get("season")
        if season is not None:
            _sql_expr(season, where, "season")
        hist = entry.get("history")
        if hist is not None:
            hist = [int(x) for x in _float_list(entry, where, "history")]
        rel = entry.get("rel")
        bounds = {}
        for bk in ("min_rows", "max_rows"):
            bv = entry.get(bk)
            if bv is not None:
                if isinstance(bv, bool) or not isinstance(bv, int):
                    raise SuiteError(
                        f"{where}: {bk!r} must be an integer, got {bv!r}"
                    )
                bounds[bk] = bv
        try:
            c = VolumeAnomalyCheck(
                check_id=cid,
                k=_float(entry, where, "k", 3.0),
                season=season,
                history_counts=hist,
                rel=None if rel is None else _float(entry, where, "rel", 0.5),
                **bounds,
            )
        except ValueError as e:
            raise SuiteError(f"{where}: {e}") from None
    elif t == "completeness":
        _require(entry, where, "col")
        bf = entry.get("baseline_frac")
        if bf is not None and (
            isinstance(bf, bool) or not isinstance(bf, (int, float))
        ):
            raise SuiteError(
                f"{where}: 'baseline_frac' must be a number, got {bf!r}"
            )
        _sql_expr(entry["col"], where, "col")  # parse-lint the expression
        try:
            c = CompletenessDriftCheck(
                check_id=cid,
                value_col=entry["col"],
                tol=_float(entry, where, "tol", 0.05),
                baseline_frac=None if bf is None else float(bf),
            )
        except ValueError as e:
            raise SuiteError(f"{where}: {e}") from None
    elif t == "cardinality":
        _require(entry, where, "col")
        _sql_expr(entry["col"], where, "col")
        season = entry.get("season")
        if season is not None:
            _sql_expr(season, where, "season")
        hist = entry.get("history")
        if hist is not None:
            hist = [int(x) for x in _float_list(entry, where, "history")]
        rel = entry.get("rel")
        try:
            c = CardinalityAnomalyCheck(
                check_id=cid,
                value_col=entry["col"],
                k=_float(entry, where, "k", 3.0),
                season=season,
                history_counts=hist,
                rel=None if rel is None else _float(entry, where, "rel", 0.5),
            )
        except ValueError as e:
            raise SuiteError(f"{where}: {e}") from None
    elif t == "group_agg":
        _require(entry, where, "aggs", "predicate")
        aggs = _str_list(entry, where, "aggs")
        c = GroupAggCheck(
            check_id=cid,
            aggs=[_sql_expr(a, where, "agg") for a in aggs],
            predicate=_sql_expr(entry["predicate"], where, "predicate"),
            detail=(
                _sql_expr(entry["detail"], where, "detail").cast("string")
                if entry.get("detail")
                else None
            ),
        )
    elif t == "text_equality":
        if reference is None:
            raise SuiteError(
                f"{where}: text_equality requires parse_suite(...,"
                " reference=<clean DataFrame>) at bind time"
            )
        c = TextEqualityCheck(
            check_id=cid,
            reference=reference,
            text_col=entry.get("text_col", "text"),
            colocated=entry.get("colocated", False),
        )
    else:  # pragma: no cover - guarded by caller
        raise SuiteError(f"{where}: unknown type {t!r}")
    c.description = desc or c.description
    return c


#: per-type fields whose library defaults are materialized back into the
#: stored spec, so dump() really is "the rules that ran, defaults
#: resolved" — an archived dump replays identically even if a library
#: default changes later
_RESOLVED_ATTRS = {
    "drift": {"method": "method", "threshold": "threshold",
              "probes": "probes"},
    "cat_drift": {"threshold": "threshold"},
    "corr_drift": {"threshold": "threshold"},
    "cond_drift": {"threshold": "threshold"},
    "transition_drift": {"threshold": "threshold",
                         "boundaries": "include_boundaries"},
    "row": {"null_ok": "null_ok"},
    "fd": {"skip_null_determinant": "skip_null_determinant"},
    "monotone": {"strict": "strict"},
    "rate": {"seconds": "seconds"},
    "text_equality": {"text_col": "text_col", "colocated": "colocated"},
    "volume": {"k": "k"},
    "completeness": {"tol": "tol"},
    "cardinality": {"k": "k"},
}


def _resolved_entry(entry: dict, check) -> dict:
    out = dict(entry)
    for key, attr in _RESOLVED_ATTRS.get(entry["type"], {}).items():
        if key not in out:
            v = getattr(check, attr, None)
            out[key] = list(v) if isinstance(v, tuple) else v
    return out


@dataclass
class Suite:
    """A parsed suite: the engine config + battery, plus the normalized
    spec it came from (``dump()`` returns it — the audit trail of exactly
    which rules ran, defaults resolved)."""

    cfg: EngineConfig
    checks: list[Check] = field(default_factory=list)
    spec: dict = field(default_factory=dict)

    def dump(self) -> dict:
        return json.loads(json.dumps(self.spec))  # deep copy, JSON-clean

    def run(self, df: DataFrame, baseline: DataFrame | None = None):
        """`engine.run_validation` with this suite's config + battery."""
        from .engine import run_validation

        return run_validation(df, self.checks, self.cfg, baseline=baseline)


def parse_suite(spec: dict, reference: DataFrame | None = None) -> Suite:
    """Validate + compile a suite document. Strict on unknown keys and
    duplicate ids; raises :class:`SuiteError` naming the offending entry."""
    if not isinstance(spec, dict):
        raise SuiteError(f"suite must be a JSON object, got {type(spec).__name__}")
    unknown_top = set(spec) - {"engine", "checks"}
    if unknown_top:
        raise SuiteError(f"unknown top-level keys: {sorted(unknown_top)}")
    eng = spec.get("engine", {})
    if not isinstance(eng, dict):
        raise SuiteError("'engine' must be an object")
    bad = set(eng) - _ENGINE_KEYS
    if bad:
        raise SuiteError(f"engine: unknown keys {sorted(bad)}")
    kw = dict(eng)
    if "key_cols" in kw:
        if not isinstance(kw["key_cols"], (list, tuple)) or not all(
            isinstance(x, str) for x in kw["key_cols"]
        ):
            raise SuiteError("engine: 'key_cols' must be a list of strings")
        kw["key_cols"] = tuple(kw["key_cols"])
    # value-type gate against the dataclass annotations: a mistyped engine
    # knob ({"window_chunk_size": "16"}) must fail at the suite file, not
    # deep inside the battery at run time. An optional field (``int |
    # None``) takes None or its non-None type.
    hints = typing.get_type_hints(EngineConfig)
    for name, got in kw.items():
        want = hints[name]
        args = typing.get_args(want)
        if type(None) in args:
            if got is None:
                continue
            (want,) = (a for a in args if a is not type(None))
        if typing.get_origin(want) is not None:
            continue  # key_cols: checked above
        ok = isinstance(got, want) and (want is bool or not isinstance(got, bool))
        if not ok:
            raise SuiteError(
                f"engine: {name!r} must be {want.__name__}, got {got!r}"
            )
    cfg = EngineConfig(**kw)

    entries = spec.get("checks", [])
    if not isinstance(entries, list):
        raise SuiteError("'checks' must be a list")
    checks: list[Check] = []
    norm_entries: list[dict] = []
    seen: set[str] = set()
    for i, entry in enumerate(entries):
        where = f"checks[{i}]"
        if not isinstance(entry, dict):
            raise SuiteError(f"{where}: must be an object")
        t = entry.get("type")
        if t not in _TYPE_KEYS:
            raise SuiteError(
                f"{where}: unknown type {t!r}; expected one of "
                f"{sorted(_TYPE_KEYS)}"
            )
        if not isinstance(entry.get("id"), str) or not entry["id"]:
            raise SuiteError(f"{where}: missing non-empty string 'id'")
        where = f"checks[{i}] ({entry['id']})"
        if entry["id"] in seen:
            raise SuiteError(f"{where}: duplicate check id")
        seen.add(entry["id"])
        bad = set(entry) - _COMMON - _TYPE_KEYS[t]
        if bad:
            raise SuiteError(
                f"{where}: unknown keys {sorted(bad)} for type {t!r}"
            )
        c = _build_check(entry, where, reference, cfg)
        checks.append(c)
        norm_entries.append(_resolved_entry(entry, c))

    from dataclasses import asdict

    norm = {
        "engine": {
            k: (list(v) if isinstance(v, tuple) else v)
            for k, v in asdict(cfg).items()
        },
        "checks": norm_entries,
    }
    return Suite(cfg=cfg, checks=checks, spec=norm)


def load_suite(path: str, reference: DataFrame | None = None) -> Suite:
    """Parse a suite from a JSON file."""
    with open(path) as f:
        try:
            spec = json.load(f)
        except json.JSONDecodeError as e:
            raise SuiteError(f"{path}: not valid JSON: {e}") from None
    return parse_suite(spec, reference=reference)


_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _entry_columns(entry: dict, columns: set[str]) -> set[str]:
    """Columns of ``columns`` an entry references. Typed entries name
    their columns directly; SQL-string fields (row predicates, drift
    exprs, group_agg) are matched by identifier intersection — a
    heuristic (an identifier inside a string literal counts), adequate
    for a lint and documented as such."""
    cols: set[str] = set()
    for k in ("col",):
        if isinstance(entry.get(k), str):
            cols.add(entry[k])
    for k in ("keys", "determinant", "dependent"):
        v = entry.get(k)
        if isinstance(v, (list, tuple)):
            cols.update(x for x in v if isinstance(x, str))
    # "col" re-appears here because completeness/cardinality entries may
    # carry an SQL expression (not a bare name) in that field
    for k in ("predicate", "detail", "expr", "x", "y", "cond", "cat", "col"):
        v = entry.get(k)
        if isinstance(v, str):
            cols.update(set(_IDENT.findall(v)) & columns)
    for a in entry.get("aggs", []) or []:
        if isinstance(a, str):
            cols.update(set(_IDENT.findall(a)) & columns)
    if entry.get("type") == "text_equality":
        cols.add(entry.get("text_col", "text"))
    return cols & columns


def rule_coverage(suite: Suite, columns: list[str]) -> dict[str, list[str]]:
    """Lint: which declared table columns are covered by which checks.

    Returns ``{column: [check ids touching it]}`` for every column in
    ``columns`` — empty list ⇒ the column has NO rule at all, the silent
    blind spot a validation suite review should catch. Engine key
    columns (partition/group/order) count as covered by the structural
    passes that consume them. Driver-side metadata arithmetic: no Spark
    job, no data touched."""
    colset = set(columns)
    out: dict[str, list[str]] = {c: [] for c in columns}
    structural = {
        suite.cfg.partition_col: "(engine: partition attribution)",
        suite.cfg.group_col: "(engine: group key)",
        suite.cfg.order_col: "(engine: order key)",
    }
    for c, tag in structural.items():
        if c in out:
            out[c].append(tag)
    for entry in suite.spec.get("checks", []):
        for c in sorted(_entry_columns(entry, colset)):
            out[c].append(entry["id"])
    return out


def transcript_suite_spec() -> dict:
    """The stock transcript battery (checks/base.py:transcript_checks) as
    a suite document — the template a dataset owner copies and edits.
    ``text_equality`` is included; parse with ``reference=`` to bind it,
    or drop the entry for reference-free runs."""
    from .schema import CONV_ID_PATTERN, ROLE_VOCAB, TOOL_VOCAB

    return {
        "engine": {
            "partition_col": "part",
            "group_col": "conv_id",
            "order_col": "turn_idx",
            "key_cols": ["conv_id", "turn_idx"],
        },
        "checks": [
            {"type": "uniqueness", "id": "unique_turn",
             "description": "(conv_id, turn_idx) unique",
             "keys": ["conv_id", "turn_idx"]},
            {"type": "format", "id": "conv_id_format", "col": "conv_id",
             "pattern": CONV_ID_PATTERN},
            {"type": "vocab", "id": "role_vocab", "col": "role",
             "allowed": list(ROLE_VOCAB)},
            {"type": "vocab", "id": "tool_vocab", "col": "tool",
             "allowed": list(TOOL_VOCAB), "nullable": True},
            {"type": "row", "id": "tool_iff_role",
             "description": "tool set iff role='tool'",
             "predicate": "(role = 'tool') = (tool IS NOT NULL)",
             "detail": "format_string('role=%s tool=%s', role, tool)"},
            {"type": "not_null", "id": "text_not_null", "col": "text"},
            {"type": "range", "id": "turn_idx_nonneg", "col": "turn_idx",
             "min": 0, "null_ok": False},
            {"type": "not_null", "id": "ts_not_null", "col": "ts"},
            {"type": "monotone", "id": "ts_monotone", "col": "ts"},
            {"type": "contiguity", "id": "turn_contiguous", "col": "turn_idx"},
            {"type": "drift", "id": "text_len_drift", "expr": "length(text)"},
            {"type": "text_equality", "id": "text_equality"},
        ],
    }


def suggest_suite(
    df: DataFrame,
    cfg: EngineConfig | None = None,
    vocab_max: int = 20,
    health: bool = True,
    rate_seconds: int | None = None,
    embed_history: bool = False,
) -> dict:
    """Draft a constraint-suite document FROM the corpus itself — the
    profiler-to-expectations surface: point it at a blessed corpus and it
    synthesizes the rules that corpus already satisfies, for a human to
    review, loosen, and commit. The reference encodes this workflow
    manually (its extension schemas are hand-written from known-good
    datasets, /root/reference/tacotoolbox/sample/datamodel.py:49-57);
    here the engine writes the first draft.

    What it synthesizes, and from which pass:

    * ONE global aggregation (single scan, map-side combined; collect_set
      only for columns the HLL probe already bounded to ~``vocab_max``,
      so driver state is bounded by construction):
      ``not_null`` for columns observed null-free, ``vocab`` for string
      columns with ≤ ``vocab_max`` exact distinct values (``nullable``
      from the observed null count), ``range`` (observed min/max —
      intentionally TIGHT: a reviewer widens ranges, a generator must
      not invent slack), ``uniqueness`` when the exact distinct count
      of ``cfg.key_cols`` equals the row count.
    * ONE group aggregation on ``cfg.group_col``: ``contiguity`` on
      ``cfg.order_col`` when every group is exactly 0..n-1.
    * ONE window pass on the battery's (group, order) exchange:
      ``monotone`` for each timestamp column with zero observed
      inversions, plus a ``gap`` entry per monotone column with
      ``max_step`` = the largest observed adjacent step (computed with
      GapCheck's own cast-to-double expression, so enforcement replays
      the mined bound exactly; gap bounds are NOT mined for
      non-monotone columns, where the observed extreme is an artifact
      of the inversions rather than a rule).
    * A handful of grouped aggregations over the low-cardinality
      columns: ``fd`` entries for every pairwise functional dependency
      that holds (det → dep with the FD check's own NULL-marked combo
      semantics, so discovery and enforcement cannot disagree on NULLs;
      constant dependents are vacuous and skipped), and ``sequence``
      grammars for NULL-free vocabulary columns — the observed adjacent
      (prev, cur) pair set plus opening/closing value sets under the
      battery's (group, order) window (bounded by vocab_max² pairs; a
      nullable column would fail its own source, SequenceCheck fails
      closed on NULL, so those are skipped).
    * ONE partition-grain aggregation (the health pass shape):
      ``completeness`` for columns with a nonzero null fraction and —
      with ``health`` — ``volume`` / ``cardinality`` (on
      ``cfg.group_col``), each CALIBRATED so the blessed corpus itself
      passes: tol / k are the smallest values (floored at the 0.05 /
      3-MAD conventions) every observed partition satisfies — a draft
      that alarms on its own source is noise, not safety. A MAD of 0
      with real deviations is un-bandable; that entry is skipped.
      With ``embed_history`` the per-partition profile values ride the
      draft inline (volume/cardinality ``history`` lists, completeness
      ``baseline_frac``): batch validation flips to the vs-history band
      — identical med/MAD on the profiled corpus, so green-on-source is
      unchanged — and the suite→stream bridge can realize the health
      trio (a bare k multiplier cannot stream).
    * ``cat_drift`` entries for every multi-category vocabulary column:
      the baseline histogram is the corpus's own exact category counts
      and the threshold is calibrated on the same discipline — the
      smallest 3-decimal value (floored at 0.05) every observed
      partition's total-variation distance passes, computed with the
      enforcement pass's own integer-exact ``categorical_tv`` so
      discovery and enforcement cannot disagree.
    * ``drift`` (quantile) entries for every non-structural,
      non-constant numeric column: baseline = the corpus's own exact
      global quantiles (method "exact" — layout-independent sort-based
      percentiles; a reviewer flips to "approx" for the 10^12-row
      path), threshold calibrated the same way over the observed
      per-partition max relative quantile deviation (the enforcement
      pass's own ``rel_dev``). A column with a valueless
      partition is skipped: enforcement rightly fires on a NULL
      quantile vector, so no threshold can make its own source green.
    * ``cond_drift`` entries for every ordered pair of multi-category
      vocabulary columns and ``transition_drift`` entries for each such
      column (bigram matrix with boundary sentinels under the battery's
      (group, order) window) — baselines observed, thresholds calibrated
      the same way; plus ``corr_drift`` entries for every unordered pair
      of integer-typed columns with a non-degenerate global correlation
      (degenerate partitions are un-calibratable and skip the pair —
      enforcement rightly fires on lost variance). The synthesized
      drift family now spans every member: marginal, numeric,
      categorical relationship, numeric relationship, sequential.
      Scan discipline: the whole categorical+conditional family melts
      into ONE data scan, all quantile columns share two percentile
      scans, all correlation pairs one moment aggregation — drift
      calibration costs O(1) scans in the schema width, not O(pairs).
    * Window-family bounds at the OBSERVED extremes (max-calibrated, so
      the source passes and any regression past its historical worst
      fires): ``runlength`` entries with ``max_run`` = the longest
      observed equal-value run per grammar-eligible column (one
      run-grain pass each), and — only when the caller names the window
      via ``rate_seconds`` (a mined window width would be speculative) —
      a ``rate`` entry with ``max_events`` = the highest observed
      trailing count for the first timestamp column (one RANGE-frame
      window pass).

    The returned document is guaranteed to parse (it is round-tripped
    through :func:`parse_suite` before returning) and is deterministic
    for a given corpus. It is a DRAFT: observed-value rules (vocab,
    range) will fire on any legitimately-new value — that is the point
    of a review step, not a bug in the generator.
    """
    from pyspark.sql import Window

    cfg = cfg or EngineConfig()
    fields = [f for f in df.schema.fields]
    names = [f.name for f in fields]
    for k in (cfg.partition_col, cfg.group_col, cfg.order_col, *cfg.key_cols):
        if k not in names:
            raise ValueError(
                f"suggest_suite: engine column {k!r} missing from the "
                f"input (has {names}) — pass a matching EngineConfig"
            )

    numeric = {
        f.name
        for f in fields
        if f.dataType.typeName()
        in ("byte", "short", "integer", "long", "float", "double", "decimal")
    }
    stringy = {f.name for f in fields if f.dataType.typeName() == "string"}
    tsy = {f.name for f in fields if f.dataType.typeName().startswith("timestamp")}

    # ---- pass 1a: global profile (one scan) -----------------------------
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in names:
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        aggs.append(
            F.approx_count_distinct(F.col(c), 0.01).alias(f"_ad_{c}")
        )
    for c in sorted(numeric):
        aggs.append(F.min(F.col(c)).cast("double").alias(f"_min_{c}"))
        aggs.append(F.max(F.col(c)).cast("double").alias(f"_max_{c}"))
    aggs.append(
        F.count_distinct(*[F.col(k) for k in cfg.key_cols]).alias("_kd")
    )
    prof = df.agg(*aggs).first()
    n_rows = int(prof["_n"])
    if n_rows == 0:
        raise ValueError(
            "suggest_suite: the corpus is empty — profiling nothing would "
            "synthesize a suite that forbids everything"
        )

    # ---- pass 1b: exact vocabularies for HLL-bounded candidates ---------
    # 1.2 slack over the 1% HLL rsd so a true count of vocab_max cannot be
    # excluded by estimator noise; the exact set size decides membership
    cand = [
        c
        for c in sorted(stringy)
        if int(prof[f"_ad_{c}"]) <= max(vocab_max * 1.2, vocab_max + 2)
    ]
    vocab_sets: dict[str, list[str]] = {}
    if cand:
        sets = df.agg(
            *[F.collect_set(F.col(c)).alias(c) for c in cand]
        ).first()
        for c in cand:
            vals = sorted(sets[c])
            if len(vals) <= vocab_max:
                vocab_sets[c] = vals

    # ---- pass 2: contiguity probe (one group aggregation) ---------------
    g = (
        df.groupBy(cfg.group_col)
        .agg(
            F.count(F.lit(1)).alias("_gn"),
            F.count_distinct(cfg.order_col).alias("_gd"),
            F.min(cfg.order_col).cast("long").alias("_gmn"),
            F.max(cfg.order_col).cast("long").alias("_gmx"),
        )
        .agg(
            F.count(F.lit(1)).alias("_groups"),
            F.sum(
                F.when(
                    (F.col("_gmn") != 0)
                    | (F.col("_gmx") != F.col("_gn") - 1)
                    | (F.col("_gd") != F.col("_gn")),
                    1,
                ).otherwise(0)
            ).alias("_bad"),
        )
        .first()
    )
    contiguous = int(g["_bad"] or 0) == 0

    # ---- pass 3: monotone + gap probe (one window pass, battery
    # exchange). The adjacent step is computed with GapCheck's OWN
    # expression (cur.cast(double) − prev.cast(double), base.py:step_bad)
    # so the mined max_step is exactly the bound the enforcement pass
    # replays — the source passes bit-for-bit. Gap bounds are mined only
    # for columns that also proved monotone: on an unordered column the
    # observed "max step" is an artifact of the inversions, not a rule.
    mono_cols: list[str] = []
    gap_bounds: dict[str, float] = {}
    ts_cand = sorted(tsy)
    if ts_cand:
        w = Window.partitionBy(cfg.group_col).orderBy(cfg.order_col)
        inv = df.select(
            *[
                (F.lag(c).over(w) > F.col(c)).cast("int").alias(f"_i_{c}")
                for c in ts_cand
            ],
            *[
                (
                    F.col(c).cast("double")
                    - F.lag(c).over(w).cast("double")
                ).alias(f"_s_{c}")
                for c in ts_cand
            ],
        ).agg(
            *[F.sum(f"_i_{c}").alias(c) for c in ts_cand],
            *[F.max(f"_s_{c}").alias(f"_g_{c}") for c in ts_cand],
        ).first()
        mono_cols = [c for c in ts_cand if int(inv[c] or 0) == 0]
        for c in mono_cols:
            g = inv[f"_g_{c}"]
            if g is not None:
                gap_bounds[c] = float(g)

    # ---- pass 3c: sequence-grammar discovery ----------------------------
    # For each NULL-FREE vocabulary column (a NULL mid-sequence would
    # make the synthesized grammar fail its own source — SequenceCheck
    # fails closed on NULL), collect the observed adjacent (prev, cur)
    # pairs under the battery's (group, order) window plus the observed
    # opening/closing value sets — the corpus's own transition grammar
    # (e.g. the role protocol), bounded by vocab_max² pairs. One window
    # pass + one bounded aggregation per qualifying column.
    seq_grammar: dict[str, dict] = {}
    # structural columns are excluded from sequential/FD mining: the
    # group key is constant within each group (its "grammar" and "runs"
    # are degenerate) and on small corpora it would also hold spurious
    # FDs — and aliasing max_by output to the grouping column's own name
    # is ambiguous
    structural = {cfg.partition_col, cfg.group_col, cfg.order_col}
    seq_cand = [
        c
        for c in sorted(vocab_sets)
        if c not in structural
        and int(prof[f"_nn_{c}"]) == n_rows
        and len(vocab_sets[c]) > 1
    ]
    if seq_cand:
        w = Window.partitionBy(cfg.group_col).orderBy(cfg.order_col)
        gw = df.select(
            F.col(cfg.group_col).alias("_g"),
            F.col(cfg.order_col).alias("_o"),
            *[F.col(c) for c in seq_cand],
            *[F.lag(c).over(w).alias(f"_prev_{c}") for c in seq_cand],
        )
        pair_aggs = []
        for c in seq_cand:
            pair_aggs.append(
                F.array_sort(
                    F.collect_set(
                        F.when(
                            F.col(f"_prev_{c}").isNotNull(),
                            F.concat_ws(
                                "\x1f", F.col(f"_prev_{c}"), F.col(c)
                            ),
                        )
                    )
                ).alias(f"_pairs_{c}")
            )
            pair_aggs.append(
                F.array_sort(
                    F.collect_set(
                        F.when(F.col(f"_prev_{c}").isNull(), F.col(c))
                    )
                ).alias(f"_first_{c}")
            )
        grams = gw.agg(*pair_aggs).first()
        # closing values need the per-group last row: one bounded max_by
        last_row = (
            df.groupBy(cfg.group_col)
            .agg(
                *[
                    F.max_by(F.col(c), F.col(cfg.order_col)).alias(c)
                    for c in seq_cand
                ]
            )
            .agg(
                *[
                    F.array_sort(F.collect_set(F.col(c))).alias(c)
                    for c in seq_cand
                ]
            )
            .first()
        )
        for c in seq_cand:
            pairs = [p.split("\x1f") for p in grams[f"_pairs_{c}"]]
            seq_grammar[c] = {
                "allowed": [list(p) for p in pairs],
                "first": list(grams[f"_first_{c}"]),
                "last": list(last_row[c]),
            }

    # ---- pass 3d: window-family bound mining -----------------------------
    # max-calibrated: the bound is the observed extreme, so the source
    # passes exactly and any regression past its historical worst fires.
    run_bounds: dict[str, int] = {}
    if seq_cand:
        from .operators.runs import run_lengths

        for c in seq_cand:
            row = (
                run_lengths(
                    df, [cfg.group_col], [cfg.order_col], c
                )
                .agg(F.max("run_len").alias("m"))
                .first()
            )
            if row is not None and row["m"] is not None:
                run_bounds[c] = int(row["m"])
    rate_bound: tuple[str, int, int] | None = None
    if rate_seconds is not None:
        if rate_seconds < 1:
            raise ValueError(
                f"rate_seconds must be >= 1, got {rate_seconds}"
            )
        if not ts_cand:
            raise ValueError(
                "rate_seconds given but the input has no timestamp "
                "column to mine a rate bound from"
            )
        from .operators.rolling import trailing_counts

        ts_col = ts_cand[0]
        row = (
            trailing_counts(df, [cfg.group_col], ts_col, rate_seconds)
            .agg(F.max("n_trailing").alias("m"))
            .first()
        )
        if row is not None and row["m"] is not None:
            rate_bound = (ts_col, rate_seconds, int(row["m"]))

    # ---- pass 3b: functional-dependency discovery ------------------------
    # Pairwise over the LOW-CARDINALITY string columns only (the vocab
    # candidates — a handful by construction, so this is a handful of
    # grouped aggregations, each map-side combinable): det -> dep holds
    # when every non-NULL det value maps to exactly one dep value. The
    # distinct count runs over the FD check's own NULL-marked combo form
    # (checks/fd.py:dependent_combo) so a det value mapping to {NULL, x}
    # counts as TWO — discovery and enforcement can never disagree on
    # NULL semantics. Constant deps (global distinct <= 1) are vacuous
    # and skipped; NULL determinants are exempt, matching the check's
    # default.
    from .checks.fd import dependent_combo

    fd_pairs: list[tuple[str, str]] = []
    fd_cols = [c for c in sorted(vocab_sets) if c not in structural]
    for det in fd_cols:
        deps = [
            d
            for d in fd_cols
            if d != det and len(vocab_sets[d]) > 1
        ]
        if not deps:
            continue
        row = (
            df.filter(F.col(det).isNotNull())
            .groupBy(det)
            .agg(
                *[
                    F.count_distinct(dependent_combo([d])).alias(f"_fd_{d}")
                    for d in deps
                ]
            )
            .agg(*[F.max(f"_fd_{d}").alias(d) for d in deps])
            .first()
        )
        for d in deps:
            if row is not None and int(row[d] or 0) <= 1:
                fd_pairs.append((det, d))

    # ---- pass 4: health calibration (one partition-grain aggregation) ---
    # A draft that ALARMS on its own blessed corpus is noise, so the
    # self-calibrating members are calibrated here: k / tol are the
    # smallest values (floored at the 3-MAD / 0.05 conventions) under
    # which every observed partition passes. One partition_profile scan
    # carries volume, group cardinality, and every nullable column's
    # fraction; the bands are the usual whole-frame windows.
    import math

    from .checks.health import partition_profile, robust_band

    nullable = [c for c in names if 0 < int(prof[f"_nn_{c}"]) < n_rows]
    hp = partition_profile(
        df,
        cfg.partition_col,
        valid={c: F.col(c) for c in nullable},
        distinct={"g": cfg.group_col},
    )
    hp = robust_band(hp, "n", 1.0, prefix="_v_")
    hp = robust_band(hp, "d_g", 1.0, prefix="_c_")
    cal_aggs = [
        F.max("_v_dev").alias("_v_maxdev"),
        F.min("_v_mad").alias("_v_mad"),
        F.max("_c_dev").alias("_c_maxdev"),
        F.min("_c_mad").alias("_c_mad"),
    ]
    for c in nullable:
        base = float(n_rows - int(prof[f"_nn_{c}"])) / float(n_rows)
        frac = (F.col("n") - F.col(f"v_{c}")).cast("double") / F.col(
            "n"
        ).cast("double")
        cal_aggs.append(F.max(F.abs(frac - F.lit(base))).alias(f"_d_{c}"))
    cal = hp.agg(*cal_aggs).first()
    # --embed-history: the per-partition profile values ride the draft as
    # inline calibration data, upgrading the health entries from bare k
    # multipliers to self-contained rules — batch validation flips to the
    # vs-history band (identical med/MAD on the profiled corpus itself,
    # so green-on-source is preserved bit-for-bit) and the suite->stream
    # bridge can realize the trio (a bare k cannot stream: the window
    # population is unbounded). Bounded by the partition count.
    vol_hist: list[int] = []
    card_hist: list[int] = []
    if embed_history:
        for r in sorted(
            hp.select("part", "n", "d_g").collect(),
            key=lambda r: r["part"],
        ):
            vol_hist.append(int(r["n"]))
            card_hist.append(int(r["d_g"]))

    def _band_k(maxdev, mad) -> float | None:
        """Smallest 1-decimal k (floor 3.0) passing every partition;
        None when MAD = 0 makes any deviation un-bandable."""
        maxdev, mad = float(maxdev or 0.0), float(mad or 0.0)
        if maxdev == 0.0:
            return 3.0
        if mad == 0.0:
            return None
        k = math.ceil(maxdev / mad * 10.0) / 10.0
        return max(3.0, k)

    vol_k = _band_k(cal["_v_maxdev"], cal["_v_mad"])
    card_k = _band_k(cal["_c_maxdev"], cal["_c_mad"])
    comp_tol: dict[str, float] = {}
    comp_base: dict[str, float] = {}
    for c in nullable:
        maxd = float(cal[f"_d_{c}"] or 0.0)
        comp_tol[c] = max(0.05, math.ceil(maxd * 1000.0) / 1000.0)
        comp_base[c] = float(n_rows - int(prof[f"_nn_{c}"])) / float(n_rows)

    # ---- pass 4b: categorical + conditional drift calibration ------------
    # The drift family joins the draft on the same discipline as the
    # health bands: baselines are the corpus's OWN exact counts, and each
    # threshold is the smallest 3-decimal value (floored at the 0.05
    # convention) under which every observed partition passes — computed
    # by the enforcement passes' own TV kernel (checks.drift._tv_grid),
    # so discovery and enforcement cannot disagree. Scale shape: a
    # marginal histogram is a conditional table with ONE conditioning
    # value, so every `cat_drift` column AND every ordered `cond_drift`
    # pair melts into a single exploded member axis and the WHOLE family
    # calibrates from ONE data scan (one grouped count over (part,
    # member, cond, cat), persisted: grid-sized, reused for the kernel's
    # per-member baseline, the thresholds and the document baselines
    # without a second scan). Single-category columns are vacuous
    # (TV ≡ 0) and skipped, like constant FD dependents.
    from .checks.drift import _cell_counts, _tv_grid

    cat_cand = [
        c for c in sorted(vocab_sets)
        if c not in structural and len(vocab_sets[c]) > 1
    ]
    pair_list = [
        (det, dep) for det in cat_cand for dep in cat_cand if det != dep
    ]
    cat_drift: list[tuple[str, dict[str, int], float]] = []
    cond_entries: list[tuple[str, str, dict, float]] = []
    if cat_cand:
        structs = [
            F.struct(
                F.lit(c).alias("m"), F.lit("").alias("k"),
                F.col(c).cast("string").alias("c"),
            )
            for c in cat_cand
        ] + [
            F.struct(
                F.lit(f"{det}\x1f{dep}").alias("m"),
                F.col(det).cast("string").alias("k"),
                F.col(dep).cast("string").alias("c"),
            )
            for det, dep in pair_list
        ]
        melted = df.select(
            F.col(cfg.partition_col).cast("string").alias("part"),
            F.explode(F.array(*structs)).alias("e"),
        )
        counts = _cell_counts(
            melted, [F.col("part"), F.col("e.m").alias("m")],
            F.col("e.k"), F.col("e.c"),
        ).persist()
        base = counts.groupBy("m", "_k", "_c").agg(F.sum("_n").alias("_nb"))
        maxes = {
            r["m"]: float(r["mx"] or 0.0)
            for r in _tv_grid(counts, base)
            .groupBy("m")
            .agg(F.max("tv").alias("mx"))
            .collect()
        }
        bases = base.collect()
        counts.unpersist()
        # one pass over the collected grid (keyed by member), not one
        # rescan per column/pair
        by_member: dict[str, list] = {}
        for r in bases:
            by_member.setdefault(r["m"], []).append(r)
        for c in cat_cand:
            hist = dict(
                sorted(
                    (r["_c"], int(r["_nb"])) for r in by_member.get(c, [])
                )
            )
            thr = max(
                0.05, math.ceil(maxes.get(c, 0.0) * 1000.0) / 1000.0
            )
            cat_drift.append((c, hist, thr))
        for det, dep in pair_list:
            mkey = f"{det}\x1f{dep}"
            nested: dict[str, dict[str, int]] = {}
            for r in sorted(
                by_member.get(mkey, []), key=lambda r: (r["_k"], r["_c"])
            ):
                nested.setdefault(r["_k"], {})[r["_c"]] = int(r["_nb"])
            thr = max(
                0.05, math.ceil(maxes.get(mkey, 0.0) * 1000.0) / 1000.0
            )
            cond_entries.append((det, dep, nested, thr))

    # ---- pass 4c: quantile-drift calibration -----------------------------
    # The numeric sibling of 4b: each non-structural, non-constant
    # numeric column gains a `drift` entry whose baseline is the corpus's
    # own EXACT global quantiles (method "exact": sort-based type-7
    # percentiles, layout-independent and DuckDB-replicable — the same
    # calibration-equals-enforcement discipline; a reviewer flips the
    # method to "approx" for the 10^12-row path after widening)
    # and whose threshold is the smallest 3-decimal value (0.05 floor)
    # every observed partition's max relative quantile deviation passes,
    # computed with the enforcement pass's own rel_dev expression. A
    # partition with no values at all yields a NULL quantile vector —
    # enforcement rightly fires on that (a silent partition IS drift), so
    # such a column is un-calibratable on its own source and is skipped,
    # like MAD=0 bands. Scale shape: ALL columns' global quantiles ride
    # ONE aggregation and ALL columns' per-partition quantiles ONE
    # grouped aggregation — two sort-based percentile scans total for
    # the whole family (the exact mode's documented verification-corpus
    # cost class), not two per column; the percentile expression is
    # exact_quantiles_by_partition's verbatim.
    from .checks.drift import pearson_corr, rel_dev

    drift_probes = (0.1, 0.25, 0.5, 0.75, 0.9)
    num_drift: list[tuple[str, list[float], float]] = []
    num_cand = [
        c
        for c in sorted(numeric)
        if c not in structural
        and prof[f"_min_{c}"] is not None
        and float(prof[f"_min_{c}"]) != float(prof[f"_max_{c}"])
    ]
    if num_cand:
        probes_sql = ", ".join(repr(float(p)) for p in drift_probes)

        def _pct(c: str) -> Column:
            return F.expr(
                f"percentile(cast(({c}) as double), array({probes_sql}))"
            )

        grow = df.agg(*[_pct(c).alias(c) for c in num_cand]).first()
        pq = df.groupBy(
            F.col(cfg.partition_col).cast("string").alias("part")
        ).agg(*[_pct(c).alias(f"_q_{c}") for c in num_cand])
        cal_cols = []
        bq_map: dict[str, list[float]] = {}
        for c in num_cand:
            bq_map[c] = (
                list(grow[c])
                if grow[c] is not None
                else [float("nan")] * len(drift_probes)
            )
            base_arr = F.array(*[F.lit(float(b)) for b in bq_map[c]])
            dist = F.array_max(
                F.zip_with(F.col(f"_q_{c}"), base_arr, rel_dev)
            )
            cal_cols += [
                F.max(dist).alias(f"_m_{c}"),
                F.sum(
                    (dist.isNull() | F.isnan(F.coalesce(dist, F.lit(0.0))))
                    .cast("int")
                ).alias(f"_bad_{c}"),
            ]
        qrow = pq.agg(*cal_cols).first()
        for c in num_cand:
            if int(qrow[f"_bad_{c}"] or 0) > 0:
                continue  # a valueless partition cannot calibrate green
            m = float(qrow[f"_m_{c}"] or 0.0)
            thr = max(0.05, math.ceil(m * 1000.0) / 1000.0)
            num_drift.append((c, bq_map[c], thr))

    # ---- pass 4d: transition-drift calibration ---------------------------
    # The sequential member: `transition_drift` for every multi-category
    # vocabulary column (baseline = the observed bigram matrix WITH
    # boundary sentinels under the battery's (group, order) window; NULL
    # states fold to the shared sentinel, so nullable columns qualify —
    # unlike sequence grammars, which fail closed on NULL). One lag
    # window + grouped count per column — the pair grain depends on the
    # window, so it cannot melt into 4b's row-grain scan; columns are a
    # handful by the vocab contract. (`cond_drift` calibrates inside
    # 4b's single melted scan.)
    from .checks.drift import transition_counts, transition_drift

    def _nest(bc: dict[tuple[str, str], int]) -> dict[str, dict[str, int]]:
        out: dict[str, dict[str, int]] = {}
        for (k, c2), n in sorted(bc.items()):
            out.setdefault(k, {})[c2] = int(n)
        return out

    cat_cols = [c for c, _, _ in cat_drift]
    trans_entries: list[tuple[str, dict, float]] = []
    for c in cat_cols:
        bc2 = transition_counts(df, cfg.group_col, [cfg.order_col], c)
        row = (
            transition_drift(
                df, cfg.group_col, [cfg.order_col], c,
                cfg.partition_col, bc2,
            )
            .agg(F.max("tv").alias("m"))
            .first()
        )
        m = float(row["m"] or 0.0)
        thr = max(0.05, math.ceil(m * 1000.0) / 1000.0)
        trans_entries.append((c, _nest(bc2), thr))

    # ---- pass 4e: correlation-drift calibration --------------------------
    # The numeric-RELATIONSHIP member (cond_drift's Pearson sibling):
    # for every unordered pair of INTEGER-typed non-structural columns
    # (the check's exact-DECIMAL moment arithmetic demands integer
    # values — float columns need an explicit quantizing expression, a
    # reviewer decision, not a profiler guess), mine the corpus's global
    # correlation as the inline baseline and calibrate the threshold
    # over the observed per-partition |corr − base| deltas. A pair with
    # a degenerate partition (corr NULL: < 2 points or zero variance)
    # is un-calibratable — enforcement rightly fires on lost variance —
    # and is skipped, as is a pair whose GLOBAL relationship is
    # degenerate (nothing to drift from). Scale shape: ALL pairs' exact
    # moment sums (n, Σx, Σy, Σx², Σy², Σxy — pairwise-complete via a
    # per-pair both-non-null mask, DECIMAL(19,0) per-row products exactly
    # like correlation_by_partition) ride ONE grouped aggregation over
    # the data; global moments are the per-partition sums re-summed
    # (decimal addition is exact and associative, so this is bit-equal to
    # a direct global pass), and the per-partition corr/delta expressions
    # evaluate over the grid-sized per-partition frame — one data scan
    # for the whole family instead of one per pair.
    int_types = {"byte", "short", "integer", "long"}
    inty = sorted(
        f.name
        for f in fields
        if f.dataType.typeName() in int_types
        and f.name not in structural
        and prof[f"_min_{f.name}"] is not None
        and float(prof[f"_min_{f.name}"]) != float(prof[f"_max_{f.name}"])
    )
    int_pairs = [
        (x, y) for i, x in enumerate(inty) for y in inty[i + 1:]
    ]
    corr_entries: list[tuple[str, str, float, float]] = []
    #: 6 aggregate columns per pair; chunking keeps every grouped agg far
    #: under the ~500-column whole-stage-codegen width cliff the
    #: streaming twins also guard against (64KB JVM method limit) — wide
    #: integer schemas cost O(pairs/chunk) scans, never a broken plan
    _CORR_PAIR_CHUNK = 80
    dec = "decimal(19,0)"

    def _corr(i: int) -> Column:
        return pearson_corr(
            *(f"_{f}{i}" for f in ("n", "sx", "sy", "sxx", "syy", "sxy"))
        )

    for lo in range(0, len(int_pairs), _CORR_PAIR_CHUNK):
        chunk = list(enumerate(int_pairs[lo:lo + _CORR_PAIR_CHUNK]))
        mcols = []
        for i, (x, y) in chunk:
            xl, yl = F.col(x).cast("long"), F.col(y).cast("long")
            both = xl.isNotNull() & yl.isNotNull()
            xd = F.when(both, xl.cast(dec))
            yd = F.when(both, yl.cast(dec))
            mcols += [
                F.sum(F.when(both, F.lit(1))).cast("long").alias(f"_n{i}"),
                F.sum(xd).alias(f"_sx{i}"),
                F.sum(yd).alias(f"_sy{i}"),
                F.sum(xd * xd).alias(f"_sxx{i}"),
                F.sum(yd * yd).alias(f"_syy{i}"),
                F.sum(xd * yd).alias(f"_sxy{i}"),
            ]
        per_part = (
            df.groupBy(
                F.col(cfg.partition_col).cast("string").alias("p")
            )
            .agg(*mcols)
            .persist()
        )
        totals = per_part.agg(
            *[
                F.sum(f"_{f2}{i}").alias(f"_{f2}{i}")
                for i, _ in chunk
                for f2 in ("n", "sx", "sy", "sxx", "syy", "sxy")
            ]
        )
        base_row = totals.select(
            *[_corr(i).alias(f"_b{i}") for i, _ in chunk]
        ).first()
        cal_row = per_part.select(
            *[
                col
                for i, _ in chunk
                for col in (
                    F.abs(
                        _corr(i)
                        - F.lit(
                            float(base_row[f"_b{i}"])
                            if base_row[f"_b{i}"] is not None
                            else 0.0
                        )
                    ).alias(f"_d{i}"),
                    # a partition with zero pairwise-complete rows is
                    # ABSENT in correlation_by_partition (its rows drop
                    # pre-group), not degenerate — only n>0 + corr NULL
                    # (lost variance / n<2) blocks calibration
                    (
                        _corr(i).isNull()
                        & (F.coalesce(F.col(f"_n{i}"), F.lit(0)) > 0)
                    ).cast("int").alias(f"_g{i}"),
                )
            ]
        ).agg(
            *[
                col
                for i, _ in chunk
                for col in (
                    F.max(f"_d{i}").alias(f"_d{i}"),
                    F.sum(f"_g{i}").alias(f"_g{i}"),
                )
            ]
        ).first()
        per_part.unpersist()
        for i, (x, y) in chunk:
            if (
                base_row[f"_b{i}"] is None
                or int(cal_row[f"_g{i}"] or 0) > 0
            ):
                continue
            m = float(cal_row[f"_d{i}"] or 0.0)
            thr = max(0.05, math.ceil(m * 1000.0) / 1000.0)
            corr_entries.append(
                (x, y, float(base_row[f"_b{i}"]), thr)
            )

    # ---- assemble --------------------------------------------------------
    checks: list[dict] = []
    if int(prof["_kd"]) == n_rows:
        checks.append(
            {
                "type": "uniqueness",
                "id": f"unique_{'_'.join(cfg.key_cols)}",
                "keys": list(cfg.key_cols),
            }
        )
    for c in names:
        if int(prof[f"_nn_{c}"]) == n_rows:
            checks.append(
                {"type": "not_null", "id": f"{c}_not_null", "col": c}
            )
    for c, vals in vocab_sets.items():
        checks.append(
            {
                "type": "vocab",
                "id": f"{c}_vocab",
                "col": c,
                "allowed": vals,
                "nullable": int(prof[f"_nn_{c}"]) < n_rows,
            }
        )
    for c in sorted(numeric):
        if prof[f"_min_{c}"] is None:
            continue
        checks.append(
            {
                "type": "range",
                "id": f"{c}_range",
                "col": c,
                "min": float(prof[f"_min_{c}"]),
                "max": float(prof[f"_max_{c}"]),
                "null_ok": int(prof[f"_nn_{c}"]) < n_rows,
            }
        )
    for c in mono_cols:
        checks.append({"type": "monotone", "id": f"{c}_monotone", "col": c})
    for c in sorted(gap_bounds):
        checks.append(
            {
                "type": "gap",
                "id": f"{c}_max_gap",
                "col": c,
                "max_step": gap_bounds[c],
            }
        )
    for det, dep in fd_pairs:
        checks.append(
            {
                "type": "fd",
                "id": f"fd_{det}__{dep}",
                "determinant": [det],
                "dependent": [dep],
                "skip_null_determinant": True,
            }
        )
    for c, g in seq_grammar.items():
        checks.append(
            {
                "type": "sequence",
                "id": f"{c}_grammar",
                "col": c,
                "allowed": g["allowed"],
                "first": g["first"],
                "last": g["last"],
            }
        )
    for c, m in run_bounds.items():
        checks.append(
            {
                "type": "runlength",
                "id": f"{c}_max_run",
                "col": c,
                "max_run": m,
            }
        )
    if rate_bound is not None:
        ts_col, secs, m = rate_bound
        checks.append(
            {
                "type": "rate",
                "id": f"{ts_col}_rate_{secs}s",
                "col": ts_col,
                "seconds": secs,
                "max_events": m,
            }
        )
    if contiguous:
        checks.append(
            {
                "type": "contiguity",
                "id": f"{cfg.order_col}_contiguous",
                "col": cfg.order_col,
            }
        )
    for c in nullable:
        entry = {
            "type": "completeness",
            "id": f"{c}_null_drift",
            "col": c,
            "tol": comp_tol[c],
        }
        if embed_history:
            entry["baseline_frac"] = comp_base[c]
        checks.append(entry)
    for c, bc, thr in cat_drift:
        checks.append(
            {
                "type": "cat_drift",
                "id": f"{c}_cat_drift",
                "col": c,
                "threshold": thr,
                "baseline_counts": bc,
            }
        )
    for c, bq, thr in num_drift:
        checks.append(
            {
                "type": "drift",
                "id": f"{c}_drift",
                "expr": c,
                "probes": list(drift_probes),
                "threshold": thr,
                "method": "exact",
                "baseline_quantiles": [float(b) for b in bq],
            }
        )
    for det, dep, bc2, thr in cond_entries:
        checks.append(
            {
                "type": "cond_drift",
                "id": f"{dep}_given_{det}_drift",
                "cond": det,
                "cat": dep,
                "threshold": thr,
                "baseline_counts": bc2,
            }
        )
    for c, bc2, thr in trans_entries:
        checks.append(
            {
                "type": "transition_drift",
                "id": f"{c}_transition_drift",
                "state": c,
                "threshold": thr,
                "baseline_counts": bc2,
            }
        )
    for x, y, b, thr in corr_entries:
        checks.append(
            {
                "type": "corr_drift",
                "id": f"{x}__{y}_corr_drift",
                "x": x,
                "y": y,
                "threshold": thr,
                "baseline_corr": b,
            }
        )
    if health:
        # MAD=0 with real deviations means no k can band this corpus —
        # skip the entry rather than ship a rule its own source fails
        if vol_k is not None:
            entry = {"type": "volume", "id": "volume", "k": vol_k}
            if embed_history:
                entry["history"] = vol_hist
            checks.append(entry)
        if card_k is not None:
            entry = {
                "type": "cardinality",
                "id": f"{cfg.group_col}_cardinality",
                "col": cfg.group_col,
                "k": card_k,
            }
            if embed_history:
                entry["history"] = card_hist
            checks.append(entry)

    spec = {
        "engine": {
            "partition_col": cfg.partition_col,
            "group_col": cfg.group_col,
            "order_col": cfg.order_col,
            "key_cols": list(cfg.key_cols),
        },
        "checks": checks,
    }
    parse_suite(spec)  # the draft must always load
    return spec
