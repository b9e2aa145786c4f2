"""Correctness checks on a finished invocation's outputs.

They read the output files with pyarrow after the invocation's process
has ended, so they add no Spark action to the timed section. Each check
returns a list of failure messages; an empty list means correct.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pyarrow.parquet as pq

from mix import QUERIES

GOLDEN = Path(__file__).resolve().parent / "golden.json"

# injected violation kind -> the check that must flag it (the engine
# tests' recall map)
KIND_TO_CHECK = {
    "dup_turn": "unique_turn",
    "bad_role": "role_vocab",
    "bad_tool": "tool_vocab",
    "tool_on_chat": "tool_iff_role",
    "null_text": "text_not_null",
    "mutated_text": "text_equality",
    "ts_regress": "ts_monotone",
    "bad_conv": "conv_id_format",
    "gap_turn": "turn_contiguous",
}
# the streaming battery realizes these three
STREAM_CHECKS = ("unique_turn", "ts_monotone", "turn_contiguous")


def load_golden() -> dict:
    try:
        return json.loads(GOLDEN.read_text())
    except (OSError, ValueError):
        return {}


def _keys(viol, check: str, with_turn: bool) -> set:
    v = viol[viol.check_id == check]
    if with_turn:
        return set(zip(v.conv_id, v.turn_idx.astype("Int64")))
    return set(v.conv_id)


def recall(manifest, viol, kinds: dict[str, str]) -> list[str]:
    """Every injected violation row appears under its mapped check.
    ``turn_contiguous`` flags a conversation, so it matches on conv_id."""
    failures = []
    for kind, check in kinds.items():
        rows = manifest[manifest.kind == kind]
        with_turn = check != "turn_contiguous"
        if with_turn:
            want = set(zip(rows.conv_id, rows.turn_idx.astype("Int64")))
        else:
            want = set(rows.conv_id)
        missing = want - _keys(viol, check, with_turn)
        if missing:
            failures.append(
                f"{kind} -> {check}: {len(missing)} of {len(want)} injected rows "
                f"missing, e.g. {sorted(missing, key=str)[:3]}"
            )
    return failures


def verdict_digest(verdicts) -> str:
    rows = sorted(
        zip(
            verdicts.part.astype(str),
            verdicts.check_id,
            verdicts.passed.astype(bool),
            verdicts.n_violations.astype(int),
        )
    )
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def check_batch(out: Path, inputs: Path, golden: dict | None) -> tuple[list[str], dict]:
    manifest = pq.read_table(inputs / "violation_manifest").to_pandas()
    viol = pq.read_table(out / "violations").to_pandas()
    verdicts = pq.read_table(out / "verdicts").to_pandas()
    failures = recall(manifest, viol, KIND_TO_CHECK)
    observed = {
        "verdict_digest": verdict_digest(verdicts),
        "cells": len(verdicts),
        "failing_cells": int((~verdicts.passed.astype(bool)).sum()),
    }
    if golden and golden != observed:
        failures.append(f"verdict matrix {observed} != golden {golden}")
    return failures, observed


def check_stream(out: Path, inputs: Path, golden: dict | None) -> tuple[list[str], dict]:
    manifest = pq.read_table(inputs / "violation_manifest").to_pandas()
    battery = pq.read_table(out / "battery").to_pandas()
    kinds = {k: c for k, c in KIND_TO_CHECK.items() if c in STREAM_CHECKS}
    failures = recall(manifest, battery, kinds)
    observed = {"battery_rows": len(battery)}
    if golden and golden != observed:
        failures.append(f"battery sink {observed} != golden {golden}")
    return failures, observed


def check_mix(
    queries: dict, expected: dict[str, int], golden: dict | None
) -> dict[str, list[str]]:
    """Per query: it ran, produced rows, matches the row count implied
    by its inputs, and matches the golden (rows, digest)."""
    failures: dict[str, list[str]] = {}
    for name in QUERIES:
        rec = queries.get(name) or {"error": "not run"}
        f = []
        if "error" in rec:
            f.append(rec["error"].strip().splitlines()[-1])
        else:
            if rec["rows"] < 1:
                f.append("no rows")
            if name in expected and rec["rows"] != expected[name]:
                f.append(f"{rec['rows']} rows, inputs imply {expected[name]}")
            if golden and name in golden and golden[name] != [rec["rows"], rec["digest"]]:
                f.append(f"(rows, digest) {[rec['rows'], rec['digest']]} != golden {golden[name]}")
        failures[name] = f
    return failures
