"""Tests for the benchmark's own code: the event-log parser, the
self-time arithmetic and the output checks. They need no Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
import threading
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import checks  # noqa: E402
import eventlog  # noqa: E402
import spans  # noqa: E402


def test_eventlog_groups_fixture():
    groups = eventlog.parse_dir(HERE / "fixtures")
    eng = groups["engine.exec"]
    assert (eng["jobs"], eng["stages"], eng["tasks"]) == (1, 2, 4)
    assert eng["cpu_s"] == pytest.approx(0.5)
    assert eng["gc_s"] == pytest.approx(0.04)
    assert eng["shuffle_write_mb"] == pytest.approx(2.0)
    assert eng["spill_mb"] == pytest.approx(2.0)
    assert eng["output_mb"] == pytest.approx(2.0)
    # heaviest stage is stage 0 (400 ms over two tasks): max 300 / mean 200
    assert eng["task_skew"] == pytest.approx(1.5)
    # the ungrouped job: its skipped stage never completes, and the
    # truncated last line is ignored
    other = groups[""]
    assert (other["jobs"], other["stages"], other["tasks"]) == (1, 1, 1)
    assert eventlog.merge(list(groups.values()))["tasks"] == 5


def test_self_time_nested_and_concurrent_children():
    sp = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "name": "a.inner", "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "name": "a", "parent": 0, "start": 9.0, "end": 12.0},
    ]
    selfs = spans.self_times(sp)
    # root: 10 s minus the union of [1,6] and [9,10] (clipped to the root)
    assert selfs[0] == pytest.approx(4.0)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(1.0)
    totals = spans.layer_totals(sp)
    assert totals["a"] == {"calls": 2, "total_s": 6.0, "self_s": 5.0}
    assert spans.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tracer_parents_pool_threads_to_root():
    ticks = iter(range(100))
    tracer = spans.Tracer(clock=lambda: float(next(ticks)))
    with tracer.span("root", root=True):
        with tracer.span("child"):
            pass
        t = threading.Thread(target=lambda: tracer.span("pooled").__enter__())
        t.start()
        t.join(timeout=5)
    by_name = {s["name"]: s for s in tracer.spans}
    assert by_name["child"]["parent"] == by_name["root"]["id"]
    assert by_name["pooled"]["parent"] == by_name["root"]["id"]


def test_reported_metrics_match_benchmark_json():
    import json

    import run

    spec = json.loads((HERE.parents[1] / "BENCHMARK.json").read_text())
    invocation = {"setup_s": 1.0, "wall_s": 2.0, "peak_rss_mb": 10.0}
    e2e = run.end_to_end("batch_validate", [invocation], {"rows": {"transcripts": 4}})
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()
    }
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (n, run.unit_of(n)) for n in run.PER_LAYER
    ]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def _write(table: dict, path: Path) -> None:
    path.mkdir(parents=True)
    pq.write_table(pa.table(table), path / "part-0.parquet")


@pytest.fixture()
def batch_output(tmp_path):
    inputs, out = tmp_path / "inputs", tmp_path / "out"
    _write(
        {
            "part": ["d1", "d1", "d2"],
            "conv_id": ["c1", "c2", "c3"],
            "turn_idx": [3, 0, 5],
            "kind": ["dup_turn", "null_text", "gap_turn"],
        },
        inputs / "violation_manifest",
    )
    viol = pd.DataFrame(
        {
            "part": ["d1", "d1", "d2"],
            "check_id": ["unique_turn", "text_not_null", "turn_contiguous"],
            "conv_id": ["c1", "c2", "c3"],
            "turn_idx": [3, 0, None],
            "detail": ["", "", ""],
        }
    )
    verdicts = {
        "part": ["d1", "d2"],
        "check_id": ["unique_turn", "turn_contiguous"],
        "passed": [False, False],
        "n_violations": [1, 1],
    }
    _write(verdicts, out / "verdicts")
    return inputs, out, viol


def test_batch_check_passes_complete_output(batch_output):
    inputs, out, viol = batch_output
    _write(viol.to_dict("list"), out / "violations")
    failures, observed = checks.check_batch(out, inputs, None)
    assert failures == []
    # the same output against its own golden still passes
    assert checks.check_batch(out, inputs, observed)[0] == []


def test_batch_check_flags_one_deleted_violation_row(batch_output):
    inputs, out, viol = batch_output
    _write(viol.drop(index=1).to_dict("list"), out / "violations")
    failures, _ = checks.check_batch(out, inputs, None)
    assert len(failures) == 1 and failures[0].startswith("null_text -> text_not_null")


def test_golden_mismatch_is_a_failure(batch_output):
    inputs, out, viol = batch_output
    _write(viol.to_dict("list"), out / "violations")
    _, observed = checks.check_batch(out, inputs, None)
    golden = dict(observed, failing_cells=observed["failing_cells"] + 1)
    failures, _ = checks.check_batch(out, inputs, golden)
    assert len(failures) == 1 and "golden" in failures[0]


def test_choose_days_gives_every_seed_the_same_shape():
    import inputs

    days = {f"d{i:02d}": [100, 0] for i in range(40)}
    for d in ("d03", "d11", "d20", "d31"):
        days[d] = [2100, 1]
    days["d07"] = [4100, 2]
    picks = [inputs.choose_days(seed, days, "d05") for seed in range(20)]
    for keep in picks:
        assert len(keep) == len(set(keep)) == inputs.N_PARTS
        assert "d05" in keep and "d07" not in keep
        assert sum(days[d][1] for d in keep) == inputs.N_HOT
    assert picks[3] == inputs.choose_days(3, days, "d05")
    assert len({tuple(k) for k in picks}) > 1
