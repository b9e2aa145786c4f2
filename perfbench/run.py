"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_validate --seed 1 \
        --seconds 40 --trace 0
    python3 perfbench/run.py --workload all --seed 42      # every workload

Each invocation of a workload runs in a fresh process and JVM, as
``spark-submit`` would, with one client in a closed loop. Invocations
repeat while the next one is predicted to end within ``--seconds`` (at
least one runs); set-up-only invocations then fill the rest of the
time, so that ``setup_s`` has more than one sample. End-to-end figures
are medians over the run's invocations. With ``--trace 1`` the run makes
one untraced and one traced invocation and reports per-layer figures
from the traced one, with the tracing overhead.

The last line of standard output is the result object:
``{"correct", "attempted", "failed", "metrics"}``. Inputs and scratch
outputs live under ``.bench_cache/`` in the working tree.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402
import procfs  # noqa: E402
import spans  # noqa: E402
from mix import FAMILIES, QUERIES, expected_rows, input_rows  # noqa: E402

CACHE = inputs.CACHE
WORKLOADS = ("batch_validate", "stream_validate", "operator_mix")
GOLDEN_SEED = 42
INVOKE_TIMEOUT = 170
MB = 1024 * 1024
REQUIRED = (
    "taco_toolbox_spark/__init__.py",
    "jobs/validate.py",
    "jobs/stream_validate.py",
    "__spark_entry__.py",
)


def pinned_env(scratch: Path) -> dict[str, str]:
    """The run environment: two task threads and a quarter of memory for
    the driver heap, Spark scratch and temp files under ``scratch``, and
    the tree on PYTHONPATH so Python workers import the library.

    Two task threads leave cores to what runs beside them: the JIT and
    GC threads, and a Python worker per pandas-UDF task. At ``local[4]``
    on four cores the invocation oversubscribes them and ran slower and
    less steadily than at ``local[2]``."""
    cpus = min(2, len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{min(1024, total_mb // 4)}m",
        SPARK_LOCAL_DIRS=str(scratch / "spark-local"),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


class Runner:
    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.n = 0

    def spawn(self, extra: list[str], run_dir: Path) -> dict:
        """Run worker.py in its own process group, sample the group, then
        stop whatever is left of it."""
        run_dir.mkdir(parents=True, exist_ok=True)
        scratch = run_dir / "scratch"
        env = pinned_env(scratch)
        result = run_dir / "result.json"
        cmd = [sys.executable, str(HERE / "worker.py"), "--result", str(result), *extra]
        with open(run_dir / "worker.log", "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            sampler = procfs.TreeSampler(proc.pid)
            try:
                with sampler:
                    proc.wait(timeout=INVOKE_TIMEOUT)
            except subprocess.TimeoutExpired:
                pass
            finally:
                procfs.stop_groups(sampler.groups)
                proc.wait()
                shutil.rmtree(scratch, ignore_errors=True)
        try:
            res = json.loads(result.read_text())
        except (OSError, ValueError):
            tail = (run_dir / "worker.log").read_text()[-2000:]
            res = {"error": f"worker exit {proc.returncode}, no result:\n{tail}"}
        res["peak_rss_mb"] = sampler.peak_rss / MB
        res["py_cpu_s"] = sampler.py_cpu
        res["py_workers"] = len(sampler.py_pids)
        return res

    def invoke(self, input_dir: Path, trace: bool = False, setup_only: bool = False):
        self.n += 1
        run_dir = CACHE / "runs" / f"{self.workload}-{os.getpid()}-{self.n}"
        shutil.rmtree(run_dir, ignore_errors=True)
        out = run_dir / "out"
        extra = ["--workload", self.workload, "--inputs", str(input_dir), "--out", str(out)]
        extra += ["--trace"] * trace + ["--setup-only"] * setup_only
        res = self.spawn(extra, run_dir)
        res["run_dir"] = run_dir
        return res

    def ensure_inputs(self) -> tuple[Path, dict]:
        base = CACHE / "inputs"
        base.mkdir(parents=True, exist_ok=True)
        if self.workload == "operator_mix":
            path = base / inputs.tables_key(self.seed)
            rec = inputs.ready_record(path) or inputs.write_tables(self.seed, path)
            return path, rec
        path = base / inputs.transcripts_key(self.seed)
        rec = inputs.ready_record(path)
        if rec is None:
            pool = base / inputs.pool_key()
            if inputs.ready_record(pool) is None:
                gen_dir = CACHE / "runs" / f"gen-{os.getpid()}"
                res = self.spawn(["--gen-pool", str(pool)], gen_dir)
                if inputs.ready_record(pool) is None:
                    raise RuntimeError(f"input generation failed: {res.get('error')}")
                shutil.rmtree(gen_dir, ignore_errors=True)
            rec = inputs.select_transcripts(self.seed, pool, path)
        return path, rec


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def check_invocation(workload: str, res: dict, input_dir: Path, golden: dict | None):
    """(attempted, failed, failure messages, observed outputs) for one
    invocation. An operation is one CLI invocation, or one query of
    operator_mix; it fails if it raises or its output fails a check."""
    if workload == "operator_mix":
        if "error" in res:
            return len(QUERIES), len(QUERIES), [res["error"]], {}
        per_query = checks.check_mix(res["queries"], expected_rows(str(input_dir)), golden)
        msgs = [f"{n}: {'; '.join(f)}" for n, f in per_query.items() if f]
        observed = {n: [q.get("rows"), q.get("digest")] for n, q in res["queries"].items()}
        return len(QUERIES), len(msgs), msgs, observed
    if "error" in res:
        return 1, 1, [res["error"]], {}
    fn = checks.check_batch if workload == "batch_validate" else checks.check_stream
    try:
        msgs, observed = fn(Path(res["run_dir"]) / "out", input_dir, golden)
    except Exception as e:  # unreadable output is a failed operation
        return 1, 1, [f"output check raised {e!r}"], {}
    return 1, int(bool(msgs)), msgs, observed


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def work_items(workload: str, record: dict) -> int:
    rows = record["rows"]
    return input_rows(rows) if workload == "operator_mix" else rows["transcripts"]


def end_to_end(workload: str, invocations: list[dict], record: dict,
               setups: list[float] = ()) -> dict:
    items = work_items(workload, record)
    walls = [r["wall_s"] for r in invocations]
    setup = [r["setup_s"] for r in invocations] + list(setups)
    return {
        "setup_s": {"value": statistics.median(setup), "unit": "s"},
        "wall_s": {"value": statistics.median(walls), "unit": "s"},
        "rows_per_s": {"value": statistics.median(items / w for w in walls), "unit": "1/s"},
        "peak_rss_mb": {
            "value": statistics.median(r["peak_rss_mb"] for r in invocations),
            "unit": "MB",
        },
    }


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    if not progress:
        return {}
    trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress]
    dur = lambda k: sum(p["durationMs"].get(k, 0) for p in progress) / 1e3  # noqa: E731
    state = [p.get("stateOperators") or [] for p in progress]
    rows = sum(p.get("numInputRows", 0) for p in progress)
    return {
        "streaming.batches": len(progress),
        "streaming.batch_p50_s": statistics.median(trig),
        "streaming.batch_max_s": max(trig),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.planning_s": dur("queryPlanning"),
        "streaming.state_rows": max(sum(o.get("numRowsTotal", 0) for o in s) for s in state),
        "streaming.state_mb": max(sum(o.get("memoryUsedBytes", 0) for o in s) for s in state) / MB,
        "streaming.rows_per_s": rows / sum(trig) if sum(trig) else 0.0,
    }


PER_LAYER = [
    "session.start_s", "setup.scan_s",
    "jobs.validate.batches", "jobs.validate.self_s", "jobs.stream_validate.self_s",
    "engine.build_s", "engine.exec_s", "engine.verdicts_s", "engine.cpu_s", "engine.gc_s",
    "engine.shuffle_write_mb", "engine.spill_mb", "engine.task_skew",
    "stats.build_s", "stats.exec_s", "stats.cpu_s",
    "checkpoint.sketch_s", "checkpoint.distinct_s", "checkpoint.save_s", "checkpoint.manifest_kb",
    "python.worker_cpu_s", "python.workers_spawned",
    "streaming.build_s", "streaming.batches", "streaming.batch_p50_s", "streaming.batch_max_s",
    "streaming.add_batch_s", "streaming.planning_s", "streaming.state_rows",
    "streaming.state_mb", "streaming.rows_per_s",
    "mix.build_s", "mix.exec_s",
    *[f"mix.{fam}.exec_s" for fam in FAMILIES],
    *[f"query.{q}.exec_s" for q in QUERIES],
    "exec.jobs", "exec.stages", "exec.tasks", "exec.cpu_s", "exec.gc_s",
    "exec.shuffle_write_mb", "exec.spill_mb", "write.output_mb",
    "trace.overhead_s", "trace.span_cover_frac", "blocking.path_frac", "host.steal_frac",
]


def unit_of(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_kb", "KB"),
                         ("_frac", "ratio"), ("_skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(workload: str, traced: dict, untraced: dict) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = traced["session_s"]
    m["setup.scan_s"] = traced["scan_s"]
    m["python.worker_cpu_s"] = traced["py_cpu_s"]
    m["python.workers_spawned"] = traced["py_workers"]
    m["trace.overhead_s"] = traced["wall_s"] - untraced["wall_s"]
    m["host.steal_frac"] = traced["wall_steal"]
    sp = traced.get("spans", [])
    layers = spans.layer_totals(sp)
    total = lambda n: layers.get(n, {}).get("total_s", 0.0)  # noqa: E731
    selfs = lambda n: layers.get(n, {}).get("self_s", 0.0)  # noqa: E731
    root = [s for s in sp if s["parent"] is None]
    if root:
        r = root[0]
        inner = [(s["start"], s["end"]) for s in sp if s["parent"] is not None]
        m["trace.span_cover_frac"] = spans.union_length(inner) / (r["end"] - r["start"])
    groups = eventlog.parse_dir(Path(traced["run_dir"]) / "out" / "eventlog")
    run_groups = [g for k, g in groups.items() if k != "setup"]
    tot = eventlog.merge(run_groups)
    for k in ("jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
        m[f"exec.{k}"] = tot[k]
    m["write.output_mb"] = tot["output_mb"]

    if workload == "batch_validate":
        eng = eventlog.merge([groups[g] for g in ("engine.exec", "engine.verdicts") if g in groups])
        st = eventlog.merge([groups[g] for g in ("stats.build", "stats.exec") if g in groups])
        m.update({
            "jobs.validate.batches": layers.get("engine.build", {}).get("calls", 0),
            "jobs.validate.self_s": selfs("jobs.validate"),
            "engine.build_s": total("engine.build"),
            "engine.exec_s": total("engine.exec"),
            "engine.verdicts_s": total("engine.verdicts"),
            "engine.cpu_s": eng["cpu_s"], "engine.gc_s": eng["gc_s"],
            "engine.shuffle_write_mb": eng["shuffle_write_mb"],
            "engine.spill_mb": eng["spill_mb"], "engine.task_skew": eng["task_skew"],
            "stats.build_s": total("stats.build"), "stats.exec_s": total("stats.exec"),
            "stats.cpu_s": st["cpu_s"],
            "checkpoint.sketch_s": total("checkpoint.sketch"),
            "checkpoint.distinct_s": total("checkpoint.distinct"),
            "checkpoint.save_s": total("checkpoint.save"),
        })
        manifest = Path(traced["run_dir"]) / "out" / "manifest.json"
        if manifest.exists():
            m["checkpoint.manifest_kb"] = manifest.stat().st_size / 1024
        path = (
            max(m["engine.exec_s"], m["stats.exec_s"]) + m["checkpoint.sketch_s"]
            + m["checkpoint.distinct_s"] + m["engine.build_s"] + m["engine.verdicts_s"]
            + m["jobs.validate.self_s"]
        )
        m["blocking.path_frac"] = path / traced["wall_s"]
    elif workload == "stream_validate":
        m["jobs.stream_validate.self_s"] = selfs("jobs.stream_validate")
        m["streaming.build_s"] = total("streaming.build")
        m.update(streaming_metrics(traced.get("progress", [])))
    else:
        qs = traced["queries"]
        ok = {n: q for n, q in qs.items() if "exec_s" in q}
        m["mix.build_s"] = sum(q["build_s"] for q in ok.values())
        m["mix.exec_s"] = sum(q["exec_s"] for q in ok.values())
        for n, q in ok.items():
            m[f"query.{n}.exec_s"] = q["exec_s"]
            m[f"mix.{QUERIES[n][0]}.exec_s"] += q["exec_s"]
    return {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}


# ---------------------------------------------------------------------------


def run_workload(workload: str, seed: int, seconds: float, trace: bool, record_golden: bool):
    runner = Runner(workload, seed)
    input_dir, record = runner.ensure_inputs()
    all_golden = checks.load_golden()
    golden = None
    wl_golden = all_golden.get(workload, {})
    if seed == GOLDEN_SEED and not record_golden:
        if wl_golden.get("fingerprint") == record["fingerprint"]:
            golden = wl_golden["expect"]
        else:
            print(f"{workload}: input fingerprint differs from the golden's; "
                  "golden comparison skipped", file=sys.stderr)

    invocations: list[dict] = []
    setups: list[float] = []
    attempted = failed = 0
    failures: list[str] = []
    observed_all = []

    def full(traced: bool = False) -> dict:
        nonlocal attempted, failed
        res = runner.invoke(input_dir, trace=traced)
        n, n_failed, msgs, observed = check_invocation(workload, res, input_dir, golden)
        attempted += n
        failed += n_failed
        failures.extend(msgs)
        observed_all.append(observed)
        if "error" not in res:
            invocations.append(res)
        if not msgs and not traced:
            shutil.rmtree(res["run_dir"], ignore_errors=True)
        return res

    start = time.monotonic()
    if trace:
        full(traced=False)
        full(traced=True)
    else:
        # full invocations while the next is predicted to end within
        # --seconds, then set-up-only ones on the same rule
        while True:
            t = time.monotonic()
            res = full()
            cost = time.monotonic() - t
            if "error" in res or time.monotonic() - start + cost > seconds:
                break
        if invocations:
            cost -= res.get("wall_s", 0.0)
        while invocations and time.monotonic() - start + cost <= seconds:
            t = time.monotonic()
            res = runner.invoke(input_dir, setup_only=True)
            cost = time.monotonic() - t
            shutil.rmtree(res["run_dir"], ignore_errors=True)
            if "error" in res:
                failures.append(f"set-up invocation: {res['error']}")
                break
            setups.append(res["setup_s"])
    # every invocation of one seed must produce the same outputs
    if any(o and o != observed_all[0] for o in observed_all[1:]):
        failures.append(f"outputs differ between invocations: {observed_all}")
        failed = attempted

    if record_golden and not failures:
        all_golden[workload] = {
            "seed": seed, "fingerprint": record["fingerprint"], "expect": observed_all[0],
        }
        checks.GOLDEN.write_text(json.dumps(all_golden, indent=1, sort_keys=True) + "\n")

    for f in failures:
        print(f"{workload}: FAILED {f}", file=sys.stderr)
    metrics = {}
    if invocations:
        if trace:
            traced_res = invocations[-1]
            metrics = per_layer(workload, traced_res, invocations[0])
            shutil.rmtree(traced_res["run_dir"], ignore_errors=True)
        else:
            metrics = end_to_end(workload, invocations, record, setups)
    result = {
        "correct": not failures and len(invocations) > 0,
        "attempted": attempted,
        "failed": min(attempted, failed),
        "metrics": metrics,
    }
    summary = "  ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
    steal = [round(r["wall_steal"], 3) for r in invocations]
    print(f"{workload}: {summary}  invocations={len(invocations)}+{len(setups)} set-up only  "
          f"failed_frac={result['failed'] / attempted:.3g} "
          f"({result['failed']}/{attempted})  host_steal={steal}  input={record['key']} "
          f"rows={record['rows']} fingerprint={record['fingerprint']}", file=sys.stderr)
    return result


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=GOLDEN_SEED)
    p.add_argument("--seconds", type=float, default=40)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-golden", action="store_true",
                   help="store this run's outputs as the golden (use --seed 42)")
    args = p.parse_args()
    missing = [f for f in REQUIRED if not (ROOT / f).is_file()]
    if missing:
        print(f"not a checkout of the validator: missing {missing}", file=sys.stderr)
        return 2
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        results[name] = run_workload(name, args.seed, args.seconds, bool(args.trace),
                                     args.record_golden)
    print(json.dumps(results[names[0]] if len(names) == 1 else {"workloads": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
