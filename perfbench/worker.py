"""One benchmark invocation in a fresh process (and so a fresh JVM).

    python3 perfbench/worker.py --workload batch_validate \
        --inputs DIR --out DIR --result FILE [--trace | --setup-only]
    python3 perfbench/worker.py --gen-pool DIR --result FILE

The invocation starts the Spark session and scans its inputs once
(set-up; ``--setup-only`` stops there), then runs the workload's public entry point (the timed
section) and writes its timings to ``--result``. It measures; it checks
nothing: ``run.py`` checks the outputs afterwards, so no check adds a
Spark action inside the timed section. The process exits hard once the
result is written, because streaming threads can keep the JVM alive.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import threading
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from inputs import write_pool  # noqa: E402
from mix import QUERIES  # noqa: E402
from spans import Tracer  # noqa: E402

BATCH_FLAGS = ["--role-grammar", "--max-gap", "120", "--record-sketches"]


def load_job(name: str):
    """Import ``jobs/<name>.py`` (a script directory, not a package)."""
    spec = importlib.util.spec_from_file_location(
        f"bench_job_{name}", ROOT / "jobs" / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def steal_frac(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the CPUs' time between two ``cpu_ticks`` readings that
    the hypervisor gave to other guests."""
    return (b[0] - a[0]) / max(1, b[1] - a[1])


def start_session(event_dir: str | None):
    from taco_toolbox_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": str(ROOT / ".bench_cache" / "warehouse")}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", extra_conf=conf)


def warm_scan(spark, workload: str, inputs: str) -> None:
    if workload == "operator_mix":
        for f in sorted(os.listdir(inputs)):
            if f.endswith(".parquet"):
                spark.read.parquet(os.path.join(inputs, f)).count()
    else:
        spark.read.parquet(os.path.join(inputs, "transcripts")).count()


# ---------------------------------------------------------------------------
# workloads: each returns its extra result fields; the caller times it
# ---------------------------------------------------------------------------


def install_batch_spans(tracer: Tracer) -> None:
    import pyspark.sql.classic.dataframe as classic_df
    from pyspark.sql.readwriter import DataFrameWriter

    from taco_toolbox_spark import checkpoint, engine, stats

    verdict_frames: set[int] = set()
    tracer.patch(
        engine,
        "run_validation",
        "engine.build",
        after=lambda res: verdict_frames.add(id(res.verdicts)),
    )
    tracer.patch(stats, "column_stats", "stats.build")
    tracer.patch(checkpoint, "record_sketch_state", "checkpoint.sketch")
    tracer.patch(checkpoint, "record_distinct_state", "checkpoint.distinct")
    tracer.patch(checkpoint.CheckpointManifest, "save", "checkpoint.save")
    writes = {"violations": "engine.exec", "stats": "stats.exec", "verdicts": "engine.verdicts"}
    tracer.patch(
        DataFrameWriter,
        "parquet",
        lambda self, path, *a, **k: writes.get(os.path.basename(str(path).rstrip("/"))),
    )
    tracer.patch(
        classic_df.DataFrame,
        "collect",
        lambda self: "engine.verdicts" if id(self) in verdict_frames else None,
    )


def run_batch(spark, args, tracer: Tracer | None) -> dict:
    validate = load_job("validate")
    argv = [
        "--input", os.path.join(args.inputs, "transcripts"),
        "--baseline", os.path.join(args.inputs, "transcripts_baseline"),
        "--output", args.out,
        "--run-id", "perfbench",
        *BATCH_FLAGS,
    ]
    if tracer:
        install_batch_spans(tracer)
    with tracer.span("jobs.validate", root=True) if tracer else nullcontext():
        rc = validate.main(argv, stop_session=False)
    if rc != 0:
        raise RuntimeError(f"validate.main returned {rc}")
    return {}


class ProgressCollector:
    """Collects streaming progress through a StreamingQueryListener."""

    def __init__(self, spark):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        collected: list[dict] = []
        self.progress = collected

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                collected.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def settle(self, quiet: float = 0.5, timeout: float = 5.0) -> list[dict]:
        """Progress events arrive asynchronously; wait until none has
        arrived for ``quiet`` seconds."""
        deadline = time.monotonic() + timeout
        seen = -1
        while seen != len(self.progress) and time.monotonic() < deadline:
            seen = len(self.progress)
            time.sleep(quiet)
        return list(self.progress)


def run_stream(spark, args, tracer: Tracer | None) -> dict:
    stream_validate = load_job("stream_validate")
    argv = ["--input", os.path.join(args.inputs, "transcripts"), "--output", args.out]
    collector = None
    if tracer:
        from pyspark.sql.streaming.query import StreamingQuery

        from taco_toolbox_spark.streaming import validate_stream

        collector = ProgressCollector(spark)
        tracer.patch(
            validate_stream, "transcript_violations_stateful", "streaming.build"
        )
        tracer.patch(StreamingQuery, "awaitTermination", "streaming.drain", group=False)
    with tracer.span("jobs.stream_validate", root=True) if tracer else nullcontext():
        rc = stream_validate.main(argv, stop_session=False)
    if rc != 0:
        raise RuntimeError(f"stream_validate.main returned {rc}")
    return {"progress": collector.settle()} if collector else {}


def run_mix(spark, args, tracer: Tracer | None) -> dict:
    """Build each query, then run it once with a noop write. An
    Observation on the written frame yields the row count and an
    order-independent digest from the same action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    builders = entry.queries()
    span = tracer.span if tracer else (lambda *a, **k: nullcontext())
    out = {}
    with span("mix", root=True):
        for name in QUERIES:
            try:
                t0 = time.perf_counter()
                with span(f"query.{name}.build", group=f"query.{name}"):
                    df = builders[name](spark, args.inputs)
                t1 = time.perf_counter()
                obs = Observation(name)
                row_hash = F.xxhash64(
                    F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns]))
                )
                observed = df.observe(
                    obs, F.count(F.lit(1)).alias("n"), F.sum(row_hash).alias("h")
                )
                with span(f"query.{name}.exec", group=f"query.{name}"):
                    observed.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                got = obs.get
                out[name] = {
                    "build_s": t1 - t0,
                    "exec_s": t2 - t1,
                    "rows": int(got["n"]),
                    "digest": int(got["h"] or 0) % 2**64,
                }
            except Exception:
                out[name] = {"error": traceback.format_exc(limit=5)}
    return {"queries": out}


WORKLOADS = {
    "batch_validate": run_batch,
    "stream_validate": run_stream,
    "operator_mix": run_mix,
}


def stop_with_timeout(spark, timeout: float = 30.0) -> None:
    """Stop the session (which closes the event log) unless it hangs."""
    t = threading.Thread(target=spark.stop, daemon=True)
    t.start()
    t.join(timeout)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--inputs")
    p.add_argument("--out")
    p.add_argument("--result")
    p.add_argument("--trace", action="store_true")
    p.add_argument("--setup-only", action="store_true")
    p.add_argument("--gen-pool", help="write the transcript pool to this dir")
    args = p.parse_args()

    result: dict = {}
    t0 = time.perf_counter()
    spark = start_session(
        os.path.join(args.out, "eventlog") if args.trace else None
    )
    t1 = time.perf_counter()
    if args.gen_pool:
        exit_with(write_pool(spark, Path(args.gen_pool)), args.result)
    warm_scan(spark, args.workload, args.inputs)
    t2 = time.perf_counter()
    c2 = cpu_ticks()
    result.update(session_s=t1 - t0, scan_s=t2 - t1, setup_s=t2 - t0)
    if args.setup_only:
        exit_with(result, args.result)
    tracer = Tracer(spark) if args.trace else None
    try:
        s = time.perf_counter()
        extra = WORKLOADS[args.workload](spark, args, tracer)
        result["wall_s"] = time.perf_counter() - s
        result["wall_steal"] = steal_frac(c2, cpu_ticks())
        result.update(extra)
    except Exception:
        result["error"] = traceback.format_exc()
    if tracer:
        tracer.unpatch()
        result["spans"] = tracer.spans
        stop_with_timeout(spark)
    exit_with(result, args.result)


def exit_with(result: dict, path: str) -> None:
    """Write the result and exit hard: streaming threads can keep the
    JVM, and with it a normal exit, alive."""
    with open(path, "w") as f:
        json.dump(result, f)
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
