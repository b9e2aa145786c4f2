"""spark-submit entry point for the validation engine.

    spark-submit --py-files taco_toolbox_spark.zip jobs/validate.py \
        --input  /data/transcripts \
        --baseline /data/transcripts_baseline \
        --output /runs/2026-08-16 \
        --manifest /runs/2026-08-16/manifest.json \
        [--resume] [--partition-col part]

Reads the transcript table, runs the full check battery (stats + constraints
+ drift vs baseline + per-turn text equality), writes:
    <output>/verdicts/     (part, check_id, passed, n_violations)
    <output>/violations/   (part, check_id, conv_id, turn_idx, detail)
    <output>/stats/        per-partition column profile
    <manifest>             per-partition lineage + metrics (resume point)

With --resume, partitions already marked done in the manifest are pruned at
the scan and only the remainder is validated (checkpoint.py).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _emit_verdict_diff(spark, args) -> None:
    """Write <output>/verdict_diff (regression vs a previous run's
    verdicts) and print status counts. Runs on BOTH exits — including the
    nothing-pending --resume rerun, where the recurring job still needs
    the what-changed answer against the existing verdicts."""
    import os

    from pyspark.sql import functions as F

    from taco_toolbox_spark.report import verdict_diff

    prev_v = spark.read.parquet(args.diff_against)
    cur_v = spark.read.parquet(os.path.join(args.output, "verdicts"))
    diff = verdict_diff(prev_v, cur_v)
    diff.write.mode("overwrite").parquet(
        os.path.join(args.output, "verdict_diff")
    )
    counts = {
        r["status"]: r["n"]
        for r in diff.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(
        "verdict diff vs previous run: "
        + (", ".join(f"{k}={v}" for k, v in sorted(counts.items()))
           or "no changes")
    )


def main(argv: list[str] | None = None, stop_session: bool = True) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--baseline", help="clean reference table for drift + text equality")
    p.add_argument("--output", required=True)
    p.add_argument("--manifest", help="checkpoint manifest path (default <output>/manifest.json)")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--partition-col", default="part")
    p.add_argument("--run-id", default=None)
    p.add_argument(
        "--suite",
        default=None,
        help="JSON constraint-suite file (taco_toolbox_spark.suite grammar)"
        " — REPLACES the stock transcript battery and the engine keys with"
        " the declared ones; flag-built extras (--fd, --role-grammar,"
        " --max-gap, --max-rate, --cat-drift) still append on top. A text_equality"
        " entry binds to --baseline; a drift entry without inline"
        " baseline_quantiles also needs --baseline",
    )
    p.add_argument(
        "--record-sketches",
        action="store_true",
        help="store per-partition sketch state in the manifest alongside "
        "lineage/metrics: KLL quantile sketches for length(text), HLL "
        "distinct sketches for conv_id, and (with --cat-drift COL) the "
        "exact per-partition category histogram — a later run (or another "
        "table's run) merges them into global quantiles/distincts/"
        "baseline distributions without rescanning finished partitions",
    )
    p.add_argument(
        "--sketch-expr",
        default="length(text)",
        help="value expression for the stored KLL quantile state",
    )
    p.add_argument(
        "--sketch-distinct",
        default="conv_id",
        help="column for the stored HLL distinct state "
        "(int/long/string/binary)",
    )
    p.add_argument(
        "--record-digests",
        default=None,
        metavar="COLS",
        help="comma-separated content columns: store each validated "
        "partition's three-integer content digest in the manifest, so a "
        "later consolidation/migration of blessed partitions is "
        "certified against the manifest (jobs/certify.py or "
        "digest_frame_from_manifest) without rescanning the originals",
    )
    p.add_argument(
        "--role-grammar",
        action="store_true",
        help="add the role-transition grammar check (SequenceCheck): a "
        "conversation opens with `system` and `system` never reappears; "
        "rides the battery's existing lag window, so it adds no scans",
    )
    p.add_argument(
        "--role-close",
        action="store_true",
        help="add the closing-value rule of the role grammar: a conversation "
        "must END with an in-vocabulary non-system role; one min_by/max_by "
        "group-agg shared with --role-grammar's opening rule",
    )
    p.add_argument(
        "--max-gap",
        type=float,
        metavar="SECONDS",
        help="add a GapCheck: consecutive turns in a conversation must be at "
        "most SECONDS apart (rides the battery's existing lag window, so it "
        "adds no scans)",
    )
    p.add_argument(
        "--max-rate",
        metavar="SECONDS:MAX",
        help="add a RateCheck: no turn may see more than MAX turns of its "
        "conversation in the trailing SECONDS window (burst / retry-storm "
        "rule; a RANGE-frame window sharing the battery's group-key "
        "shuffle), e.g. --max-rate 60:20",
    )
    p.add_argument(
        "--max-run",
        metavar="COL:N",
        action="append",
        help="add a RunLengthCheck: no more than N consecutive turns of a "
        "conversation may carry the same COL value (stuck-value / looping-"
        "agent rule; gaps-and-islands windows sharing the battery's "
        "group-key shuffle), e.g. --max-run role:8; repeatable",
    )
    p.add_argument(
        "--max-loop",
        metavar="COL:PERIOD:REPS",
        action="append",
        help="add a PeriodicLoopCheck: no period-PERIOD stretch of COL "
        "(each value equal to the one PERIOD turns earlier) may exceed "
        "REPS full repetitions per conversation (ping-pong / cycling-"
        "agent rule; stacked windows sharing the battery's group-key "
        "shuffle), e.g. --max-loop tool:2:4; repeatable",
    )
    p.add_argument(
        "--fd",
        action="append",
        metavar="DET->DEP",
        help="add a FunctionalDependencyCheck: 'det1,det2->dep1,dep2' means "
        "every distinct determinant combination must map to exactly one "
        "dependent combination per partition (e.g. --fd tool->role). "
        "Repeatable. Rows with a NULL determinant are exempt unless "
        "--fd-null-strict",
    )
    p.add_argument(
        "--fd-null-strict",
        action="store_true",
        help="treat NULL determinants as a real key group in every --fd "
        "check instead of exempting those rows",
    )
    p.add_argument(
        "--diff-against",
        metavar="DIR",
        help="a previous run's verdicts parquet dir: after validating, "
        "write the regression diff (new_failure / fixed / still_failing / "
        "new_cell / removed_cell per (part, check)) to <output>/"
        "verdict_diff and print the status counts — the what-changed view "
        "a recurring job needs",
    )
    p.add_argument(
        "--cat-drift",
        metavar="COL",
        help="add a CategoricalDriftCheck on COL (e.g. role): per-partition "
        "total-variation distance vs the --baseline table's distribution, "
        "computed exactly in integer arithmetic; requires --baseline",
    )
    p.add_argument("--cat-drift-threshold", type=float, default=0.25)
    p.add_argument(
        "--volume-k",
        type=float,
        metavar="K",
        help="add a VolumeAnomalyCheck: every partition's row count must "
        "sit inside the robust median±K·MAD band of the partitions the "
        "pass sees. NOTE: with --batch-parts > 0 the band is computed "
        "within each batch; use --batch-parts 0 for a whole-run band",
    )
    p.add_argument(
        "--volume-vs-manifest",
        metavar="PATH",
        help="judge partition row counts against the median±K·MAD band of "
        "a PREVIOUS run's manifest (every run records per-partition "
        "n_rows) instead of this run's own — catches the global collapse "
        "a self-calibrated band cannot; K from --volume-k (default 3)",
    )
    p.add_argument(
        "--volume-rel",
        type=float,
        metavar="R",
        help="relative floor for the volume band: also flag any partition "
        "deviating more than R·median (bursty corpora carry a MAD "
        "comparable to the median, which swallows even a 90%% collapse "
        "inside K·MAD); applies to --volume-k and --volume-vs-manifest",
    )
    p.add_argument(
        "--null-drift",
        metavar="COL:TOL",
        action="append",
        help="add a CompletenessDriftCheck: COL's per-partition null "
        "fraction must stay within TOL of the pass-wide fraction (e.g. "
        "--null-drift tool:0.1); repeatable. Same --batch-parts caveat "
        "as --volume-k",
    )
    p.add_argument(
        "--distinct-band",
        metavar="COL:K",
        action="append",
        help="add a CardinalityAnomalyCheck: every partition's exact "
        "distinct COL count must sit inside the robust median±K·MAD band "
        "(e.g. --distinct-band conv_id:3); repeatable. Same --batch-parts "
        "caveat as --volume-k",
    )
    p.add_argument(
        "--actions",
        choices=("auto", "concurrent", "sequential"),
        default="auto",
        help="pipeline independent actions (stats/violations/verdicts) "
        "concurrently or run them sequentially; auto follows the batch row "
        "count (scale.concurrent_actions: concurrency wins while the "
        "working set is cache-resident, sequential wins past the crossover)",
    )
    p.add_argument(
        "--batch-parts",
        type=int,
        default=32,
        help="validate this many partitions per engine pass, saving the "
        "manifest after each batch (0 = single pass over everything); "
        "smaller batches -> finer crash-recovery granularity, more fixed "
        "per-pass overhead",
    )
    args = p.parse_args(argv)
    manifest_path = args.manifest or os.path.join(args.output, "manifest.json")
    run_id = args.run_id or f"run_{int(time.time())}"

    from pyspark.sql import functions as F

    from taco_toolbox_spark.checkpoint import CheckpointManifest
    from taco_toolbox_spark.checks import transcript_checks
    from taco_toolbox_spark.engine import EngineConfig, run_validation
    from taco_toolbox_spark.session import get_spark
    from taco_toolbox_spark.stats import column_stats

    spark = get_spark("validate")
    df = spark.read.parquet(args.input)
    ref = spark.read.parquet(args.baseline) if args.baseline else None
    suite = None
    if args.suite:
        from taco_toolbox_spark.suite import SuiteError, load_suite

        try:
            suite = load_suite(args.suite, reference=ref)
        except SuiteError as e:
            raise SystemExit(f"--suite {args.suite}: {e}")
        for entry in suite.spec["checks"]:
            if (
                entry["type"] == "drift"
                and entry.get("baseline_quantiles") is None
                and ref is None
            ):
                raise SystemExit(
                    f"--suite {args.suite}: drift check {entry['id']!r} has"
                    " no inline baseline_quantiles; pass --baseline"
                )
    if suite is not None:
        # the declared engine section is authoritative; job-level knobs
        # (violation caching for the batched loop, action pipelining)
        # stay with the CLI
        cfg = suite.cfg
        if (
            args.partition_col != "part"
            and args.partition_col != cfg.partition_col
        ):
            raise SystemExit(
                f"--partition-col {args.partition_col!r} conflicts with the"
                f" suite's engine.partition_col {cfg.partition_col!r};"
                " declare it in one place"
            )
        cfg.persist_violations = True
        cfg.concurrent_actions = (
            None if args.actions == "auto" else args.actions == "concurrent"
        )
    else:
        cfg = EngineConfig(
            partition_col=args.partition_col,
            persist_violations=True,
            concurrent_actions=(
                None if args.actions == "auto" else args.actions == "concurrent"
            ),
        )

    from taco_toolbox_spark.sources.catalog import snapshot_id as snap

    current_snapshot = snap(spark, args.input)
    manifest = CheckpointManifest.load_or_create(
        manifest_path, run_id, args.input, snapshot_id=current_snapshot
    )
    digest_cols = (
        [c for c in args.record_digests.split(",") if c]
        if args.record_digests
        else None
    )
    if digest_cols:
        # pure-metadata compatibility check, BEFORE any batch burns its
        # writes: mixing digest params across runs is a startup error
        from taco_toolbox_spark.checkpoint import ensure_digest_params

        try:
            ensure_digest_params(manifest, digest_cols)
        except ValueError as e:
            raise SystemExit(f"--record-digests: {e}")
    if args.resume and args.record_sketches:
        # same up-front rule for quantile-sketch state: KLL bytes must not
        # land beside a previous run's t-digest centroids
        from taco_toolbox_spark.checkpoint import ensure_kll_sketch_state

        try:
            ensure_kll_sketch_state(manifest)
        except ValueError as e:
            raise SystemExit(f"--record-sketches: {e}")
    if args.resume:
        pinned = manifest.doc.get("snapshot_id")
        if pinned and pinned != current_snapshot:
            raise SystemExit(
                f"refusing to resume: input data version changed "
                f"(manifest pinned {pinned}, current {current_snapshot}); "
                "start a fresh run"
            )
        df = manifest.pending_filter(df, cfg.partition_col)
    if df.select(cfg.partition_col).limit(1).count() == 0:
        print("nothing pending — all partitions already validated")
        if args.diff_against:
            _emit_verdict_diff(spark, args)
        if stop_session:
            spark.stop()
        return 0

    if suite is not None:
        checks = list(suite.checks)
        # coverage lint: a declared suite with a silent blind spot is the
        # exact failure mode a validation run should surface up front
        from taco_toolbox_spark.suite import rule_coverage

        uncovered = [
            c for c, ids in rule_coverage(suite, df.columns).items() if not ids
        ]
        if uncovered:
            print(f"suite coverage warning: no rule touches {uncovered}")
    else:
        checks = transcript_checks(reference=ref) if ref is not None else [
            c for c in transcript_checks()
            if c.check_id not in ("text_len_drift", "text_equality")
        ]
    if args.role_grammar:
        from taco_toolbox_spark.checks import role_sequence_check

        checks.append(role_sequence_check())
    if args.role_close:
        from taco_toolbox_spark.checks import ROLE_LAST, role_sequence_check

        checks.append(
            role_sequence_check(
                check_id="role_close", allowed=None, first=None, last=ROLE_LAST
            )
        )
    if args.max_gap is not None:
        from taco_toolbox_spark.checks import GapCheck

        checks.append(
            GapCheck(
                check_id="ts_gap",
                description=f"consecutive turns <= {args.max_gap}s apart",
                value_col="ts",
                max_step=args.max_gap,
            )
        )
    if args.max_rate:
        from taco_toolbox_spark.checks import RateCheck

        parts_ = args.max_rate.split(":")
        if len(parts_) != 2:
            raise SystemExit(
                f"--max-rate {args.max_rate!r}: expected SECONDS:MAX "
                "(e.g. 60:20)"
            )
        try:
            rate_seconds, rate_max = int(parts_[0]), int(parts_[1])
        except ValueError:
            raise SystemExit(
                f"--max-rate {args.max_rate!r}: SECONDS and MAX must be "
                "integers"
            ) from None
        try:
            checks.append(
                RateCheck(
                    check_id="turn_rate",
                    description=(
                        f"<= {rate_max} turns per conversation in any "
                        f"trailing {rate_seconds}s"
                    ),
                    value_col="ts",
                    seconds=rate_seconds,
                    max_events=rate_max,
                )
            )
        except ValueError as e:
            raise SystemExit(f"--max-rate: {e}") from None
    for spec in args.max_run or []:
        from taco_toolbox_spark.checks import RunLengthCheck

        parts_ = spec.split(":")
        if len(parts_) != 2 or not parts_[0]:
            raise SystemExit(
                f"--max-run {spec!r}: expected COL:N (e.g. role:8)"
            )
        try:
            run_max = int(parts_[1])
        except ValueError:
            raise SystemExit(
                f"--max-run {spec!r}: N must be an integer"
            ) from None
        try:
            checks.append(
                RunLengthCheck(
                    check_id=f"run_{parts_[0]}",
                    description=(
                        f"<= {run_max} consecutive equal {parts_[0]} "
                        "values per conversation"
                    ),
                    value_col=parts_[0],
                    max_run=run_max,
                )
            )
        except ValueError as e:
            raise SystemExit(f"--max-run: {e}") from None
    for spec in args.max_loop or []:
        from taco_toolbox_spark.checks import PeriodicLoopCheck

        parts_ = spec.split(":")
        if len(parts_) != 3 or not parts_[0]:
            raise SystemExit(
                f"--max-loop {spec!r}: expected COL:PERIOD:REPS "
                "(e.g. tool:2:4)"
            )
        try:
            loop_p, loop_r = int(parts_[1]), int(parts_[2])
        except ValueError:
            raise SystemExit(
                f"--max-loop {spec!r}: PERIOD and REPS must be integers"
            ) from None
        try:
            checks.append(
                PeriodicLoopCheck(
                    # period-qualified id: the flag is repeatable and two
                    # periods on one column is its natural repeated use
                    check_id=f"loop_{parts_[0]}_p{loop_p}",
                    description=(
                        f"<= {loop_r} reps of any period-{loop_p} "
                        f"{parts_[0]} cycle per conversation"
                    ),
                    value_col=parts_[0],
                    period=loop_p,
                    max_reps=loop_r,
                )
            )
        except ValueError as e:
            raise SystemExit(f"--max-loop: {e}") from None
    for spec in args.fd or []:
        from taco_toolbox_spark.checks import FunctionalDependencyCheck

        if spec.count("->") != 1:
            raise SystemExit(
                f"--fd {spec!r}: expected exactly one '->' as in "
                "'det1,det2->dep1,dep2'"
            )
        det_s, dep_s = spec.split("->", 1)
        det = [c.strip() for c in det_s.split(",") if c.strip()]
        dep = [c.strip() for c in dep_s.split(",") if c.strip()]
        if not det or not dep:
            raise SystemExit(
                f"--fd {spec!r}: both sides need at least one column"
            )
        checks.append(
            FunctionalDependencyCheck(
                check_id=f"fd_{'_'.join(det)}__{'_'.join(dep)}",
                description=f"{','.join(det)} -> {','.join(dep)}",
                determinant=det,
                dependent=dep,
                skip_null_determinant=not args.fd_null_strict,
            )
        )
    if args.cat_drift:
        if ref is None:
            raise SystemExit("--cat-drift requires --baseline")
        from taco_toolbox_spark.checks import CategoricalDriftCheck
        from taco_toolbox_spark.checks.drift import categorical_counts

        checks.append(
            CategoricalDriftCheck(
                check_id=f"{args.cat_drift}_cat_drift",
                description=f"{args.cat_drift} distribution vs baseline (TV)",
                cat_col=args.cat_drift,
                threshold=args.cat_drift_threshold,
                # resolved ONCE here: the batched loop below calls
                # run_validation per partition chunk, and a None baseline
                # would re-scan the reference table every batch
                baseline_counts=categorical_counts(ref, args.cat_drift),
            )
        )
    if args.volume_k is not None or args.volume_vs_manifest:
        from taco_toolbox_spark.checks import VolumeAnomalyCheck

        vol_k = 3.0 if args.volume_k is None else args.volume_k
        hist_counts = None
        if args.volume_vs_manifest:
            try:
                prev = CheckpointManifest.load(args.volume_vs_manifest)
            except OSError as e:
                raise SystemExit(
                    f"--volume-vs-manifest {args.volume_vs_manifest!r}: {e}"
                ) from None
            hist_counts = [
                int(rec["n_rows"])
                for rec in prev.doc["partitions"].values()
                if rec.get("n_rows") is not None
            ]
            if not hist_counts:
                raise SystemExit(
                    f"--volume-vs-manifest {args.volume_vs_manifest!r}: "
                    "manifest records no per-partition n_rows"
                )
        src = (
            f"manifest {args.volume_vs_manifest}"
            if hist_counts
            else "the pass's partitions"
        )
        try:
            checks.append(
                VolumeAnomalyCheck(
                    check_id="volume",
                    description=(
                        f"partition row count within median±{vol_k}·MAD "
                        f"of {src}"
                        + (
                            f" (relative floor {args.volume_rel})"
                            if args.volume_rel is not None
                            else ""
                        )
                    ),
                    k=vol_k,
                    history_counts=hist_counts,
                    rel=args.volume_rel,
                )
            )
        except ValueError as e:
            raise SystemExit(f"--volume-k/--volume-rel: {e}") from None
    for spec in args.null_drift or []:
        from taco_toolbox_spark.checks import CompletenessDriftCheck

        col, sep, tol_s = spec.rpartition(":")
        if not sep or not col:
            raise SystemExit(
                f"--null-drift {spec!r}: expected COL:TOL (e.g. tool:0.1)"
            )
        try:
            tol = float(tol_s)
        except ValueError:
            raise SystemExit(
                f"--null-drift {spec!r}: TOL must be a number"
            ) from None
        try:
            checks.append(
                CompletenessDriftCheck(
                    check_id=f"null_drift_{col}",
                    description=(
                        f"{col} null fraction within {tol} of the "
                        "pass-wide fraction"
                    ),
                    value_col=col,
                    tol=tol,
                )
            )
        except ValueError as e:
            raise SystemExit(f"--null-drift: {e}") from None
    for spec in args.distinct_band or []:
        from taco_toolbox_spark.checks import CardinalityAnomalyCheck

        col, sep, k_s = spec.rpartition(":")
        if not sep or not col:
            raise SystemExit(
                f"--distinct-band {spec!r}: expected COL:K "
                "(e.g. conv_id:3)"
            )
        try:
            band_k = float(k_s)
        except ValueError:
            raise SystemExit(
                f"--distinct-band {spec!r}: K must be a number"
            ) from None
        try:
            checks.append(
                CardinalityAnomalyCheck(
                    check_id=f"distinct_band_{col}",
                    description=(
                        f"distinct {col} per partition within "
                        f"median±{band_k}·MAD"
                    ),
                    value_col=col,
                    k=band_k,
                )
            )
        except ValueError as e:
            raise SystemExit(f"--distinct-band: {e}") from None

    # Crash-safe writes: outputs are partitioned by `part` and written with
    # dynamic partition overwrite, so re-validating a partition REPLACES its
    # rows instead of appending duplicates — a run killed between the data
    # writes and manifest.save() re-does only its unsaved batch and the
    # output stays exactly-once. The manifest is saved after every batch.
    # The conf is restored on exit: with stop_session=False the session is
    # shared, and later unrelated overwrite-mode writes must not silently
    # inherit dynamic semantics.
    _overwrite_key = "spark.sql.sources.partitionOverwriteMode"
    _overwrite_prev = spark.conf.get(_overwrite_key, None)
    spark.conf.set(_overwrite_key, "dynamic")
    part_str = F.col(cfg.partition_col).cast("string")
    pending_parts = [
        r[0] for r in df.select(part_str.alias("p")).distinct().orderBy("p").collect()
    ]
    batch = args.batch_parts if args.batch_parts > 0 else len(pending_parts)

    t0 = time.time()
    total_rows = 0
    n_failed = 0
    try:
        for i in range(0, len(pending_parts), batch):
            chunk = pending_parts[i : i + batch]
            bt0 = time.time()
            cdf = df.filter(part_str.isin(chunk))
            res = run_validation(cdf, checks, cfg, baseline=ref)

            def _write(out, name):
                out.repartition("part").write.mode("overwrite").partitionBy(
                    "part"
                ).parquet(os.path.join(args.output, name))

            # Action mode: pipelining independent queries overlaps
            # scheduler/AQE round-trips with compute while the combined
            # working set stays cache-resident, but past the crossover
            # (scale.concurrent_actions) the concurrent scans thrash
            # shared bandwidth and sequential wins. In AUTO mode the
            # per-partition row counts (a cheap single-column aggregation,
            # needed for the manifest anyway) run first to decide; when
            # the mode is FORCED they are just metadata and overlap
            # phase 1 instead of blocking it.
            from concurrent.futures import ThreadPoolExecutor

            def _counts() -> dict:
                return {
                    r["p"]: r["n"]
                    for r in cdf.groupBy(part_str.alias("p"))
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }

            if cfg.concurrent_actions is None:
                counts = _counts()
                pipelined = cfg.resolve_concurrent_actions(sum(counts.values()))
            else:
                counts = None
                pipelined = cfg.concurrent_actions

            stats_df = column_stats(cdf, cfg.partition_col)
            if pipelined:
                # Phase 1: the violations write materializes the persisted
                # battery; the stats scan (and, in forced mode, the counts)
                # are independent. Phase 2 (cache now warm): the verdict
                # matrix is written and collected — both read the cached
                # violation sliver.
                with ThreadPoolExecutor(3) as pool:
                    f_viol = pool.submit(_write, res.violations, "violations")
                    f_stats = pool.submit(_write, stats_df, "stats")
                    f_counts = pool.submit(_counts) if counts is None else None
                    f_viol.result()
                    f_stats.result()
                    if f_counts is not None:
                        counts = f_counts.result()
                with ThreadPoolExecutor(2) as pool:
                    f_vw = pool.submit(_write, res.verdicts, "verdicts")
                    f_vc = pool.submit(res.verdicts.collect)
                    f_vw.result()
                    verdict_rows = f_vc.result()
            else:
                if counts is None:
                    counts = _counts()
                _write(res.violations, "violations")
                _write(stats_df, "stats")
                _write(res.verdicts, "verdicts")
                verdict_rows = res.verdicts.collect()

            by_part: dict[str, dict[str, int]] = {}
            for r in verdict_rows:
                by_part.setdefault(r["part"], {})[r["check_id"]] = int(r["n_violations"])
            bsec = time.time() - bt0
            for part in chunk:
                manifest.record_partition(
                    part,
                    by_part.get(part, {}),
                    n_rows=counts.get(part, 0),
                    metrics={"batch_sec": round(bsec, 2)},
                )
            if args.record_sketches:
                # AFTER record_partition (which rewrites each record):
                # sketch state rides the same per-batch checkpoint. Both
                # recorders are skipped (with a note) when their column is
                # absent from a non-transcript input — a missing optional
                # artifact must not kill the batch after its heavy writes
                # landed but before the manifest checkpoint. The two
                # independent aggregations pipeline under the same
                # crossover rule as the main phases.
                from taco_toolbox_spark.checkpoint import (
                    record_distinct_state,
                    record_sketch_state,
                )

                jobs = []
                cols = set(cdf.columns)
                if args.sketch_distinct in cols:
                    jobs.append(
                        lambda: record_distinct_state(
                            manifest, cdf, [args.sketch_distinct],
                            cfg.partition_col,
                        )
                    )
                else:
                    print(f"sketch: no column {args.sketch_distinct!r}; "
                          "skipping distinct state")
                try:
                    cdf.selectExpr(args.sketch_expr)  # analysis only
                    jobs.append(
                        lambda: record_sketch_state(
                            manifest, cdf, args.sketch_expr, cfg.partition_col
                        )
                    )
                except Exception:
                    print(f"sketch: expr {args.sketch_expr!r} does not "
                          "resolve on this input; skipping quantile state")
                if args.cat_drift and args.cat_drift in cols:
                    from taco_toolbox_spark.checkpoint import (
                        record_categorical_state,
                    )

                    jobs.append(
                        lambda: record_categorical_state(
                            manifest, cdf, args.cat_drift, cfg.partition_col
                        )
                    )
                if pipelined and len(jobs) > 1:
                    with ThreadPoolExecutor(len(jobs)) as pool:
                        for f in [pool.submit(j) for j in jobs]:
                            f.result()
                else:
                    for j in jobs:
                        j()
            if digest_cols:
                from taco_toolbox_spark.checkpoint import record_digest_state

                missing = [c for c in digest_cols if c not in cdf.columns]
                if missing:
                    print(f"digest: no column(s) {missing}; skipping "
                          "digest state")
                else:
                    record_digest_state(
                        manifest, cdf, digest_cols, cfg.partition_col
                    )
            manifest.save()  # checkpoint AFTER the idempotent writes land
            total_rows += sum(counts.values())
            n_failed += sum(1 for r in verdict_rows if not r["passed"])
            if cfg.persist_violations:
                res.violations.unpersist()
    finally:
        if _overwrite_prev is None:
            spark.conf.unset(_overwrite_key)
        else:
            spark.conf.set(_overwrite_key, _overwrite_prev)

    if args.diff_against:
        _emit_verdict_diff(spark, args)

    elapsed = time.time() - t0
    print(
        f"validated {total_rows:,} rows in {elapsed:.1f}s "
        f"({total_rows / max(elapsed, 1e-9):,.0f} rows/sec) over "
        f"{len(pending_parts)} partitions in batches of {batch}; "
        f"{n_failed} failing (partition, check) cells; "
        f"manifest: {manifest_path}"
    )
    if stop_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
