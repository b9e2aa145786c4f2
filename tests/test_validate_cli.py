"""End-to-end crash-safety contract of the spark-submit job:

- outputs are partitioned by `part` and written with dynamic overwrite, so
  re-validating a partition REPLACES its rows (no duplicates, ever);
- the manifest is saved after every batch, so a killed run loses at most
  one batch of progress and --resume skips everything recorded.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobs.validate import main as validate_main  # noqa: E402


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    from taco_toolbox_spark.datagen import generate_transcripts, write_corpus

    d = tmp_path_factory.mktemp("cli_corpus")
    corpus = generate_transcripts(spark, n_convs=150, seed=11, violation_denom=200)
    write_corpus(corpus, str(d))
    return str(d)


def test_batched_run_resume_and_idempotency(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "out")
    manifest_path = os.path.join(out, "manifest.json")
    args = [
        "--input", f"{corpus_dir}/transcripts",
        "--baseline", f"{corpus_dir}/transcripts_baseline",
        "--output", out,
        "--batch-parts", "40",
    ]
    assert validate_main(args + ["--run-id", "r1"], stop_session=False) == 0

    doc = json.load(open(manifest_path))
    parts = sorted(doc["partitions"])
    assert len(parts) >= 3
    assert all(rec["status"] == "done" for rec in doc["partitions"].values())

    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    viol = spark.read.parquet(os.path.join(out, "violations"))
    n_verd, n_viol = verd.count(), viol.count()
    # one verdict row per (part, check); no duplicates from batching
    assert verd.groupBy("part", "check_id").count().filter("count > 1").count() == 0

    # simulate a crash AFTER a partition's data write but BEFORE its
    # manifest record: drop the last partition's record and resume —
    # dynamic overwrite must replace that partition's rows, not append
    doc["partitions"].pop(parts[-1])
    json.dump(doc, open(manifest_path, "w"))
    assert validate_main(args + ["--resume", "--run-id", "r1"], stop_session=False) == 0

    assert spark.read.parquet(os.path.join(out, "verdicts")).count() == n_verd
    assert spark.read.parquet(os.path.join(out, "violations")).count() == n_viol

    # fully-done resume is a no-op
    assert validate_main(args + ["--resume", "--run-id", "r1"], stop_session=False) == 0
    assert spark.read.parquet(os.path.join(out, "verdicts")).count() == n_verd


def test_sequential_actions_flag(spark, corpus_dir, tmp_path):
    """--actions sequential must produce byte-identical outputs to the
    pipelined default (the mode is a scheduling choice, not a semantic
    one)."""
    out = str(tmp_path / "out_seq")
    args = [
        "--input", f"{corpus_dir}/transcripts",
        "--baseline", f"{corpus_dir}/transcripts_baseline",
        "--output", out,
        "--actions", "sequential",
    ]
    assert validate_main(args + ["--run-id", "rs"], stop_session=False) == 0
    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    assert verd.filter("NOT passed").count() > 0


def test_scale_rules():
    """r3 weak-scaling rules are library API: bucket count follows
    rows-per-bucket (floor 64) and the action mode follows the corpus-size
    crossover; EngineConfig(None) defers to the rule, a bool forces it."""
    from taco_toolbox_spark.engine import EngineConfig
    from taco_toolbox_spark.scale import bucket_count, concurrent_actions

    assert bucket_count(1_000) == 64                 # floor for small corpora
    assert bucket_count(16_000_000) == 64            # 16M turns -> 64 x 250k
    assert bucket_count(64_000_000) == 256           # 4x data -> 4x buckets
    assert concurrent_actions(16_000_000) is True    # cache-resident: pipeline
    assert concurrent_actions(64_000_000) is False   # past crossover: sequential

    assert EngineConfig().resolve_concurrent_actions(16_000_000) is True
    assert EngineConfig().resolve_concurrent_actions(64_000_000) is False
    assert EngineConfig(concurrent_actions=True).resolve_concurrent_actions(
        10**12
    ) is True
    assert EngineConfig(concurrent_actions=False).resolve_concurrent_actions(
        1
    ) is False

    # packing buckets have NO 64-floor: each extra bucket can cost one
    # under-filled shard, so small corpora pack in a single exact walk
    from taco_toolbox_spark.scale import pack_bucket_count

    assert pack_bucket_count(433) == 1
    assert pack_bucket_count(250_000) == 1
    assert pack_bucket_count(250_001) == 2
    assert pack_bucket_count(63_000_000) == 252


def test_curate_pipeline(tmp_path, spark):
    """End-to-end corpus curation: quality gate -> deterministic sample ->
    exact + near dedup -> token-budget shards, with a funnel manifest.
    Built on a corpus with planted exact and near duplicates."""
    import json

    import jobs.curate as jc
    from pyspark.sql import functions as F

    base = [
        (i, f"unique document number {i} with alpha beta gamma delta", "web")
        for i in range(40)
    ]
    exact_dups = [(100 + i, base[i][1], "web") for i in range(5)]
    near_dups = [
        (200 + i, base[i][1] + " epsilon", "books") for i in range(5)
    ]
    short = [(300 + i, "tiny", "web") for i in range(3)]  # fails min-tokens
    docs = spark.createDataFrame(
        base + exact_dups + near_dups + short,
        "doc_id long, text string, source string",
    )
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    out = str(tmp_path / "curated")

    rc = jc.main(
        ["--input", inp, "--output", out, "--min-tokens", "3",
         "--jaccard-threshold", "0.5", "--max-shard-tokens", "40"],
        stop_session=False,  # shared test session
    )
    assert rc == 0
    m = json.load(open(f"{out}/manifest.json"))
    f_ = m["funnel"]
    assert f_["input"] == 53 and f_["quality_gate"] == 50  # 3 shorts dropped
    assert f_["exact_deduped"] == 45  # 5 exact dups gone
    assert f_["near_deduped"] <= 45 - 4  # near dups clustered away
    shards = spark.read.parquet(f"{out}/shards")
    assert shards.count() == f_["near_deduped"]
    per = shards.groupBy("shard").agg(F.sum("n_tokens").alias("t"))
    assert per.filter(F.col("t") > 40).count() == 0  # cap respected
    # deterministic: rerun produces the identical kept set
    out2 = str(tmp_path / "curated2")
    jc.main(
        ["--input", inp, "--output", out2, "--min-tokens", "3",
         "--jaccard-threshold", "0.5", "--max-shard-tokens", "40"],
        stop_session=False,
    )
    a = {r.doc_id for r in shards.select("doc_id").collect()}
    b = {r.doc_id for r in
         spark.read.parquet(f"{out2}/shards").select("doc_id").collect()}
    assert a == b


def test_curate_decontaminate_and_redact(tmp_path, spark):
    """--decontaminate-against drops docs overlapping the benchmark set
    (funnel reports the stage); --redact-pii strips PII from shard text
    while dedup still saw the original bytes."""
    import json

    import jobs.curate as jc
    from pyspark.sql import functions as F

    bench_text = "which team won the world cup final in nineteen sixty six"
    docs = spark.createDataFrame(
        [
            (0, bench_text + " extra words to vary it", "web"),  # leaked
            (1, "clean doc with email a@b.com inside alpha beta gamma", "web"),
            (2, "another clean doc zeta eta theta iota kappa", "web"),
        ],
        "doc_id long, text string, source string",
    )
    bench = spark.createDataFrame(
        [(900, bench_text)], "doc_id long, text string"
    )
    inp, bdir, out = (str(tmp_path / d) for d in ("docs", "bench", "out"))
    docs.write.parquet(inp)
    bench.write.parquet(bdir)

    rc = jc.main(
        ["--input", inp, "--output", out, "--min-tokens", "2",
         "--decontaminate-against", bdir, "--decontam-min-overlap", "3",
         "--redact-pii", "--max-shard-tokens", "1000"],
        stop_session=False,
    )
    assert rc == 0
    m = json.load(open(f"{out}/manifest.json"))
    assert m["funnel"]["exact_deduped"] == 3
    assert m["funnel"]["decontaminated"] == 2  # leaked doc dropped
    shards = spark.read.parquet(f"{out}/shards")
    kept = {r["doc_id"] for r in shards.select("doc_id").collect()}
    assert kept == {1, 2}
    redacted = shards.filter(F.col("doc_id") == 1).select("text").first()["text"]
    assert "[email]" in redacted and "a@b.com" not in redacted


def test_curate_incremental_dedup_against_existing(tmp_path, spark):
    """--dedup-against drops batch docs that exactly or nearly match the
    EXISTING corpus (funnel reports vs_existing); genuinely new docs
    survive to the shards."""
    import json

    import jobs.curate as jc

    existing = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog today", "web"),
            (101, "settled corpus doc about distributed query engines", "web"),
        ],
        "doc_id long, text string, source string",
    )
    batch = spark.createDataFrame(
        [
            # exact (normalization) dup of existing 100
            (1, "The QUICK brown   fox jumps over the lazy dog today", "web"),
            # near dup of existing 100 (one token differs)
            (2, "the quick brown fox jumps over the lazy cat today", "web"),
            # genuinely new
            (3, "fresh document with entirely novel content and words", "web"),
        ],
        "doc_id long, text string, source string",
    )
    inp, exdir, out = (str(tmp_path / d) for d in ("batch", "existing", "out"))
    batch.write.parquet(inp)
    existing.write.parquet(exdir)

    rc = jc.main(
        ["--input", inp, "--output", out, "--min-tokens", "2",
         "--dedup-against", exdir, "--jaccard-threshold", "0.5",
         "--max-shard-tokens", "1000"],
        stop_session=False,
    )
    assert rc == 0
    m = json.load(open(f"{out}/manifest.json"))
    assert m["funnel"]["exact_deduped"] == 3
    assert m["funnel"]["vs_existing"] == 1  # docs 1 and 2 dropped
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/shards").select("doc_id").collect()
    }
    assert kept == {3}


def test_write_bucketed_scales_bucket_count(spark, tmp_path):
    """write_bucketed(n_buckets=None) picks the data-scaled count."""
    from taco_toolbox_spark.operators.bucketing import write_bucketed

    df = spark.range(1000).selectExpr("id AS conv_id", "id % 7 AS v")
    n = write_bucketed(
        df,
        "t_scaled_buckets",
        ["conv_id"],
        n_buckets=None,
        path=str(tmp_path / "scaled_buckets"),
    )
    assert n == 64  # floor
    spark.sql("DROP TABLE IF EXISTS t_scaled_buckets")


def test_record_sketches_flag(spark, corpus_dir, tmp_path):
    """--record-sketches persists mergeable quantile + distinct state per
    partition in the manifest; a fresh session merges them into global
    answers without touching the data."""
    from taco_toolbox_spark.checkpoint import (
        CheckpointManifest,
        merged_distinct_from_manifest,
        merged_quantiles_from_manifest,
    )

    out = str(tmp_path / "out_sk")
    manifest_path = os.path.join(out, "manifest.json")
    args = [
        "--input", f"{corpus_dir}/transcripts",
        "--baseline", f"{corpus_dir}/transcripts_baseline",
        "--output", out,
        "--record-sketches",
    ]
    assert validate_main(args + ["--run-id", "rk"], stop_session=False) == 0

    m = CheckpointManifest.load_or_create(
        manifest_path, "rk", f"{corpus_dir}/transcripts"
    )
    some = next(iter(m.doc["partitions"].values()))
    assert "length(text)" in some["sketch"] and "conv_id" in some["distinct"]

    q = merged_quantiles_from_manifest(m, "length(text)", (0.5,))
    import pandas as pd

    pdf = spark.read.parquet(f"{corpus_dir}/transcripts").toPandas()
    exact_med = pdf.text.str.len().median()
    assert abs(q[0] - exact_med) <= max(3.0, 0.1 * exact_med)
    est = merged_distinct_from_manifest(spark, m, "conv_id")
    exact = pdf.conv_id.nunique()
    assert abs(est - exact) / exact < 0.05


def test_resume_refuses_centroid_sketch_state(corpus_dir, tmp_path):
    """--resume --record-sketches over a manifest whose sketch state is
    pre-KLL t-digest centroids stops before the first batch, naming the
    partitions, instead of writing KLL bytes beside them."""
    out = tmp_path / "out_old_sk"
    out.mkdir()
    manifest_path = out / "manifest.json"
    old = {"means": [5.0], "weights": [1.0], "n": 1, "vmin": 5.0, "vmax": 5.0}
    manifest_path.write_text(
        json.dumps(
            {
                "run_id": "old",
                "input_path": f"{corpus_dir}/transcripts",
                "snapshot_id": None,
                "created_at": 0.0,
                "partitions": {
                    "1999-01-01": {
                        "status": "done",
                        "sketch": {"length(text)": old},
                    }
                },
            }
        )
    )
    with pytest.raises(SystemExit, match=r"--record-sketches: .*1999-01-01"):
        validate_main(
            [
                "--input", f"{corpus_dir}/transcripts",
                "--output", str(out),
                "--resume",
                "--record-sketches",
            ],
            stop_session=False,
        )
    assert not (out / "verdicts").exists()


def test_validate_cli_role_grammar_and_cat_drift(spark, corpus_dir, tmp_path):
    """--role-grammar surfaces bad_role injections as transition
    violations; --cat-drift judges per-partition role distributions against
    the clean baseline (resolved once, not per batch)."""
    out = str(tmp_path / "out_grammar")
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--baseline", f"{corpus_dir}/transcripts_baseline",
            "--output", out,
            "--role-grammar",
            "--role-close",
            "--max-gap", "120",
            "--cat-drift", "role",
            "--cat-drift-threshold", "0.25",
            "--record-sketches",
            "--run-id", "rg",
        ],
        stop_session=False,
    )
    assert rc == 0
    from taco_toolbox_spark.checkpoint import (
        CheckpointManifest,
        merged_categorical_from_manifest,
    )
    from taco_toolbox_spark.checks.drift import categorical_counts, categorical_tv

    # --record-sketches + --cat-drift persists per-partition histograms;
    # merging them rebuilds the corpus-wide distribution exactly
    m = CheckpointManifest.load_or_create(
        os.path.join(out, "manifest.json"), "rg", f"{corpus_dir}/transcripts"
    )
    corrupted = spark.read.parquet(f"{corpus_dir}/transcripts")
    assert merged_categorical_from_manifest(m, "role") == categorical_counts(
        corrupted, "role"
    )
    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    checks = {r["check_id"] for r in verd.select("check_id").distinct().collect()}
    assert {"role_transitions", "role_close", "ts_gap", "role_cat_drift"} <= checks
    viol = spark.read.parquet(os.path.join(out, "violations"))
    n_grammar = viol.filter("check_id = 'role_transitions'").count()
    assert n_grammar > 0  # bad_role injections must surface
    # ts_regress recovery jumps (~+3600s) must surface as gap violations
    assert viol.filter("check_id = 'ts_gap'").count() > 0
    # the CLI's drift verdicts must equal a direct categorical_tv pass
    # (small partitions CAN legitimately drift by sampling noise — what is
    # on trial is that the CLI judges exactly the same set)
    base = categorical_counts(
        spark.read.parquet(f"{corpus_dir}/transcripts_baseline"), "role"
    )
    expected_failed = {
        r["part"]
        for r in categorical_tv(corrupted, "role", "part", base)
        .filter("tv > 0.25")
        .collect()
    }
    cli_failed = {
        r["part"]
        for r in verd.filter("check_id = 'role_cat_drift' AND NOT passed").collect()
    }
    assert cli_failed == expected_failed


def test_validate_cli_cat_drift_requires_baseline(corpus_dir, tmp_path):
    with pytest.raises(SystemExit, match="requires --baseline"):
        validate_main(
            [
                "--input", f"{corpus_dir}/transcripts",
                "--output", str(tmp_path / "x"),
                "--cat-drift", "role",
            ],
            stop_session=False,
        )


def test_curate_remove_boilerplate_stage(tmp_path, spark):
    """--remove-boilerplate splices the shared footer out of surviving
    documents AFTER dedup decisions (planted near-dups still cluster on
    original bytes) and repacks shards on the CLEANED token counts."""
    import jobs.curate as jc

    # body is 6 words + 4-word footer = 10 words; with block_words=5 the
    # second aligned block ("beta " + footer) is identical across docs
    footer = "shared boilerplate footer block"
    docs = spark.createDataFrame(
        [
            (i, f"document body number {i} alpha beta {footer}", "web")
            for i in range(10)
        ]
        + [(50, "no footer in this one at all", "web")],
        "doc_id long, text string, source string",
    )
    inp = str(tmp_path / "docs_bp")
    docs.write.parquet(inp)
    out = str(tmp_path / "curated_bp")
    rc = jc.main(
        ["--input", inp, "--output", out, "--min-tokens", "3",
         "--skip-near-dedup", "--remove-boilerplate", "5",
         "--boilerplate-block-words", "5", "--max-shard-tokens", "1000"],
        stop_session=False,
    )
    assert rc == 0
    shards = spark.read.parquet(f"{out}/shards")
    texts = {r["doc_id"]: r["text"] for r in shards.collect()}
    assert len(texts) == 11
    # the aligned trailing 5-word block (the footer) is gone from each
    # 10-word doc; the unique bodies survive verbatim
    for i in range(10):
        assert footer not in texts[i]
        assert f"document body number {i} alpha" in texts[i]
    assert texts[50] == "no footer in this one at all"
    # n_tokens reflects the cleaned text, not the original
    toks = {r["doc_id"]: r["n_tokens"] for r in
            shards.select("doc_id", "n_tokens").collect()}
    assert toks[0] == 5  # 10-word doc minus the removed 5-word block


def test_curate_incremental_with_bloom_manifest(tmp_path, spark):
    """--existing-bloom-manifest pre-tests the exact check with the
    corpus's recorded Bloom state; funnel and survivors are identical to
    the no-bloom run (one-sidedness), and a missing/empty manifest fails
    loudly before any work."""
    import json

    import jobs.curate as jc
    from pyspark.sql import functions as F
    from taco_toolbox_spark.checkpoint import (
        CheckpointManifest,
        record_bloom_state,
    )
    from taco_toolbox_spark.dedup.incremental import exact_keys

    existing = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog today", "web"),
            (101, "settled corpus doc about distributed query engines", "web"),
        ],
        "doc_id long, text string, source string",
    )
    batch = spark.createDataFrame(
        [
            (1, "The QUICK brown   fox jumps over the lazy dog today", "web"),
            (2, "the quick brown fox jumps over the lazy cat today", "web"),
            (3, "fresh document with entirely novel content and words", "web"),
        ],
        "doc_id long, text string, source string",
    )
    inp, exdir, out = (str(tmp_path / d) for d in ("batch", "existing", "out"))
    batch.write.parquet(inp)
    existing.write.parquet(exdir)

    # record the existing corpus's bloom state the way its build job would:
    # over exact_keys, partitioned by source
    man_path = str(tmp_path / "existing_manifest.json")
    man = CheckpointManifest.load_or_create(man_path, "bloom", exdir)
    keyed = exact_keys(
        spark.read.parquet(exdir), id_col=None
    ).withColumn("part", F.lit("all"))
    record_bloom_state(man, keyed, ["_k"], num_bits=2048, num_hashes=4)
    man.save()

    rc = jc.main(
        ["--input", inp, "--output", out, "--min-tokens", "2",
         "--dedup-against", exdir, "--jaccard-threshold", "0.5",
         "--existing-bloom-manifest", man_path,
         "--max-shard-tokens", "1000"],
        stop_session=False,
    )
    assert rc == 0
    m = json.load(open(f"{out}/manifest.json"))
    assert m["funnel"]["vs_existing"] == 1  # identical to the no-bloom run

    with pytest.raises(SystemExit, match="does not exist"):
        jc.main(
            ["--input", inp, "--output", str(tmp_path / "out2"),
             "--min-tokens", "2", "--dedup-against", exdir,
             "--existing-bloom-manifest", str(tmp_path / "missing.json"),
             "--max-shard-tokens", "1000"],
            stop_session=False,
        )


def test_validate_cli_fd_flag(spark, corpus_dir, tmp_path):
    """--fd tool->role compiles a per-partition FunctionalDependencyCheck;
    the tool_on_chat / bad_role corruptions must surface and the flagged
    determinants must be real tool names (NULL tools exempt by default)."""
    out = str(tmp_path / "out_fd")
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--output", out,
            "--fd", "tool->role",
            "--run-id", "fd",
        ],
        stop_session=False,
    )
    assert rc == 0
    viol = spark.read.parquet(os.path.join(out, "violations")).filter(
        "check_id = 'fd_tool__role'"
    )
    rows = viol.collect()
    assert rows
    from taco_toolbox_spark.schema import TOOL_VOCAB

    assert {r["conv_id"] for r in rows} <= set(TOOL_VOCAB)


def test_validate_cli_fd_bad_spec(corpus_dir, tmp_path):
    with pytest.raises(SystemExit, match="expected"):
        validate_main(
            [
                "--input", f"{corpus_dir}/transcripts",
                "--output", str(tmp_path / "y"),
                "--fd", "tool role",
            ],
            stop_session=False,
        )


def test_validate_cli_fd_double_arrow_rejected(corpus_dir, tmp_path):
    with pytest.raises(SystemExit, match="exactly one"):
        validate_main(
            [
                "--input", f"{corpus_dir}/transcripts",
                "--output", str(tmp_path / "z"),
                "--fd", "tool->role->part",
            ],
            stop_session=False,
        )


def test_validate_cli_max_rate(spark, corpus_dir, tmp_path):
    """--max-rate adds the trailing-window RateCheck (a tight bound on
    the hot conversations must fire); a malformed spec exits cleanly
    before any JVM work."""
    out = str(tmp_path / "rate_out")
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--output", out,
            "--max-rate", "3600:3",
        ],
        stop_session=False,
    )
    assert rc in (0, 1)
    viol = spark.read.parquet(f"{out}/violations").filter(
        "check_id = 'turn_rate'"
    )
    assert viol.count() > 0  # hot conversations burst past 3/hour

    with pytest.raises(SystemExit, match="SECONDS:MAX"):
        validate_main(
            ["--input", f"{corpus_dir}/transcripts",
             "--output", str(tmp_path / "r2"), "--max-rate", "60"],
            stop_session=False,
        )
    with pytest.raises(SystemExit, match="integers"):
        validate_main(
            ["--input", f"{corpus_dir}/transcripts",
             "--output", str(tmp_path / "r3"), "--max-rate", "60:abc"],
            stop_session=False,
        )


def test_validate_cli_diff_against(spark, corpus_dir, tmp_path):
    """Two runs + --diff-against: a clean-baseline run diffed against the
    corrupted run surfaces every failing cell as new_failure."""
    out_prev = str(tmp_path / "run_prev")
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts_baseline",
            "--output", out_prev,
            "--run-id", "prev",
        ],
        stop_session=False,
    )
    assert rc == 0
    out_cur = str(tmp_path / "run_cur")
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--output", out_cur,
            "--diff-against", os.path.join(out_prev, "verdicts"),
            "--run-id", "cur",
        ],
        stop_session=False,
    )
    assert rc == 0
    diff = spark.read.parquet(os.path.join(out_cur, "verdict_diff"))
    statuses = {r["status"] for r in diff.select("status").distinct().collect()}
    assert "new_failure" in statuses
    n_fail = (
        spark.read.parquet(os.path.join(out_cur, "verdicts"))
        .filter("NOT passed")
        .count()
    )
    assert diff.filter("status = 'new_failure'").count() == n_fail


def test_validate_cli_diff_against_on_nothing_pending(
    spark, corpus_dir, tmp_path, capsys
):
    """--resume with nothing pending must STILL emit the verdict diff —
    the recurring no-new-data rerun is exactly when the what-changed
    answer matters."""
    out_prev = str(tmp_path / "np_prev")
    assert validate_main(
        ["--input", f"{corpus_dir}/transcripts_baseline",
         "--output", out_prev, "--run-id", "p"],
        stop_session=False,
    ) == 0
    out_cur = str(tmp_path / "np_cur")
    args = [
        "--input", f"{corpus_dir}/transcripts",
        "--output", out_cur,
        "--diff-against", os.path.join(out_prev, "verdicts"),
        "--run-id", "c",
    ]
    assert validate_main(args, stop_session=False) == 0
    # rerun with --resume: all partitions done -> early exit path
    assert validate_main(args + ["--resume"], stop_session=False) == 0
    captured = capsys.readouterr().out
    assert "nothing pending" in captured
    assert "verdict diff vs previous run" in captured.rsplit(
        "nothing pending", 1
    )[1]
    diff = spark.read.parquet(os.path.join(out_cur, "verdict_diff"))
    assert diff.filter("status = 'new_failure'").count() > 0


def test_validate_cli_suite_flag(spark, corpus_dir, tmp_path):
    """--suite replaces the stock battery with the declared one: the run
    executes exactly the declared check ids (plus any flag extras), honors
    the suite's engine section, and surfaces the coverage lint."""
    from taco_toolbox_spark.suite import transcript_suite_spec

    spec = transcript_suite_spec()
    # declare ONLY a slim battery to prove replacement (not augmentation)
    spec["checks"] = [
        e for e in spec["checks"]
        if e["id"] in ("unique_turn", "role_vocab", "text_not_null")
    ] + [
        {"type": "row", "id": "declared_rule",
         "predicate": "turn_idx < 100000"},
    ]
    suite_path = tmp_path / "suite.json"
    suite_path.write_text(json.dumps(spec))
    out = str(tmp_path / "out")
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--output", out,
            "--suite", str(suite_path),
            "--run-id", "rs",
        ],
        stop_session=False,
    )
    assert rc == 0
    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    got = {r["check_id"] for r in verd.select("check_id").distinct().collect()}
    assert got == {"unique_turn", "role_vocab", "text_not_null",
                   "declared_rule"}


def test_validate_cli_suite_flag_composes_with_fd(spark, corpus_dir, tmp_path):
    from taco_toolbox_spark.suite import transcript_suite_spec

    spec = transcript_suite_spec()
    spec["checks"] = [
        e for e in spec["checks"] if e["id"] == "text_not_null"
    ]
    suite_path = tmp_path / "suite.json"
    suite_path.write_text(json.dumps(spec))
    out = str(tmp_path / "out")
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--output", out,
            "--suite", str(suite_path),
            "--fd", "tool->role",
            "--run-id", "rs2",
        ],
        stop_session=False,
    )
    assert rc == 0
    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    got = {r["check_id"] for r in verd.select("check_id").distinct().collect()}
    assert got == {"text_not_null", "fd_tool__role"}


def test_validate_cli_suite_errors(corpus_dir, tmp_path):
    # malformed suite -> clean SystemExit naming the file
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"checks": [{"type": "nope", "id": "x"}]}))
    with pytest.raises(SystemExit, match="bad.json"):
        validate_main(
            ["--input", f"{corpus_dir}/transcripts",
             "--output", str(tmp_path / "o1"), "--suite", str(bad)],
            stop_session=False,
        )
    # drift without inline baseline and no --baseline -> actionable exit
    drift = tmp_path / "drift.json"
    drift.write_text(json.dumps(
        {"checks": [{"type": "drift", "id": "d", "expr": "length(text)"}]}
    ))
    with pytest.raises(SystemExit, match="baseline"):
        validate_main(
            ["--input", f"{corpus_dir}/transcripts",
             "--output", str(tmp_path / "o2"), "--suite", str(drift)],
            stop_session=False,
        )
    # conflicting partition-col declarations -> refuse
    ok = tmp_path / "ok.json"
    ok.write_text(json.dumps(
        {"engine": {"partition_col": "part"},
         "checks": [{"type": "not_null", "id": "t", "col": "text"}]}
    ))
    with pytest.raises(SystemExit, match="conflicts"):
        validate_main(
            ["--input", f"{corpus_dir}/transcripts",
             "--output", str(tmp_path / "o3"), "--suite", str(ok),
             "--partition-col", "other"],
            stop_session=False,
        )


def test_validate_cli_record_digests(spark, corpus_dir, tmp_path):
    """--record-digests leaves a certification anchor in the manifest:
    every validated partition carries its content digest, and a rewrite
    of the corpus certifies against the manifest without rescanning."""
    import pyspark.sql.functions as F

    from taco_toolbox_spark.checkpoint import (
        CheckpointManifest,
        digest_frame_from_manifest,
    )
    from taco_toolbox_spark.operators.digest import (
        content_digest,
        digest_mismatches,
    )

    out = str(tmp_path / "out")
    cols = "conv_id,turn_idx,role,text"
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--baseline", f"{corpus_dir}/transcripts_baseline",
            "--output", out,
            "--record-digests", cols,
        ],
        stop_session=False,
    )
    assert rc == 0
    m = CheckpointManifest.load_or_create(
        os.path.join(out, "manifest.json"), "r", f"{corpus_dir}/transcripts"
    )
    assert m.doc["digest_params"]["content_cols"] == cols.split(",")
    assert all("digest" in rec for rec in m.doc["partitions"].values())

    stored = digest_frame_from_manifest(spark, m)
    rewrite = spark.read.parquet(f"{corpus_dir}/transcripts").repartition(3)
    fresh = content_digest(
        rewrite.withColumn("part", F.col("part").cast("string")),
        cols.split(","),
        ["part"],
    )
    assert digest_mismatches(stored, fresh, ["part"]).count() == 0


def test_validate_cli_record_digests_param_mix_fails_fast(
    spark, corpus_dir, tmp_path
):
    """Changing digest params against an existing manifest must be a
    STARTUP error — not a ValueError after the first batch burned its
    writes (review finding)."""
    import time as _time

    out = str(tmp_path / "out")
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--baseline", f"{corpus_dir}/transcripts_baseline",
            "--output", out,
            "--record-digests", "conv_id,turn_idx",
        ],
        stop_session=False,
    )
    assert rc == 0
    t0 = _time.time()
    with pytest.raises(SystemExit, match="refusing to mix"):
        validate_main(
            [
                "--input", f"{corpus_dir}/transcripts",
                "--baseline", f"{corpus_dir}/transcripts_baseline",
                "--output", out,
                "--resume",
                "--record-digests", "conv_id,role",
            ],
            stop_session=False,
        )
    # fail-fast: no validation batch ran (a batch takes tens of seconds)
    assert _time.time() - t0 < 20


def test_curate_semantic_decontaminate(tmp_path, spark):
    """--sem-decontaminate-against drops docs within the cosine threshold
    of a benchmark VECTOR set (funnel reports sem_decontaminated), and a
    corpus without the embedding column is rejected loudly."""
    import json

    import jobs.curate as jc
    import pytest as _pytest

    docs = spark.createDataFrame(
        [
            (0, "paraphrased leak of an eval item alpha beta", [1.0, 0.0]),
            (1, "genuinely novel document gamma delta epsilon", [0.0, 1.0]),
            (2, "another novel document zeta eta theta iota", [0.0, -1.0]),
        ],
        "doc_id long, text string, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(900, [0.9, 0.1])], "doc_id long, embedding array<double>"
    )
    inp, bdir, out = (str(tmp_path / d) for d in ("docs", "bench", "out"))
    docs.write.parquet(inp)
    bench.write.parquet(bdir)

    rc = jc.main(
        ["--input", inp, "--output", out, "--min-tokens", "2",
         "--sem-decontaminate-against", bdir, "--sem-threshold", "0.9",
         "--max-shard-tokens", "1000"],
        stop_session=False,
    )
    assert rc == 0
    m = json.load(open(f"{out}/manifest.json"))
    assert m["funnel"]["exact_deduped"] == 3
    assert m["funnel"]["sem_decontaminated"] == 2  # doc 0: cos ~ 0.9939
    shards = spark.read.parquet(f"{out}/shards")
    assert {r["doc_id"] for r in shards.select("doc_id").collect()} == {1, 2}

    # corpus without the embedding column -> loud SystemExit, not a
    # Catalyst column-resolution stack
    inp2, out2 = str(tmp_path / "docs2"), str(tmp_path / "out2")
    docs.drop("embedding").write.parquet(inp2)
    with _pytest.raises(SystemExit, match="embedding"):
        jc.main(
            ["--input", inp2, "--output", out2, "--min-tokens", "2",
             "--sem-decontaminate-against", bdir],
            stop_session=False,
        )


def test_validate_cli_max_run(spark, corpus_dir, tmp_path):
    """--max-run adds the stuck-value RunLengthCheck per spec (repeatable);
    the verdict grid carries it for every partition; malformed specs exit
    cleanly before any JVM work."""
    out = str(tmp_path / "run_out")
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--output", out,
            "--max-run", "role:1",
            "--max-run", "tool:3",
        ],
        stop_session=False,
    )
    assert rc in (0, 1)
    verd = spark.read.parquet(f"{out}/verdicts")
    ids = {r["check_id"] for r in verd.select("check_id").distinct().collect()}
    assert {"run_role", "run_tool"} <= ids
    # the synthetic transcripts ping-pong user/assistant with occasional
    # repeats — a max_run=1 role rule must flag at least one repeat
    viol = spark.read.parquet(f"{out}/violations").filter(
        "check_id = 'run_role'"
    )
    assert viol.count() > 0

    with pytest.raises(SystemExit, match="COL:N"):
        validate_main(
            ["--input", f"{corpus_dir}/transcripts",
             "--output", str(tmp_path / "r2"), "--max-run", "role"],
            stop_session=False,
        )
    with pytest.raises(SystemExit, match="integer"):
        validate_main(
            ["--input", f"{corpus_dir}/transcripts",
             "--output", str(tmp_path / "r3"), "--max-run", "role:x"],
            stop_session=False,
        )
    with pytest.raises(SystemExit, match="max_run must be >= 1"):
        validate_main(
            ["--input", f"{corpus_dir}/transcripts",
             "--output", str(tmp_path / "r4"), "--max-run", "role:0"],
            stop_session=False,
        )


def test_validate_cli_max_loop(spark, corpus_dir, tmp_path):
    """--max-loop adds the ping-pong PeriodicLoopCheck per spec
    (repeatable); the verdict grid carries it for every partition;
    malformed specs exit cleanly before any JVM work."""
    out = str(tmp_path / "loop_out")
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--output", out,
            "--max-loop", "role:2:2",
            "--max-loop", "role:3:4",  # same column, second period: distinct id
        ],
        stop_session=False,
    )
    assert rc in (0, 1)
    verd = spark.read.parquet(f"{out}/verdicts")
    ids = {r["check_id"] for r in verd.select("check_id").distinct().collect()}
    assert {"loop_role_p2", "loop_role_p3"} <= ids
    # the synthetic transcripts ping-pong user/assistant — a 2-rep cap on
    # period-2 role cycles must flag rows in any conversation >= 5 turns
    viol = spark.read.parquet(f"{out}/violations").filter(
        "check_id = 'loop_role_p2'"
    )
    assert viol.count() > 0

    with pytest.raises(SystemExit, match="COL:PERIOD:REPS"):
        validate_main(
            ["--input", f"{corpus_dir}/transcripts",
             "--output", str(tmp_path / "l2"), "--max-loop", "role:2"],
            stop_session=False,
        )
    with pytest.raises(SystemExit, match="integers"):
        validate_main(
            ["--input", f"{corpus_dir}/transcripts",
             "--output", str(tmp_path / "l3"), "--max-loop", "role:2:x"],
            stop_session=False,
        )
    with pytest.raises(SystemExit, match="period must be >= 1"):
        validate_main(
            ["--input", f"{corpus_dir}/transcripts",
             "--output", str(tmp_path / "l4"), "--max-loop", "role:0:2"],
            stop_session=False,
        )


def test_suggest_cli_roundtrip_into_validate(spark, corpus_dir, tmp_path):
    """jobs/suggest.py profiles the blessed corpus into a suite file that
    loads, runs green on its source via jobs/validate.py --suite, and
    fires on the corrupted twin — the full profiler-to-validation loop."""
    from jobs.suggest import main as suggest_main

    suite_path = str(tmp_path / "suite.json")
    rc = suggest_main(
        [
            "--input", f"{corpus_dir}/transcripts_baseline",
            "--output", suite_path,
        ],
        stop_session=False,
    )
    assert rc == 0
    out = str(tmp_path / "val")
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts_baseline",
            "--output", out,
            "--suite", suite_path,
            "--batch-parts", "0",
            "--run-id", "sgg1",
        ],
        stop_session=False,
    )
    assert rc == 0
    import os as _os
    verd = spark.read.parquet(_os.path.join(out, "verdicts"))
    assert verd.filter("NOT passed").count() == 0

    out2 = str(tmp_path / "val2")
    rc = validate_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--output", out2,
            "--suite", suite_path,
            "--batch-parts", "0",
            "--run-id", "sgg2",
        ],
        stop_session=False,
    )
    assert rc == 0
    verd2 = spark.read.parquet(_os.path.join(out2, "verdicts"))
    assert verd2.filter("NOT passed").count() > 0


def test_suggest_cli_bad_args(tmp_path):
    from jobs.suggest import main as suggest_main

    with pytest.raises(SystemExit, match="vocab-max"):
        suggest_main(
            [
                "--input", str(tmp_path / "x"),
                "--output", str(tmp_path / "s.json"),
                "--vocab-max", "0",
            ],
            stop_session=False,
        )


def test_stream_validate_cli_drain_resume_and_suite(
    spark, corpus_dir, tmp_path
):
    """jobs/stream_validate.py: one invocation drains the corpus into
    exactly-once sinks (battery violations + suite bridge members), a
    SECOND invocation with the same output resumes from the streaming
    checkpoints and adds NOTHING (no re-emitted rows), and the manifest
    names the loudly-skipped entries."""
    from jobs.stream_validate import main as stream_main
    from jobs.suggest import main as suggest_main

    suite_path = str(tmp_path / "s.json")
    rc = suggest_main(
        [
            "--input", f"{corpus_dir}/transcripts_baseline",
            "--output", suite_path,
        ],
        stop_session=False,
    )
    assert rc == 0

    out = str(tmp_path / "sv")
    rc = stream_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--output", out,
            "--suite", suite_path,
            "--watermark", "0 seconds",
        ],
        stop_session=False,
    )
    assert rc == 0
    man = json.loads(
        open(os.path.join(out, "stream_manifest.json")).read()
    )
    assert man["sinks"]["battery"] > 0  # corrupted corpus: battery fires
    # row-class rules stream now; the health bands remain batch-only
    assert "role_vocab" in man["sinks"]
    assert any("(volume)" in s for s in man["skipped"])
    assert "role_cat_drift" in man["sinks"]
    # the mined sequence grammar and ts gap bound ride the battery, so
    # those suite entries are WIRED, not skipped — as are the entries
    # the always-on battery already enforces
    assert "role_grammar" in man["battery_wired"]
    assert "ts_max_gap" in man["battery_wired"]
    assert "ts_monotone" in man["battery_wired"]
    assert "turn_idx_contiguous" in man["battery_wired"]
    assert any(w.startswith("unique_") for w in man["battery_wired"])
    wired = set(man["battery_wired"])
    assert not any(s.split(" ")[0] in wired for s in man["skipped"])
    # the mined FD streams as its own sink via first-seen-combo state
    assert any(k.startswith("fd_") for k in man["sinks"])
    # transition TV runs as the two-stage pair-emitter drain: its sink
    # exists and the entry is no longer skipped
    assert "role_transition_drift" in man["sinks"]
    assert not any("(transition_drift)" in s for s in man["skipped"])
    first = {
        k: spark.read.parquet(os.path.join(out, k)).count()
        for k, v in man["sinks"].items()
        if v > 0
    }

    # drain again: checkpoints make every sink exactly-once — no new rows
    rc = stream_main(
        [
            "--input", f"{corpus_dir}/transcripts",
            "--output", out,
            "--suite", suite_path,
            "--watermark", "0 seconds",
        ],
        stop_session=False,
    )
    assert rc == 0
    for k, n in first.items():
        assert (
            spark.read.parquet(os.path.join(out, k)).count() == n
        ), k

    # arg validation fires before any JVM work
    with pytest.raises(SystemExit, match="max-files-per-trigger"):
        stream_main(
            ["--input", "x", "--output", "y",
             "--max-files-per-trigger", "0"],
            stop_session=False,
        )
    with pytest.raises(SystemExit, match="nothing to run"):
        stream_main(
            ["--input", "x", "--output", "y", "--no-battery"],
            stop_session=False,
        )
