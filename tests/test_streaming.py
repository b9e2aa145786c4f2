"""Streaming validation smoke: the same RowChecks over readStream."""

import pytest
import pyspark.sql.functions as F

from taco_toolbox_spark.checks import transcript_checks
from taco_toolbox_spark.checks.base import RowCheck
from taco_toolbox_spark.streaming.validate_stream import (
    drain,
    stream_violations,
    windowed_verdicts,
)


def test_stream_matches_batch(tmp_path, corpus, corrupted_pdf):
    path = str(tmp_path / "stream_in")
    corpus.corrupted.drop("part").write.mode("overwrite").parquet(path)
    checks = [c for c in transcript_checks() if isinstance(c, RowCheck)]

    out = drain(
        corpus.corrupted.sparkSession,
        path,
        lambda s: windowed_verdicts(stream_violations(s, checks)),
        "complete",
    ).toPandas()

    # total violations per check must equal the batch row-pass counts
    batch_counts = {}
    import taco_toolbox_spark.schema as S

    batch_counts["role_vocab"] = int((~corrupted_pdf.role.isin(S.ROLE_VOCAB)).sum())
    batch_counts["text_not_null"] = int(corrupted_pdf.text.isna().sum())
    got = out.groupby("check_id").n_violations.sum()
    for check_id, want in batch_counts.items():
        assert got.get(check_id, 0) == want, check_id
    # windowed: every row fits a window; window bounds are 1h-aligned
    assert (out.window_end > out.window_start).all()


def test_stateful_ordering_matches_batch(tmp_path, corpus, corrupted_pdf):
    """The stateful stream check must find exactly the batch lag-window
    regressions (each conversation lives in one part file here, so
    micro-batch boundaries don't split conversations)."""
    from taco_toolbox_spark.streaming.validate_stream import (
        transcript_violations_stateful,
    )

    path = str(tmp_path / "ord_in")
    corpus.corrupted.write.mode("overwrite").parquet(path)

    out = drain(
        corpus.corrupted.sparkSession,
        path,
        lambda s: transcript_violations_stateful(
            s, check_ids=("ts_monotone",)
        ).drop("passed", "n_seen"),
        "update",
    ).toPandas()
    got = set(zip(out.conv_id, out.turn_idx))

    s = corrupted_pdf.sort_values(["conv_id", "turn_idx"], kind="stable")
    prev = s.groupby("conv_id")["ts"].shift()
    bad = s[prev > s["ts"]]
    want = set(zip(bad.conv_id, bad.turn_idx))
    assert got == want and len(want) > 0


def test_stateful_battery_matches_batch(tmp_path, corpus, corrupted_pdf):
    """VERDICT r2 #9: the stateful stream must reproduce the batch
    engine's per-conversation battery — monotone ts, (conv, turn)
    uniqueness, turn contiguity — on the same bounded corpus."""
    from taco_toolbox_spark.streaming.validate_stream import (
        transcript_violations_stateful,
    )

    path = str(tmp_path / "battery_in")
    corpus.corrupted.write.mode("overwrite").parquet(path)
    out = drain(
        corpus.corrupted.sparkSession,
        path,
        transcript_violations_stateful,
        "update",
    ).toPandas()

    # no conversation overflowed the bounded state
    assert (out.check_id != "stream_state_cap").all()

    # monotone: same keys as the batch lag-window pass
    mono = out[out.check_id == "ts_monotone"]
    s = corrupted_pdf.sort_values(["conv_id", "turn_idx"], kind="stable")
    prev = s.groupby("conv_id")["ts"].shift()
    bad = s[prev > s["ts"]]
    assert set(zip(mono.conv_id, mono.turn_idx)) == set(
        zip(bad.conv_id, bad.turn_idx)
    )

    # uniqueness: one row per duplicated (conv, turn) key, matching batch
    uniq = out[out.check_id == "unique_turn"]
    sz = corrupted_pdf.groupby(["conv_id", "turn_idx"]).size()
    want_dups = set(sz[sz > 1].index)
    assert set(zip(uniq.conv_id, uniq.turn_idx)) == want_dups
    assert len(uniq) == len(want_dups)  # reported exactly once per key

    # contiguity: final status per conversation (highest n_seen row) must
    # flag exactly the conversations failing the batch invariant
    # min==0 & max==n-1 & distinct==n (duplicates break it there too)
    contig = out[out.check_id == "turn_contiguous"]
    final = contig.sort_values("n_seen").groupby("conv_id").tail(1)
    flagged = set(final[~final.passed].conv_id)
    g = corrupted_pdf.groupby("conv_id").turn_idx
    bad_convs = {
        conv
        for conv, t in g
        if not (t.min() == 0 and t.max() == len(t) - 1 and t.nunique() == len(t))
    }
    assert flagged == bad_convs and len(bad_convs) > 0


def test_stream_text_equality_matches_batch(tmp_path, corpus):
    """Stream-static join + the colocated equality plan must find exactly
    the batch text-equality violations."""
    from taco_toolbox_spark.checks.text_equality import text_equality_violations
    from taco_toolbox_spark.streaming.validate_stream import stream_text_equality

    spark = corpus.corrupted.sparkSession
    path = str(tmp_path / "te_in")
    corpus.corrupted.write.mode("overwrite").parquet(path)
    static = spark.read.parquet(path)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    out = stream_text_equality(stream, corpus.clean)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_te_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT conv_id, turn_idx FROM t_te_stream").toPandas()
    want = (
        text_equality_violations(static, corpus.clean, colocated=True)
        .select("conv_id", "turn_idx")
        .toPandas()
    )
    assert set(zip(got.conv_id, got.turn_idx)) == set(
        zip(want.conv_id, want.turn_idx)
    )
    assert len(want) > 0


def test_stream_drift_matches_batch_windows(tmp_path, corpus):
    """Watermarked windowed drift on the stream must flag the same
    event-time windows as the identical aggregation run in batch."""
    import pyspark.sql.functions as F

    from taco_toolbox_spark.checks.drift import approx_global_quantiles
    from taco_toolbox_spark.streaming.validate_stream import stream_drift

    spark = corpus.corrupted.sparkSession
    path = str(tmp_path / "drift_in")
    corpus.clean.write.mode("overwrite").parquet(path)
    static = spark.read.parquet(path)
    baseline = approx_global_quantiles(
        corpus.clean, "length(text)", (0.1, 0.25, 0.5, 0.75, 0.9)
    )
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    out = stream_drift(stream, baseline, window="1 day", watermark="1 day")
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_drift_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM t_drift_stream").toPandas()
    failed = {str(w.date()) for w in got[~got.passed].window_start}

    # batch reference: same windowed agg + same verdict rule
    probes = F.array(*[F.lit(p) for p in (0.1, 0.25, 0.5, 0.75, 0.9)])
    base = F.array(*[F.lit(float(b)) for b in baseline])
    from taco_toolbox_spark.checks.drift import rel_dev

    rel = F.aggregate(
        F.zip_with(F.col("q"), base, rel_dev),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    batch = (
        static.groupBy(F.window("ts", "1 day"))
        .agg(F.percentile_approx(F.expr("length(text)").cast("double"), probes, 10_000).alias("q"))
        .select(F.col("window.start").alias("ws"), (rel <= 0.25).alias("passed"))
        .toPandas()
    )
    want_failed = {str(w.date()) for w in batch[~batch.passed].ws}
    assert failed == want_failed
    # the designated drifted partitions are distribution anomalies in the
    # CLEAN data — the stream must catch them
    assert set(corpus.drifted_parts) <= failed


def test_stateful_battery_null_and_negative_turn_idx(tmp_path, spark):
    """ADVICE r3: Arrow hands nullable ints to pandas as float64/NaN — the
    stateful battery must not crash on null or negative turn_idx. Such rows
    become turn_idx_nonneg violations (batch parity: range_check with
    null_ok=False), are excluded from the bitmap math, and still count
    against contiguity."""
    import datetime as dt

    from taco_toolbox_spark.streaming.validate_stream import (
        transcript_violations_stateful,
    )

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        ("conv_a", 0, t0),
        ("conv_a", 1, t0 + dt.timedelta(seconds=1)),
        ("conv_a", None, t0 + dt.timedelta(seconds=2)),
        ("conv_a", 2, t0 + dt.timedelta(seconds=3)),
        ("conv_a", -5, t0 + dt.timedelta(seconds=4)),
        ("conv_b", 0, t0),
        ("conv_b", 1, t0 + dt.timedelta(seconds=1)),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    path = str(tmp_path / "nullturn_in")
    df.repartition(1).write.mode("overwrite").parquet(path)

    out = drain(spark, path, transcript_violations_stateful, "update").toPandas()

    nonneg = out[out.check_id == "turn_idx_nonneg"]
    assert len(nonneg) == 2 and (nonneg.conv_id == "conv_a").all()
    assert nonneg.turn_idx.isna().all()  # violation rows carry null turn_idx
    assert not out.check_id.eq("stream_state_cap").any()

    # conv_a: 5 rows but turns {0,1,2} -> contiguity bad; conv_b clean
    contig = out[out.check_id == "turn_contiguous"]
    final = contig.sort_values("n_seen").groupby("conv_id").tail(1)
    assert set(final[~final.passed].conv_id) == {"conv_a"}


def test_stateful_windowed_verdicts_match_batch(tmp_path, corpus, corrupted_pdf):
    """VERDICT r3 #7: the stateful battery's windowed verdict matrix must
    reproduce the batch per-(hour window, check) violation counts for the
    row-attributable checks (mono + uniq; contiguity status rows carry no
    event time and stay on the violation stream)."""
    from taco_toolbox_spark.streaming.validate_stream import (
        stateful_windowed_verdicts,
    )

    spark = corpus.corrupted.sparkSession
    path = str(tmp_path / "swv_in")
    corpus.corrupted.write.mode("overwrite").parquet(path)
    static = spark.read.parquet(path)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )
    out = stateful_windowed_verdicts(stream, window="1 hour")
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_swv")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM t_swv").toPandas()
    got_counts = {
        (r.window_start.floor("h"), r.check_id): int(r.n_violations)
        for r in got.itertuples()
    }

    s = corrupted_pdf.sort_values(["conv_id", "turn_idx"], kind="stable")
    prev = s.groupby("conv_id")["ts"].shift()
    mono_bad = s[prev > s["ts"]]
    want: dict = {}
    for w, n in mono_bad.ts.dt.floor("h").value_counts().items():
        want[(w, "ts_monotone")] = int(n)
    # dup_turn injects exact-copy rows, so every occurrence of a dup key
    # shares one ts — the representative row's window is unambiguous
    dups = s.groupby(["conv_id", "turn_idx"]).filter(lambda g: len(g) > 1)
    first = dups.groupby(["conv_id", "turn_idx"], as_index=False).first()
    for w, n in first.ts.dt.floor("h").value_counts().items():
        want[(w, "unique_turn")] = int(n)
    assert got_counts == want and len(want) > 0


def test_durable_battery_restart_exactly_once(tmp_path, spark):
    """Kill/restart semantics of the durable parquet sink: a second run
    with the same checkpoint processes ONLY files added since, emits no
    duplicate violations, and the per-conversation state survives — a
    duplicate turn whose first occurrence arrived before the restart is
    still caught."""
    import datetime as dt

    from taco_toolbox_spark.streaming.validate_stream import run_durable_battery

    t0 = dt.datetime(2025, 1, 1)

    def _write(rows, name):
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, ts timestamp"
        )
        df.repartition(1).write.mode("append").parquet(str(tmp_path / "in"))

    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))

    # run 1: conv_a turns 0..2, clean
    _write(
        [("conv_a", i, t0 + dt.timedelta(seconds=i)) for i in range(3)], "f1"
    )
    run_durable_battery(spark, inp, out, ckpt)
    first = spark.read.parquet(out).toPandas()
    assert len(first) == 0  # clean prefix: no violations emitted

    # "crash", new data arrives: conv_a turn 2 AGAIN (dup vs pre-restart
    # state) + turn 3; conv_b with a ts regression at turn 1
    _write(
        [
            ("conv_a", 2, t0 + dt.timedelta(seconds=10)),
            ("conv_a", 3, t0 + dt.timedelta(seconds=11)),
            ("conv_b", 0, t0 + dt.timedelta(seconds=5)),
            ("conv_b", 1, t0 + dt.timedelta(seconds=4)),
        ],
        "f2",
    )
    run_durable_battery(spark, inp, out, ckpt)
    got = spark.read.parquet(out).toPandas()

    dup = got[got.check_id == "unique_turn"]
    assert list(zip(dup.conv_id, dup.turn_idx)) == [("conv_a", 2)]
    mono = got[got.check_id == "ts_monotone"]
    assert list(zip(mono.conv_id, mono.turn_idx)) == [("conv_b", 1)]
    # duplicate broke conv_a's contiguity: exactly one status-flip row
    contig = got[got.check_id == "turn_contiguous"]
    assert list(contig.conv_id) == ["conv_a"] and not contig.passed.any()

    # idempotent restart with no new files: nothing re-emitted
    run_durable_battery(spark, inp, out, ckpt)
    assert spark.read.parquet(out).count() == len(got)


def test_stateful_contiguity_verdict_for_all_bad_keys(tmp_path, spark):
    """A conversation whose rows are ALL null/negative turn_idx must still
    get a failing turn_contiguous status row — 'no row means contiguous'
    would otherwise pass a conversation with zero valid turns."""
    import datetime as dt

    from taco_toolbox_spark.streaming.validate_stream import (
        transcript_violations_stateful,
    )

    t0 = dt.datetime(2025, 1, 1)
    df = spark.createDataFrame(
        [("conv_x", None, t0), ("conv_x", -1, t0)],
        "conv_id string, turn_idx int, ts timestamp",
    )
    path = str(tmp_path / "allbad_in")
    df.repartition(1).write.mode("overwrite").parquet(path)
    out = drain(spark, path, transcript_violations_stateful, "update").toPandas()
    assert len(out[out.check_id == "turn_idx_nonneg"]) == 2
    contig = out[out.check_id == "turn_contiguous"]
    assert list(contig.conv_id) == ["conv_x"] and not contig.passed.any()


def test_stream_battery_mined_grammar(tmp_path, spark):
    """A MINED grammar (suggest_suite sequence entry) overrides the
    built-in role constants in the streaming battery: sequences legal
    under the custom grammar stay green even where the built-ins would
    fire, illegal pairs and a wrong opener fire, and the built-ins still
    apply when no override is passed."""
    import datetime as dt

    from taco_toolbox_spark.streaming.validate_stream import (
        transcript_violations_stateful,
    )

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        # legal under the custom grammar a->b->a..., opens with 'a'
        ("c1", 0, t0, "a"),
        ("c1", 1, t0 + dt.timedelta(seconds=1), "b"),
        ("c1", 2, t0 + dt.timedelta(seconds=2), "a"),
        # illegal pair b->b and wrong opener 'b'
        ("c2", 0, t0, "b"),
        ("c2", 1, t0 + dt.timedelta(seconds=1), "b"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, role string"
    )
    path = str(tmp_path / "grammar_in")
    df.repartition(1).write.mode("overwrite").parquet(path)

    got = drain(
        spark,
        path,
        lambda s: transcript_violations_stateful(
            s,
            role_col="role",
            allowed_pairs={("a", "b"), ("b", "a")},
            first_values={"a"},
        ),
        "update",
    ).toPandas()
    fired = got[(got.check_id == "role_transitions") & ~got.passed]
    assert set(fired.conv_id) == {"c2"}
    # both c2 rows fire: the opener and the b->b pair
    assert len(fired) == 2

    # without the override, the built-in transcript grammar knows
    # neither 'a' nor 'b': every conversation fires
    builtin = drain(
        spark,
        path,
        lambda s: transcript_violations_stateful(s, role_col="role"),
        "update",
    ).toPandas()
    bad = builtin[(builtin.check_id == "role_transitions") & ~builtin.passed]
    assert set(bad.conv_id) == {"c1", "c2"}


def test_stream_dedup_drops_within_watermark_and_matches_batch(tmp_path, spark):
    """Exact-dup texts across micro-batches are dropped within the
    watermark horizon; the surviving fingerprint set equals the batch
    drop_exact_duplicates result on the same bounded input."""
    import datetime as dt

    from taco_toolbox_spark.dedup.exact import drop_exact_duplicates
    from taco_toolbox_spark.functions.text import fingerprint
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_dedup,
    )
    from pyspark.sql import functions as F

    t0 = dt.datetime(2025, 1, 1)
    # ALL event times sit inside one watermark horizon so the result is
    # independent of the (unspecified) order FileStreamSource picks the
    # per-row files in — a cross-horizon row would let an unlucky order
    # advance the watermark and late-drop earlier rows
    rows = [
        (1, "alpha beta gamma", t0),
        (2, "alpha beta gamma", t0 + dt.timedelta(minutes=5)),  # dup
        (3, "ALPHA   beta Gamma", t0 + dt.timedelta(minutes=6)),  # normalized dup
        (4, "delta epsilon", t0 + dt.timedelta(minutes=7)),
        (5, "delta epsilon", t0 + dt.timedelta(minutes=50)),  # dup, later batch
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    inp = str(tmp_path / "stream_in")
    # one file per row => micro-batches under maxFilesPerTrigger=1
    df.repartition(5, "doc_id").write.parquet(inp)
    got = drain(
        spark, inp, lambda s: stream_dedup(s, watermark="1 hour"), "append", 1
    ).toPandas()
    fps = (
        df.select("doc_id", fingerprint("text").alias("fp"))
        .toPandas().set_index("doc_id").fp.to_dict()
    )
    surv_fps = [fps[d] for d in got.doc_id]
    assert len([f for f in surv_fps if f == fps[1]]) == 1  # 1,2,3 collapse
    assert len([f for f in surv_fps if f == fps[4]]) == 1  # 4,5 collapse
    assert len(got) == 2
    # batch parity: same distinct-fingerprint count on the same input
    assert drop_exact_duplicates(df).count() == 2


def test_stream_sessionize_matches_batch_cumsum(tmp_path, spark):
    """Native session windows over the stream must produce the same
    (user, session_start, size) multiset as the batch lag+cumsum rule
    (gap > 1800s), using the same 1800s gap (session_window merges at distance <= gap)."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from taco_toolbox_spark.streaming.validate_stream import (
        stream_sessionize,
    )

    t0 = dt.datetime(2025, 1, 1)
    rows = []
    eid = 0
    for u, offsets in {
        7: [0, 100, 1800, 3601, 3700, 99999],  # 1800 in-session, 3601 new
        8: [0, 1801, 3602],                    # 1801 > gap: all separate
        9: [500],
    }.items():
        for off in offsets:
            rows.append((eid, u, t0 + dt.timedelta(seconds=off)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    inp = str(tmp_path / "sess_in")
    df.repartition(3).write.parquet(inp)

    got = drain(
        spark,
        inp,
        lambda s: stream_sessionize(s, ("user_id",), "ts", "1800 seconds"),
        "complete",
    ).toPandas()
    stream_set = {
        (r.user_id, r.session_start.to_pydatetime(), r.n_events)
        for r in got.itertuples()
    }

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    gap = F.when(sec - F.lag(sec).over(w) > 1800, 1).otherwise(0)
    batch = (
        df.withColumn(
            "session_id",
            F.sum(gap).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"), F.count("*").alias("n_events"))
    )
    batch_set = {
        (r.user_id, r.session_start, r.n_events) for r in batch.collect()
    }
    assert stream_set == batch_set
    assert len(stream_set) == 3 + 3 + 1  # user7: 3 sessions, user8: 3, user9: 1


def test_stream_minhash_candidates_match_batch(tmp_path, spark):
    """Streaming near-dedup candidate emission vs a static signature
    store must surface exactly the batch LSH candidate pair set on the
    same bounded corpus (VERDICT r4 #4: the batch↔stream matrix), and
    the per-row signature column must equal the batch aggregation's
    signatures value-for-value."""
    from pyspark.sql import functions as F

    from taco_toolbox_spark.dedup.minhash import (
        lsh_candidate_pairs,
        minhash_signature_col,
        minhash_signatures,
    )
    from taco_toolbox_spark.streaming.validate_stream import (
        minhash_bucket_store,
        stream_minhash_candidates,
    )

    base = [
        "the quick brown fox jumps over the lazy dog and runs away fast",
        "pack my box with five dozen liquor jugs before the night ends",
        "sphinx of black quartz judge my vow said the old librarian now",
        "how vexingly quick daft zebras jump over the sleeping brown dog",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 10, t))
        # exact-text twin under a different id: Jaccard 1, so every
        # band collides DETERMINISTICALLY (a one-word edit leaves the
        # 4-row band collision a coin flip at these text lengths)
        rows.append((i * 10 + 1, t))
    rows.append((999, "completely unrelated tiny text here with nothing shared at all"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    inp = str(tmp_path / "docs_in")
    df.repartition(4, "doc_id").write.parquet(inp)

    # per-row signature column == batch groupBy signature, exactly
    got_sig = {
        r.doc_id: list(r.s)
        for r in df.select(
            "doc_id", minhash_signature_col("text").alias("s")
        ).collect()
    }
    want_sig = {
        r.id: list(r.sig) for r in minhash_signatures(df).collect()
    }
    assert got_sig == want_sig

    # ...and in the engine-portable md5 mode too (the mode the streaming
    # oracle runs under): per-row permutation-over-md5-halves must equal
    # the batch aggregation value-for-value
    got_md5 = {
        r.doc_id: list(r.s)
        for r in df.select(
            "doc_id",
            minhash_signature_col("text", hash_fn="md5").alias("s"),
        ).collect()
    }
    want_md5 = {
        r.id: list(r.sig)
        for r in minhash_signatures(df, hash_fn="md5").collect()
    }
    assert got_md5 == want_md5

    # ...and the staged-projection variant (the fast path the streaming
    # candidate emitter actually runs) must agree with both, in both
    # hash families
    from taco_toolbox_spark.dedup.minhash import with_minhash_signature

    for fam, want in (("xxhash64", want_sig), ("md5", want_md5)):
        staged = {
            r.doc_id: list(r.s)
            for r in with_minhash_signature(
                df, "text", "s", hash_fn=fam
            ).select("doc_id", "s").collect()
        }
        assert staged == want, fam

    store = minhash_bucket_store(df, max_bucket_size=None)
    out = drain(
        spark,
        inp,
        lambda s: stream_minhash_candidates(s, store),
        "append",
        4,
    )
    got_pairs = {(r.id_a, r.id_b) for r in out.collect()}
    want_pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(
            minhash_signatures(df), max_bucket_size=None
        ).collect()
    }
    assert got_pairs == want_pairs
    # the planted near-dups collide; the unrelated doc pairs with nobody
    assert all((i * 10, i * 10 + 1) in got_pairs for i in range(len(base)))
    assert not any(999 in p for p in got_pairs)


def test_stateful_role_grammar_and_gap_match_batch(tmp_path, corpus):
    """The stateful stream's role-transition grammar and bounded-gap
    checks reproduce the batch engine's SequenceCheck + GapCheck
    violation coordinates on the same bounded corpus (in-turn-order
    arrival contract, as for ts_monotone)."""
    from taco_toolbox_spark.checks import GapCheck, role_sequence_check
    from taco_toolbox_spark.engine import run_validation
    from taco_toolbox_spark.streaming.validate_stream import (
        transcript_violations_stateful,
    )

    spark = corpus.corrupted.sparkSession
    path = str(tmp_path / "grammar_in")
    corpus.corrupted.write.mode("overwrite").parquet(path)

    out = drain(
        spark,
        path,
        lambda s: transcript_violations_stateful(
            s, role_col="role", max_gap_s=120
        ),
        "update",
    ).toPandas()

    batch = run_validation(
        corpus.corrupted,
        [
            role_sequence_check(),
            GapCheck(check_id="ts_gap", value_col="ts", max_step=120),
        ],
    ).violations.toPandas()

    for cid in ("role_transitions", "ts_gap"):
        got = set(
            zip(
                out[out.check_id == cid].conv_id,
                out[out.check_id == cid].turn_idx,
            )
        )
        want = set(
            zip(
                batch[batch.check_id == cid].conv_id,
                batch[batch.check_id == cid].turn_idx,
            )
        )
        assert got == want and want, cid


def test_stream_cms_counters_match_batch(tmp_path, corpus):
    """The streaming running sketch (complete mode) must equal batch
    cms_counters cell-for-cell on a bounded corpus — and its state is
    bounded by construction (≤ depth·width rows over an open key
    vocabulary, with NO watermark)."""
    from taco_toolbox_spark.sketches import cms_counters, cms_lookup, cms_merge
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_cms_counters,
    )

    spark = corpus.clean.sparkSession
    path = str(tmp_path / "cms_in")
    corpus.clean.write.mode("overwrite").parquet(path)
    depth, width = 4, 64

    streamed = drain(
        spark,
        path,
        lambda s: stream_cms_counters(s, ["role"], depth=depth, width=width),
        "complete",
        4,
    )
    got = {(r._d, r._bucket): r._cnt for r in streamed.collect()}
    static = spark.read.parquet(path)
    want = {
        (r._d, r._bucket): r._cnt
        for r in cms_counters(static, ["role"], depth, width).collect()
    }
    assert got == want and want
    assert len(got) <= depth * width

    # monitoring mode: estimates off the STREAMED counters equal batch
    # estimates (and ≥ the exact counts — the CMS guarantee)
    counters = cms_merge(streamed)
    keys = static.select("role").distinct()
    est = {
        r.role: r._est
        for r in cms_lookup(counters, keys, ["role"], depth, width).collect()
    }
    exact = {r.role: r.n for r in static.groupBy("role").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)


def test_stream_cms_windowed_sums(tmp_path, corpus):
    """Windowed mode: one sketch per event-time window; depth-row-0
    counters per window sum to that window's row count (every row
    contributes exactly once per depth row)."""
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_cms_counters,
    )

    spark = corpus.clean.sparkSession
    path = str(tmp_path / "cmsw_in")
    corpus.clean.write.mode("overwrite").parquet(path)
    static = spark.read.parquet(path)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    out = stream_cms_counters(
        stream, ["role"], depth=2, width=32, window="1 day"
    )
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_scmsw")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    pdf = spark.sql("SELECT * FROM t_scmsw").toPandas()
    assert (pdf.groupby("window_start").size() <= 2 * 32).all()
    got = (
        pdf[pdf._d == 0]
        .groupby("window_start")._cnt.sum()
        .astype(int)
        .to_dict()
    )
    import pyspark.sql.functions as F

    want = {
        r.d: r.n
        for r in static.groupBy(
            F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {k.to_pydatetime(): v for k, v in got.items()} == {
        k: v for k, v in want.items()
    }


def test_stream_incremental_exact_matches_batch(tmp_path, spark):
    """Streaming incremental exact dedup vs a static key store must give
    the batch exact-vs-existing verdicts on the same bounded input —
    with and without the packed-bloom pre-test (one-sidedness makes the
    two paths identical), stateless in both cases."""
    from pyspark.sql import functions as F

    from taco_toolbox_spark.dedup.incremental import exact_keys
    from taco_toolbox_spark.sketches import bloom_pack_words, bloom_positions
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_incremental_exact,
    )

    existing = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "an entirely different existing document text"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, "THE quick   Brown fox jumps over the lazy dog"),  # norm dup
            (2, "a brand new never seen before document"),
            (3, "an entirely different existing document text"),  # exact dup
            (4, "another fresh document with novel words"),
        ],
        "doc_id long, text string",
    )
    inp = str(tmp_path / "incr_in")
    batch.repartition(4, "doc_id").write.parquet(inp)
    ex_keys = exact_keys(existing)
    want = {(1, "exact_dup"), (2, "new"), (3, "exact_dup"), (4, "new")}

    got = {
        (r["id"], r["verdict"])
        for r in drain(
            spark,
            inp,
            lambda s: stream_incremental_exact(s, ex_keys),
            "append",
            1,
        ).collect()
    }
    assert got == want

    words = bloom_pack_words(
        bloom_positions(ex_keys, ["_k"], 1024, 4), 1024
    )
    got_bloom = {
        (r["id"], r["verdict"])
        for r in drain(
            spark,
            inp,
            lambda s: stream_incremental_exact(
                s, ex_keys, bloom_words=words, bloom_num_hashes=4
            ),
            "append",
            1,
        ).collect()
    }
    assert got_bloom == want


def test_stream_incremental_requires_hash_count(spark):
    import pytest as _pytest

    from taco_toolbox_spark.dedup.incremental import exact_keys
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_incremental_exact,
    )

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="bloom_num_hashes"):
        stream_incremental_exact(
            df, exact_keys(df), bloom_words=[0] * 16
        )


def test_stream_fd_matches_batch_violation_set(tmp_path, spark):
    """Streaming FD flags exactly the determinants the batch fd_violations
    flags on the same bounded corpus, regardless of micro-batch split; a
    violating determinant emits ONE row (the reported latch)."""
    from taco_toolbox_spark.checks.fd import fd_violations
    from taco_toolbox_spark.streaming.validate_stream import (
        fd_violations_stateful,
    )

    rows = [
        ("search", "tool"), ("search", "tool"), ("search", "user"),  # broken
        ("code", "tool"), ("code", "tool"),                          # holds
        ("browser", "tool"), ("browser", None),                      # NULL variant
        (None, "user"), (None, "assistant"),                         # NULL det
    ]
    df = spark.createDataFrame(rows, "tool string, role string")
    inp = str(tmp_path / "fd_stream_in")
    # one file per row -> many micro-batches at maxFilesPerTrigger=2
    df.repartition(len(rows)).write.parquet(inp)

    got = drain(
        spark,
        inp,
        lambda s: fd_violations_stateful(
            s, ["tool"], ["role"], skip_null_determinant=True
        ),
        "update",
        2,
    )
    flagged = {r["tool"] for r in got.collect()}
    want = {
        r["tool"]
        for r in fd_violations(
            spark.read.parquet(inp), ["tool"], ["role"],
            skip_null_determinant=True,
        ).collect()
    }
    assert flagged == want == {"search", "browser"}
    # one emission per violating determinant
    assert got.count() == 2
    assert all(not r["passed"] for r in got.collect())


def test_stream_fd_strict_null_determinant(tmp_path, spark):
    from taco_toolbox_spark.streaming.validate_stream import (
        fd_violations_stateful,
    )

    rows = [(None, "user"), (None, "assistant"), ("x", "tool")]
    df = spark.createDataFrame(rows, "tool string, role string")
    inp = str(tmp_path / "fd_strict_in")
    df.repartition(3).write.parquet(inp)
    got = drain(
        spark,
        inp,
        lambda s: fd_violations_stateful(s, ["tool"], ["role"]),
        "update",
        1,
    )
    # strict mode: the NULL-determinant group (cast to string -> grouped
    # together) is flagged for spanning {user, assistant}
    assert got.count() == 1


def test_stream_fd_state_ttl_smoke(tmp_path, spark):
    """TTL mode runs end-to-end and still flags conflicts arriving within
    the horizon (a generous TTL so micro-batches all land inside it)."""
    from taco_toolbox_spark.streaming.validate_stream import (
        fd_violations_stateful,
    )

    rows = [("search", "tool"), ("search", "user"), ("code", "tool")]
    df = spark.createDataFrame(rows, "tool string, role string")
    inp = str(tmp_path / "fd_ttl_in")
    df.repartition(3).write.parquet(inp)
    static = spark.read.parquet(inp)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = fd_violations_stateful(
        stream, ["tool"], ["role"], state_ttl_ms=3_600_000
    )
    # a processing-time timeout keeps the trigger running no-data batches
    # to fire evictions, so processAllAvailable never returns in TTL mode
    # (documented on the operator) — poll the sink with a deadline instead
    import time as _time

    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stream_fd_ttl")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 120
        got = []
        while _time.time() < deadline:
            got = spark.sql("SELECT * FROM stream_fd_ttl").collect()
            if got:
                break
            _time.sleep(2)
    finally:
        q.stop()
    assert {r["tool"] for r in got} == {"search"}


def test_stream_content_digest_matches_batch(tmp_path, corpus):
    """The running streamed digest (complete mode) must equal the batch
    digest value-for-value on a bounded corpus — the ingest-certification
    contract: stream in, reconcile digests, zero mismatches means nothing
    was lost, duplicated, or altered in flight."""
    from taco_toolbox_spark.operators.digest import (
        content_digest,
        digest_mismatches,
    )
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_content_digest,
    )

    spark = corpus.clean.sparkSession
    path = str(tmp_path / "digest_in")
    corpus.clean.write.mode("overwrite").parquet(path)
    cols = ["conv_id", "turn_idx", "role", "text"]

    streamed = drain(
        spark,
        path,
        lambda s: stream_content_digest(s, cols, ["part"]),
        "complete",
        1,
    )
    batch = content_digest(spark.read.parquet(path), cols, ["part"])
    assert digest_mismatches(batch, streamed, ["part"]).count() == 0
    assert streamed.count() == batch.count() > 0
    # a tampered batch side is caught by the same reconcile
    import pyspark.sql.functions as F
    tampered = content_digest(
        spark.read.parquet(path).withColumn(
            "text", F.when(F.col("turn_idx") == 0, "X").otherwise(F.col("text"))
        ),
        cols, ["part"],
    )
    assert digest_mismatches(tampered, streamed, ["part"]).count() > 0


def test_stream_content_digest_windowed(tmp_path, corpus):
    """Windowed mode: per-event-time-window digests; each window's digest
    equals the batch digest of that window's slice."""
    from taco_toolbox_spark.operators.digest import content_digest
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_content_digest,
    )
    import pyspark.sql.functions as F

    spark = corpus.clean.sparkSession
    path = str(tmp_path / "digest_win_in")
    corpus.clean.write.mode("overwrite").parquet(path)
    cols = ["conv_id", "turn_idx", "role", "text"]

    streamed = drain(
        spark,
        path,
        lambda s: stream_content_digest(s, cols, None, window="1 day"),
        "complete",
        4,
    )
    static = spark.read.parquet(path)
    want = {
        tuple(r)
        for r in content_digest(
            static.withColumn(
                "window_start", F.date_trunc("day", F.col("ts"))
            ),
            cols,
            ["window_start"],
        ).collect()
    }
    got = {
        (r.window_start, r.n_rows, r.xor_d, r.sum_d)
        for r in streamed.select(
            "window_start", "n_rows", "xor_d", "sum_d"
        ).collect()
    }
    assert got == want and want


def test_stream_transitions_match_batch_pairs(tmp_path, spark):
    """stream_transition_pairs over conv-confined files must emit exactly
    the batch transition_pairs multiset minus the <end> rows (an
    unbounded stream never proves a conversation over)."""
    from taco_toolbox_spark.checks.drift import END_TOKEN, transition_pairs
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_transition_pairs,
    )

    rows = []
    for i in range(12):
        roles = (["user", "assistant"] * (1 + i % 3))[: 2 + i % 4]
        if i % 4 == 2:
            roles.insert(1, None)  # NULL state mid-conversation
        rows += [(f"c{i}", j, r) for j, r in enumerate(roles)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    inp = str(tmp_path / "trans_in")
    # each conversation confined to one file => exact under any file order
    df.repartition(5, "conv_id").write.parquet(inp)

    got = drain(spark, inp, stream_transition_pairs, "update", 2).toPandas()
    want = (
        transition_pairs(df, "conv_id", ("turn_idx",), "role")
        .filter(F.col("to_state") != END_TOKEN)
        .toPandas()
    )
    key = lambda p: sorted(zip(p.conv_id, p.from_state, p.to_state))
    assert key(got) == key(want[["conv_id", "from_state", "to_state"]])
    # NULL mid-conversation surfaced as the '<null>' category, not a start
    assert ("c2", "user", "<null>") in key(got)


def test_stream_transitions_carry_state_across_batches(tmp_path, spark):
    """A conversation split across micro-batches (in order) must emit the
    boundary-spanning pair from stored state and must NOT re-emit
    <start> (the opened latch)."""
    import os
    import time

    from taco_toolbox_spark.checks.drift import START_TOKEN
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_transition_pairs,
    )

    inp = str(tmp_path / "carry_in")
    spark.createDataFrame(
        [("c", 0, "user"), ("c", 1, "assistant")],
        "conv_id string, turn_idx int, role string",
    ).coalesce(1).write.parquet(inp)
    first = [f for f in os.listdir(inp) if f.endswith(".parquet")]
    spark.createDataFrame(
        [("c", 2, "tool"), ("c", 3, "assistant")],
        "conv_id string, turn_idx int, role string",
    ).coalesce(1).write.mode("append").parquet(inp)
    second = [
        f for f in os.listdir(inp)
        if f.endswith(".parquet") and f not in first
    ]
    # force distinct, ordered mod-times so FileStreamSource batches them
    # in turn order under maxFilesPerTrigger=1
    now = time.time()
    os.utime(os.path.join(inp, first[0]), (now - 100, now - 100))
    os.utime(os.path.join(inp, second[0]), (now, now))

    got = drain(spark, inp, stream_transition_pairs, "update", 1).toPandas()
    pairs = sorted(zip(got.from_state, got.to_state))
    assert pairs == [
        (START_TOKEN, "user"),
        ("assistant", "tool"),      # the cross-batch boundary pair
        ("tool", "assistant"),
        ("user", "assistant"),
    ]


def test_stream_categorical_tv_matches_batch(tmp_path, corpus):
    """The streaming categorical-TV drift must reproduce the batch
    categorical_tv verdict EXACTLY (integer tv_num and the one float
    division) on the same per-day windows."""
    from taco_toolbox_spark.checks.drift import (
        categorical_counts,
        categorical_tv,
    )
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_categorical_tv,
    )

    spark = corpus.clean.sparkSession
    path = str(tmp_path / "catdrift_in")
    corpus.clean.write.mode("overwrite").parquet(path)
    base = categorical_counts(corpus.clean, "role")

    got = drain(
        spark,
        path,
        lambda s: stream_categorical_tv(
            s, "role", base, window="1 day", watermark="1 day"
        ),
        "complete",
        4,
    ).toPandas()

    static = spark.read.parquet(path)
    day = static.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    want = (
        categorical_tv(day, "role", "day", base)
        .toPandas()
        .set_index("part")
        .sort_index()
    )
    got["day"] = got.window_start.map(lambda t: str(t.date()))
    got = got.set_index("day").sort_index()
    assert list(got.index) == list(want.index)
    assert (got.n_win.to_numpy() == want.n_part.to_numpy()).all()
    assert (got.tv_num.to_numpy() == want.tv_num.to_numpy()).all()
    assert (got.tv.to_numpy() == want.tv.to_numpy()).all()  # bit-exact


def test_stream_categorical_tv_unknown_category_mass(tmp_path, spark):
    """A streamed category ABSENT from the baseline must contribute its
    full closed-form mass n·N_base, and a baseline category absent from a
    window contributes n_b·N_win — both sides of the closed form."""
    import datetime as dt

    import pandas as pd

    from taco_toolbox_spark.streaming.validate_stream import (
        stream_categorical_tv,
    )

    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    pdf = pd.DataFrame(
        {
            "cat": ["a", "a", "b", "zz"],  # zz not in baseline
            "ts": [t0, t0, t0, t0],
        }
    )
    path = str(tmp_path / "unk_in")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    base = {"a": 2, "b": 1, "c": 1}  # N_base=4; c never streams

    got = drain(
        spark,
        path,
        lambda s: stream_categorical_tv(s, "cat", base, window="1 day"),
        "complete",
        4,
    ).toPandas()
    assert len(got) == 1
    # n_win=4: terms a:|2*4-2*4|=0, b:|1*4-1*4|=0, c:|0*4-1*4|=4, zz:1*4=4
    assert int(got.tv_num.iloc[0]) == 8
    assert float(got.tv.iloc[0]) == 8 / (2.0 * 4 * 4.0)


def test_stream_conditional_tv_matches_batch(tmp_path, corpus):
    """The streaming conditional TV must reproduce the batch
    conditional_tv rows EXACTLY — integer tv_num, per-cond n_base, and
    the one float division — on the same per-day windows, including the
    NULL-category fold on the nullable tool axis."""
    from taco_toolbox_spark.checks.drift import (
        conditional_counts,
        conditional_tv,
    )
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_conditional_tv,
    )

    spark = corpus.clean.sparkSession
    path = str(tmp_path / "conddrift_in")
    corpus.clean.write.mode("overwrite").parquet(path)
    base = conditional_counts(corpus.clean, "role", "tool")

    got = drain(
        spark,
        path,
        lambda s: stream_conditional_tv(
            s, "role", "tool", base, window="1 day", watermark="1 day"
        ),
        "complete",
        4,
    ).toPandas()

    static = spark.read.parquet(path)
    day = static.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    want = (
        conditional_tv(day, "role", "tool", "day", base)
        .toPandas()
        .set_index(["part", "cond"])
        .sort_index()
    )
    got["day"] = got.window_start.map(lambda t: str(t.date()))
    got = got.set_index(["day", "cond"]).sort_index()
    assert list(got.index) == list(want.index)
    assert (got.n_win.to_numpy() == want.n_part.to_numpy()).all()
    assert (got.n_base.to_numpy() == want.n_base.to_numpy()).all()
    assert (got.tv_num.to_numpy() == want.tv_num.to_numpy()).all()
    assert (got.tv.to_numpy() == want.tv.to_numpy()).all()  # bit-exact


def test_stream_conditional_tv_novel_cond_and_nested_baseline(
    tmp_path, spark
):
    """A streamed conditioning value the baseline never saw emits
    tv = NULL and FAILS the verdict (the batch novel-cond class); the
    nested suite-document baseline form parses identically to the
    tuple-keyed batch form."""
    import datetime as dt

    import pandas as pd

    from taco_toolbox_spark.streaming.validate_stream import (
        stream_conditional_tv,
    )

    t0 = dt.datetime(2025, 2, 1, 9, 0, 0)
    pdf = pd.DataFrame(
        {
            "k": ["u", "u", "a", "zz"],
            "c": ["s", "s", "q", "s"],
            "ts": [t0] * 4,
        }
    )
    path = str(tmp_path / "novel_in")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    nested = {"u": {"s": 2}, "a": {"q": 1, "s": 1}}

    got = (
        drain(
            spark,
            path,
            lambda s: stream_conditional_tv(
                s, "k", "c", nested, window="1 day", threshold=0.05
            ),
            "complete",
            4,
        )
        .toPandas()
        .set_index("cond")
        .sort_index()
    )
    assert list(got.index) == ["a", "u", "zz"]
    # u: perfect match -> tv 0, passes; a: {q:1} vs {q:1,s:1}:
    # |1*2-1*1| + |0*2-1*1| = 2 -> tv = 2/(2*1*2) = 0.5 -> fails
    assert float(got.loc["u"].tv) == 0.0 and bool(got.loc["u"].passed)
    assert float(got.loc["a"].tv) == 0.5 and not bool(got.loc["a"].passed)
    assert pd.isna(got.loc["zz"].tv) and not bool(got.loc["zz"].passed)


def test_stream_correlation_drift_matches_batch(tmp_path, spark):
    """The streaming correlation must reproduce the batch
    correlation_drift rows bit-for-bit (exact decimal moments, one
    float64 transition) per day window; a degenerate window (zero
    variance) emits corr NULL and fails."""
    import datetime as dt

    import pandas as pd

    from taco_toolbox_spark.checks.drift import correlation_drift
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_correlation_drift,
    )

    t0 = dt.datetime(2025, 4, 1)
    rows = []
    for i in range(7):  # day 1: y loosely tracks x
        rows.append((t0 + dt.timedelta(hours=i), i, 3 * i + (i % 2)))
    for i in range(7):  # day 2: y anti-tracks x
        rows.append(
            (t0 + dt.timedelta(days=1, hours=i), i, 20 - 2 * i + (i % 3))
        )
    for i in range(3):  # day 3: zero x-variance -> degenerate
        rows.append((t0 + dt.timedelta(days=2, hours=i), 5, i))
    df = spark.createDataFrame(rows, "ts timestamp, x int, y int")
    path = str(tmp_path / "corr_in")
    df.write.mode("overwrite").parquet(path)

    got = (
        drain(
            spark,
            path,
            lambda s: stream_correlation_drift(
                s, "x", "y", 0.9, window="1 day", threshold=0.3
            ),
            "complete",
            4,
        )
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    day = spark.read.parquet(path).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    want = (
        correlation_drift(day, "x", "y", "day", baseline_corr=0.9)
        .toPandas()
        .sort_values("part")
        .reset_index(drop=True)
    )
    assert (got.n.to_numpy() == want.n.to_numpy()).all()
    # bit-exact where defined, NaN where degenerate — on both sides
    assert (
        got.corr_base.to_numpy() == want.corr_base.to_numpy()
    ).all()
    for g, w in zip(got["corr"].to_numpy(), want["corr"].to_numpy()):
        assert (pd.isna(g) and pd.isna(w)) or g == w
    for g, w in zip(got.delta.to_numpy(), want.delta.to_numpy()):
        assert (pd.isna(g) and pd.isna(w)) or g == w
    # day1 passes (corr approx 0.99, delta < 0.3), day2 fires (approx
    # -1), day3 degenerate fires
    assert list(got.passed) == [True, False, False]


def test_stream_embedding_drift_matches_batch(tmp_path, spark):
    """The streaming embedding-centroid drift must reproduce the batch
    embedding_centroid_drift rows bit-for-bit per day window — including
    the ragged conventions: a NULL component counts as present, a short
    vector stops past its length, a NULL vector contributes nothing."""
    import datetime as dt

    from taco_toolbox_spark.checks.drift import (
        embedding_centroid_drift,
        embedding_centroid_sums,
    )
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_embedding_drift,
    )

    t0 = dt.datetime(2025, 5, 1)
    rows = []
    for day in range(3):
        for i in range(9):
            v = [float(day + 1), float(i % 3), -0.25 * i, 1.0]
            rows.append((t0 + dt.timedelta(days=day, hours=i), v))
    # ragged cases on day 0: null component, short vector, null vector
    rows.append((t0 + dt.timedelta(hours=10), [1.0, None, 0.5, 2.0]))
    rows.append((t0 + dt.timedelta(hours=11), [3.0, 1.0]))
    rows.append((t0 + dt.timedelta(hours=12), None))
    # day 3: ONLY short vectors — the batch inner join drops dims 2,3
    # entirely, so the baseline self-product must shrink with them
    rows.append((t0 + dt.timedelta(days=3, hours=1), [1.0, 2.0]))
    rows.append((t0 + dt.timedelta(days=3, hours=2), [2.0, 1.0]))
    # day 4: ONLY null vectors — batch emits no row; the stream must not
    # emit a ghost all-NULL window either
    rows.append((t0 + dt.timedelta(days=4, hours=1), None))
    df = spark.createDataFrame(rows, "ts timestamp, vec array<double>")
    path = str(tmp_path / "embdrift_in")
    df.write.mode("overwrite").parquet(path)

    base = {
        int(r["dim"]): int(r["g"])
        for r in embedding_centroid_sums(df, "vec", "ts")
        .groupBy("dim")
        .agg(F.sum("s").alias("g"))
        .collect()
    }

    got = (
        drain(
            spark,
            path,
            lambda s: stream_embedding_drift(
                s, "vec", base, window="1 day", watermark="1 day"
            ),
            "complete",
            4,
        )
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    day = spark.read.parquet(path).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    want = (
        embedding_centroid_drift(
            day, "vec", "day",
            baseline_sums={str(k): v for k, v in base.items()},
        )
        .toPandas()
        .sort_values("part")
        .reset_index(drop=True)
    )
    assert (got.n_vecs.to_numpy() == want.n_vecs.to_numpy()).all()
    assert (got.cosine.to_numpy() == want.cosine.to_numpy()).all()
    assert (got.drift.to_numpy() == want.drift.to_numpy()).all()

    # verdict split: the most-shifted day fails under a tight threshold
    judged = (
        drain(
            spark,
            path,
            lambda s: stream_embedding_drift(
                s, "vec", base, window="1 day", watermark="1 day",
                threshold=float(want.drift.iloc[1]),
            ),
            "complete",
            4,
        )
        .toPandas()
        .sort_values("window_start")
    )
    assert list(judged.passed) == [
        bool(d <= want.drift.iloc[1]) for d in want.drift
    ]


def test_stream_embedding_drift_guards(tmp_path, spark):
    """Loud rejections: empty baseline, non-contiguous dims, width cap."""
    import datetime as dt

    import pytest as _pytest

    from taco_toolbox_spark.streaming.validate_stream import (
        stream_embedding_drift,
    )

    path = str(tmp_path / "emb_guard_in")
    spark.createDataFrame(
        [(dt.datetime(2025, 1, 1), [1.0])], "ts timestamp, vec array<double>"
    ).write.mode("overwrite").parquet(path)
    src = spark.readStream.schema("ts timestamp, vec array<double>").parquet(
        path
    )
    with _pytest.raises(ValueError, match="at least one dimension"):
        stream_embedding_drift(src, "vec", {})
    with _pytest.raises(ValueError, match="contiguous"):
        stream_embedding_drift(src, "vec", {0: 1, 2: 1})
    with _pytest.raises(ValueError, match="500"):
        stream_embedding_drift(src, "vec", {d: 1 for d in range(501)})


def test_stream_checks_from_suite_bridge(tmp_path, corpus):
    """The suite→stream bridge: a suggest_suite draft (inline baselines)
    builds the streaming twins directly — the built set and the loudly-
    skipped set partition the suite, every built frame carries the
    entry's id and threshold, and a driven member reproduces the batch
    check on the same windows (one document, two surfaces)."""
    from taco_toolbox_spark.checks.drift import categorical_tv
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_checks_from_suite,
    )
    from taco_toolbox_spark.suite import suggest_suite

    spark = corpus.clean.sparkSession
    spec = suggest_suite(corpus.clean)
    path = str(tmp_path / "bridge_in")
    corpus.clean.write.mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema(corpus.clean.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    built, skipped = stream_checks_from_suite(stream, spec)

    ids = {c["id"] for c in spec["checks"]}
    assert set(built) | {s.split(" ")[0] for s in skipped} == ids
    assert not (set(built) & {s.split(" ")[0] for s in skipped})
    assert "role_cat_drift" in built
    assert "tool_given_role_drift" in built
    # the mined tool->role functional dependency streams via the
    # first-seen-combo stateful twin
    assert any(cid.startswith("fd_") for cid in built)
    # row-class entries stream as stateless per-rule violation streams
    assert "role_vocab" in built
    assert any(cid.endswith("_range") for cid in built)
    # transition drift has pair-emitter streaming, not a TV twin: skipped
    assert any(s.startswith("role_transition_drift") for s in skipped)
    # health bands need batch-calibrated literals: still skipped
    assert any("(volume)" in s for s in skipped)

    q = (
        built["role_cat_drift"]
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_bridge_cat")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM t_bridge_cat").toPandas()
    assert "passed" in got.columns and got.check_id.eq(
        "role_cat_drift"
    ).all()
    got["day"] = got.window_start.map(lambda t: str(t.date()))
    got = got.set_index("day").sort_index()
    entry = next(
        c for c in spec["checks"] if c["id"] == "role_cat_drift"
    )
    day = corpus.clean.withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    want = (
        categorical_tv(day, "role", "day", entry["baseline_counts"])
        .toPandas()
        .set_index("part")
        .sort_index()
    )
    assert list(got.index) == list(want.index)
    assert (got.tv_num.to_numpy() == want.tv_num.to_numpy()).all()
    assert (got.tv.to_numpy() == want.tv.to_numpy()).all()


def test_stream_transition_tv_two_stage_parity(tmp_path, spark):
    """The CLI's two-stage transition-TV realization must equal the
    batch composition: conditional_tv(cond=from, cat=to) over the batch
    transition pairs WITH <end> rows stripped, per day of the
    COMPLETING row's timestamp — including the emitter's ts
    passthrough attribution."""
    import datetime as dt

    from taco_toolbox_spark.checks.drift import (
        END_TOKEN,
        conditional_tv,
        transition_counts,
        transition_pairs,
    )
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_conditional_tv,
        stream_transition_pairs,
    )

    t0 = dt.datetime(2025, 6, 1)
    rows = []
    for day in range(3):
        for g in range(3):
            # day 2 loops a->a: the transition texture shifts
            pat = ["u", "a", "u", "a"] if day < 2 else ["u", "a", "a", "a"]
            for i, st in enumerate(pat):
                rows.append(
                    (
                        f"g{day}_{g}",
                        i,
                        t0 + dt.timedelta(days=day, minutes=g * 10 + i),
                        st,
                    )
                )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, role string"
    )
    path = str(tmp_path / "ttv_in")
    # one file per conversation: the emitter's unconditional-exactness
    # staging
    df.repartition("conv_id").write.mode("overwrite").parquet(path)

    base_full = transition_counts(df, "conv_id", ["turn_idx"], "role")
    nested = {}
    for (k, c), n in base_full.items():
        if k != END_TOKEN and c != END_TOKEN:
            nested.setdefault(k, {})[c] = int(n)

    # stage 1: drain pairs with ts passthrough
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    pairs = stream_transition_pairs(
        stream, "conv_id", "turn_idx", "role",
        output_mode="append", ts_col="ts",
    )
    pair_dir = str(tmp_path / "ttv_pairs")
    q = (
        pairs.writeStream.outputMode("append")
        .format("parquet")
        .option("path", pair_dir)
        .option("checkpointLocation", str(tmp_path / "ttv_ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # stage 2: conditional TV over the drained pair stream
    ps = (
        spark.readStream.schema(
            "conv_id string, from_state string, to_state string,"
            " ts timestamp"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(pair_dir)
    )
    tv = stream_conditional_tv(
        ps, "from_state", "to_state", nested, window="1 day",
        watermark="1 day",
    )
    q2 = (
        tv.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_ttv")
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = spark.sql("SELECT * FROM t_ttv").toPandas()
    got["day"] = got.window_start.map(lambda t: str(t.date()))
    got = got.set_index(["day", "cond"]).sort_index()

    # batch composition: pairs (minus end rows) + completing-ts day +
    # the identical conditional-TV machinery
    bp = transition_pairs(df, "conv_id", ["turn_idx"], "role").filter(
        F.col("to_state") != END_TOKEN
    )
    day = bp.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    flat = {
        (k, c): n for k, inner in nested.items() for c, n in inner.items()
    }
    want = (
        conditional_tv(day, "from_state", "to_state", "day", flat)
        .toPandas()
        .set_index(["part", "cond"])
        .sort_index()
    )
    assert list(got.index) == list(want.index)
    assert (got.n_win.to_numpy() == want.n_part.to_numpy()).all()
    assert (got.tv_num.to_numpy() == want.tv_num.to_numpy()).all()
    assert (got.tv.to_numpy() == want.tv.to_numpy()).all()  # bit-exact
    # the from='a' texture deviates from the mixed baseline on every
    # day (each day saw only one of the two patterns) while the opening
    # protocol never drifts — the separation the statistic exists for
    assert got.loc[("2025-06-01", "a")].tv == 0.5
    assert got.loc[("2025-06-03", "a")].tv == 0.5
    assert float(got.loc[("2025-06-02", "<start>")].tv) == 0.0


def test_stream_bridge_embedded_health(tmp_path, corpus):
    """An embed_history draft streams the HEALTH trio too: the volume
    member judges windows against the embedded (vs-history) band, the
    completeness member against the embedded corpus fraction, the
    cardinality member as the honestly-named HLL approximation — and the
    skipped residue shrinks to the transition TVs alone. Batch stays
    green on the source with the embedded data (identical band)."""
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_checks_from_suite,
    )
    from taco_toolbox_spark.suite import parse_suite, suggest_suite

    spark = corpus.clean.sparkSession
    spec = suggest_suite(corpus.clean, embed_history=True)
    by_id = {c["id"]: c for c in spec["checks"]}
    assert len(by_id["volume"]["history"]) > 1
    assert 0.0 <= by_id["tool_null_drift"]["baseline_frac"] <= 1.0
    # green on source: the vs-history band equals the self band here
    res = parse_suite(spec).run(corpus.clean)
    assert res.verdicts.filter("NOT passed").count() == 0

    path = str(tmp_path / "embedhealth_in")
    corpus.clean.write.mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema(corpus.clean.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    built, skipped = stream_checks_from_suite(stream, spec)
    assert {"volume", "tool_null_drift", "conv_id_cardinality"} <= set(
        built
    )
    # bridge-level residue: the battery members (the streaming CLI wires
    # those) and the transition TVs — no health entry left behind
    battery_types = {
        "(uniqueness)", "(monotone)", "(gap)", "(sequence)",
        "(contiguity)",
    }
    for s in skipped:
        assert "(transition_drift)" in s or any(
            t in s for t in battery_types
        ), s
    assert not any(
        t in s
        for s in skipped
        for t in ("(volume)", "(completeness)", "(cardinality)")
    )

    q = (
        built["volume"]
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_embed_vol")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    vol = spark.sql("SELECT * FROM t_embed_vol").toPandas()
    # the blessed corpus against its own embedded band: nothing fires
    assert len(vol) > 1 and not vol.is_anomaly.any()


def test_stream_categorical_tv_nonstring_keys_and_wide_vocab(tmp_path, spark):
    """Non-string baseline keys must behave exactly like the batch path's
    str(k) literal frame (no numeric coercion of the string-cast category
    column), and a >1000-category baseline is rejected loudly."""
    import datetime as dt

    import pandas as pd
    import pytest as _pytest

    from taco_toolbox_spark.streaming.validate_stream import (
        stream_categorical_tv,
    )

    t0 = dt.datetime(2025, 3, 1, 6, 0, 0)
    pdf = pd.DataFrame({"cat": ["1.0", "1", "2"], "ts": [t0] * 3})
    path = str(tmp_path / "nsk_in")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)

    got = drain(
        spark,
        path,
        lambda s: stream_categorical_tv(s, "cat", {1: 2, 2: 1}, window="1 day"),
        "complete",
        4,
    ).toPandas()
    # '1.0' must NOT count as category '1': present mass = {'1':1, '2':1},
    # unknown mass = 1. n_win=3, N_base=3:
    # |1*3-2*3| + |1*3-1*3| + 1*3 = 3 + 0 + 3 = 6
    assert int(got.tv_num.iloc[0]) == 6

    wide = {f"c{i}": 1 for i in range(1001)}
    with _pytest.raises(ValueError, match="1001 categories"):
        stream_categorical_tv(
            spark.readStream.schema("cat string, ts timestamp").parquet(path),
            "cat",
            wide,
        )


def test_semantic_decontaminate_zero_norm_excluded(spark):
    """Zero-norm vectors have no defined cosine — they must be excluded
    on both sides, not divided by zero (silent NULL drop under non-ANSI,
    job-killing ArithmeticException under stock ANSI Spark)."""
    from taco_toolbox_spark.dedup.decontaminate import (
        semantic_contamination_matches,
    )

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0])],
        "doc_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 0.0])],
        "bench_id long, embedding array<double>",
    )
    got = {
        (r["doc_id"], r["bench_id"])
        for r in semantic_contamination_matches(
            corpus, bench, threshold=0.0
        ).collect()
    }
    assert got == {(0, 100)}  # every zero-norm pairing excluded


def test_stream_rate_matches_batch(tmp_path, spark):
    """stream_rate_violations must emit exactly the batch
    burst_violations rows (key, ts, n_trailing) when each key is staged
    into one file, including same-second peers and NULL-ts immunity."""
    import datetime as dt

    from taco_toolbox_spark.operators.rolling import burst_violations
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_rate_violations,
    )

    t0 = dt.datetime(2025, 2, 1, 0, 0, 0)

    def at(s, us=0):
        return t0 + dt.timedelta(seconds=s, microseconds=us)

    rows = []
    # key A: burst of 5 inside 10s (two same-second peers), then quiet
    for i, s in enumerate([0, 3, 3, 7, 9, 60]):
        rows.append(("A", i, at(s, us=i)))
    # key B: steady, never fires
    for i, s in enumerate([0, 30, 60, 90]):
        rows.append(("B", 100 + i, at(s)))
    # key C: NULL ts rows never fire
    rows += [("C", 200, None), ("C", 201, at(0))]
    df = spark.createDataFrame(rows, "k string, event_id long, ts timestamp")

    inp = str(tmp_path / "rate_in")
    df.repartition(4, "k").write.mode("overwrite").parquet(inp)

    got = drain(
        spark,
        inp,
        lambda s: stream_rate_violations(
            s, "k", "ts", seconds=10, max_events=2
        ),
        "update",
    ).toPandas()
    want = (
        burst_violations(
            spark.read.parquet(inp),
            ["k"], max_events=2, ts_col="ts", seconds=10,
        )
        .select("k", "ts", "n_trailing")
        .toPandas()
    )
    gs = {(r.k, r.ts, r.n_trailing) for r in got.itertuples()}
    ws = {(r.k, r.ts, r.n_trailing) for r in want.itertuples()}
    assert gs == ws and len(ws) > 0
    assert all(k != "C" for k, _, _ in gs)


def test_stream_rate_state_carries_across_batches(tmp_path, spark):
    """A burst SPANNING micro-batches must still fire: with one file per
    micro-batch and in-order arrival, the retained state times complete
    the trailing window for later batches; events past the retention
    horizon count only themselves."""
    import datetime as dt
    import glob
    import shutil

    from taco_toolbox_spark.streaming.validate_stream import (
        stream_rate_violations,
    )

    t0 = dt.datetime(2025, 2, 2, 0, 0, 0)
    inp = str(tmp_path / "carry_in")
    # batch 1: two events at t=0,4; batch 2: one at t=8 (window [‑2,8]
    # holds all three -> fires), one at t=100 (alone -> quiet)
    spark.createDataFrame(
        [("A", t0, 0)], "k string, ts timestamp, i int"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "p1"))
    spark.createDataFrame(
        [("A", t0 + dt.timedelta(seconds=4), 1)],
        "k string, ts timestamp, i int",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "p2"))
    spark.createDataFrame(
        [("A", t0 + dt.timedelta(seconds=8), 2),
         ("A", t0 + dt.timedelta(seconds=100), 3)],
        "k string, ts timestamp, i int",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "p3"))
    import os

    os.makedirs(inp)
    # force distinct, increasing mod-times: FileStreamSource orders by
    # mtime, and near-simultaneous copies can tie (observed flake)
    import time as _t

    now = _t.time()
    for j, d in enumerate(("p1", "p2", "p3")):
        src = glob.glob(str(tmp_path / d / "part-*.parquet"))[0]
        dst = f"{inp}/{j:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (now - 100 + 10 * j, now - 100 + 10 * j))

    got = drain(
        spark,
        inp,
        lambda s: stream_rate_violations(
            s, "k", "ts", seconds=10, max_events=2
        ),
        "update",
        1,
    ).toPandas()
    assert len(got) == 1
    assert int(got.n_trailing.iloc[0]) == 3
    assert got.ts.iloc[0] == t0 + dt.timedelta(seconds=8)


def test_stream_rate_state_ttl_smoke(tmp_path, spark):
    """TTL mode runs end-to-end and still fires on bursts arriving within
    the horizon (generous TTL; same poll-the-sink protocol as the FD TTL
    smoke — a processing-time timeout keeps no-data batches running, so
    processAllAvailable never returns)."""
    import datetime as dt
    import time as _time

    from taco_toolbox_spark.streaming.validate_stream import (
        stream_rate_violations,
    )

    t0 = dt.datetime(2025, 2, 3, 0, 0, 0)
    rows = [("A", t0 + dt.timedelta(seconds=s)) for s in (0, 2, 4)]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    inp = str(tmp_path / "rate_ttl_in")
    df.coalesce(1).write.parquet(inp)
    static = spark.read.parquet(inp)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = stream_rate_violations(
        stream, "k", "ts", seconds=10, max_events=2,
        state_ttl_ms=3_600_000,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_rate_ttl")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 120
        got = []
        while _time.time() < deadline:
            got = spark.sql("SELECT * FROM t_rate_ttl").collect()
            if got:
                break
            _time.sleep(2)
    finally:
        q.stop()
    assert [int(r["n_trailing"]) for r in got] == [3]


def test_stream_runs_matches_batch(tmp_path, spark):
    """stream_run_violations must emit exactly the batch stuck_runs rows
    (key, order, value, run_pos) when each key is staged into one file —
    including NULL runs (stuck-null) and per-key isolation."""
    from taco_toolbox_spark.operators.runs import stuck_runs
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_run_violations,
    )

    rows = [
        ("A", 1, "a"), ("A", 2, "a"), ("A", 3, "a"), ("A", 4, "b"),
        ("A", 5, "a"), ("A", 6, None), ("A", 7, None), ("A", 8, None),
        ("B", 1, "x"), ("B", 2, "y"), ("B", 3, "x"),
        ("C", 1, "z"), ("C", 2, "z"), ("C", 3, "z"), ("C", 4, "z"),
    ]
    df = spark.createDataFrame(rows, "k string, i int, v string")
    inp = str(tmp_path / "runs_in")
    df.repartition(4, "k").write.mode("overwrite").parquet(inp)

    got = drain(
        spark,
        inp,
        lambda s: stream_run_violations(s, "k", ["i"], "v", max_run=2),
        "update",
    ).toPandas()
    want = (
        stuck_runs(spark.read.parquet(inp), ["k"], ["i"], "v", 2)
        .toPandas()
    )
    gs = {(r.k, r.i, r.v, r.run_pos) for r in got.itertuples()}
    ws = {(r.k, r.i, r.v, r.run_pos) for r in want.itertuples()}
    assert gs == ws and len(ws) > 0
    # NULL run overflow present (stuck-null is stuck)
    assert ("A", 8, None, 3) in gs


def test_stream_runs_state_carries_across_batches(tmp_path, spark):
    """A run SPANNING micro-batches must keep counting: with one file
    per micro-batch and in-order arrival, the O(1) state (last value +
    run length) extends the run; a different value resets it."""
    import glob
    import os
    import shutil

    from taco_toolbox_spark.streaming.validate_stream import (
        stream_run_violations,
    )

    inp = str(tmp_path / "runs_carry")
    batches = [
        [("A", 1, "a"), ("A", 2, "a")],      # run of 2 — quiet at max_run=2
        [("A", 3, "a"), ("A", 4, "a")],      # extends to 4 — pos 3, 4 fire
        [("A", 5, "b"), ("A", 6, "a")],      # reset — quiet
    ]
    os.makedirs(inp)
    # distinct, increasing mod-times (FileStreamSource orders by mtime;
    # ties break in-order arrival — observed flake in the rate twin)
    import time as _t

    now = _t.time()
    for j, b in enumerate(batches):
        d = str(tmp_path / f"rb{j}")
        spark.createDataFrame(b, "k string, i int, v string").coalesce(
            1
        ).write.mode("overwrite").parquet(d)
        dst = f"{inp}/{j:03d}.parquet"
        shutil.copy(glob.glob(f"{d}/part-*.parquet")[0], dst)
        os.utime(dst, (now - 100 + 10 * j, now - 100 + 10 * j))

    got = drain(
        spark,
        inp,
        lambda s: stream_run_violations(s, "k", ["i"], "v", max_run=2),
        "update",
        1,
    ).toPandas()
    gs = {(r.k, r.i, r.v, r.run_pos) for r in got.itertuples()}
    assert gs == {("A", 3, "a", 3), ("A", 4, "a", 4)}


def test_stream_runs_guards(spark):
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_run_violations,
    )

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="max_run"):
        stream_run_violations(df, "value", ["timestamp"], "value", max_run=0)
    with pytest.raises(ValueError, match="not in stream schema"):
        stream_run_violations(df, "value", ["nope"], "value", max_run=1)
    with pytest.raises(ValueError, match="at least one column"):
        stream_run_violations(df, "value", [], "value", max_run=1)


def test_stream_periodic_matches_batch(tmp_path, spark):
    """stream_periodic_violations must emit exactly the batch
    periodic_overflow rows (key, order, value, stretch_pos) when each key
    is staged into one file — ping-pong loops, NULL cycling, constant
    runs (periodic at any p), and per-key isolation."""
    from taco_toolbox_spark.operators.runs import periodic_overflow
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_periodic_violations,
    )

    rows = [
        # A: a,b,a,b,a,b -> rows 5,6 of the stretch exceed 2 reps * p 2
        ("A", 1, "a"), ("A", 2, "b"), ("A", 3, "a"),
        ("A", 4, "b"), ("A", 5, "a"), ("A", 6, "b"),
        # B: exactly 2 reps then broken — quiet
        ("B", 1, "x"), ("B", 2, "y"), ("B", 3, "x"),
        ("B", 4, "y"), ("B", 5, "z"),
        # C: NULL cycling with NULL: null,w,null,w,null -> row 5 fires
        ("C", 1, None), ("C", 2, "w"), ("C", 3, None),
        ("C", 4, "w"), ("C", 5, None),
        # D: constant x5 is periodic at p=2: row 5 fires
        ("D", 1, "q"), ("D", 2, "q"), ("D", 3, "q"),
        ("D", 4, "q"), ("D", 5, "q"),
    ]
    df = spark.createDataFrame(rows, "k string, i int, v string")
    inp = str(tmp_path / "periodic_in")
    df.repartition(4, "k").write.mode("overwrite").parquet(inp)

    got = drain(
        spark,
        inp,
        lambda s: stream_periodic_violations(
            s, "k", ["i"], "v", period=2, max_reps=2
        ),
        "update",
    ).toPandas()
    want = (
        periodic_overflow(spark.read.parquet(inp), ["k"], ["i"], "v", 2, 2)
        .toPandas()
    )
    gs = {(r.k, r.i, r.v, r.stretch_pos) for r in got.itertuples()}
    ws = {(r.k, r.i, r.v, r.stretch_pos) for r in want.itertuples()}
    assert gs == ws and len(ws) > 0
    assert ("C", 5, None, 5) in gs  # NULL cycling fires
    assert ("B", 5, "z", 5) not in gs  # broken stretch stays quiet


def test_stream_periodic_state_carries_across_batches(tmp_path, spark):
    """A ping-pong stretch SPANNING micro-batches must keep counting:
    with one file per micro-batch and in-order arrival, the O(period)
    state (last p values + continuing-run length) extends the stretch; a
    breaking value resets it."""
    import glob
    import os
    import shutil
    import time as _t

    from taco_toolbox_spark.streaming.validate_stream import (
        stream_periodic_violations,
    )

    inp = str(tmp_path / "periodic_carry")
    batches = [
        [("A", 1, "a"), ("A", 2, "b")],      # seed motif — quiet
        [("A", 3, "a"), ("A", 4, "b")],      # 2 full reps — quiet at max 2
        [("A", 5, "a"), ("A", 6, "c")],      # row 5 fires (stretch 5), c resets
        [("A", 7, "a"), ("A", 8, "c")],      # new motif building — quiet
    ]
    os.makedirs(inp)
    now = _t.time()
    for j, b in enumerate(batches):
        d = str(tmp_path / f"pb{j}")
        spark.createDataFrame(b, "k string, i int, v string").coalesce(
            1
        ).write.mode("overwrite").parquet(d)
        dst = f"{inp}/{j:03d}.parquet"
        shutil.copy(glob.glob(f"{d}/part-*.parquet")[0], dst)
        os.utime(dst, (now - 100 + 10 * j, now - 100 + 10 * j))

    got = drain(
        spark,
        inp,
        lambda s: stream_periodic_violations(
            s, "k", ["i"], "v", period=2, max_reps=2
        ),
        "update",
        1,
    ).toPandas()
    gs = {(r.k, r.i, r.v, r.stretch_pos) for r in got.itertuples()}
    assert gs == {("A", 5, "a", 5)}


def test_stream_periodic_guards(spark):
    from taco_toolbox_spark.streaming.validate_stream import (
        stream_periodic_violations,
    )

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="period"):
        stream_periodic_violations(df, "value", ["timestamp"], "value", period=0)
    with pytest.raises(ValueError, match="max_reps"):
        stream_periodic_violations(
            df, "value", ["timestamp"], "value", max_reps=0
        )
    with pytest.raises(ValueError, match="not in stream schema"):
        stream_periodic_violations(df, "value", ["nope"], "value")


def _append_turns(spark, path, rows):
    """Append one single-file batch of (conv_id, turn_idx, ts) rows; each
    call becomes its own micro-batch of run_durable_battery."""
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp"
    ).repartition(1).write.mode("append").parquet(path)


def test_stateful_battery_state_cap_then_monotone(tmp_path, spark):
    """A turn_idx >= STATE_CAP emits exactly one stream_state_cap row
    (uniqueness/contiguity stop), and ts_monotone keeps firing after it,
    in the same batch and across the next one."""
    import datetime as dt

    from taco_toolbox_spark.streaming.validate_stream import (
        STATE_CAP,
        run_durable_battery,
    )

    t0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    s = dt.timedelta(seconds=1)
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    _append_turns(
        spark,
        inp,
        [("c", 0, t0), ("c", 1, t0 + 2 * s), ("c", STATE_CAP, t0 + s)],
    )
    run_durable_battery(spark, inp, out, ckpt)
    _append_turns(
        spark,
        inp,
        [("c", STATE_CAP + 1, t0 + 3 * s), ("c", STATE_CAP + 2, t0)],
    )
    run_durable_battery(spark, inp, out, ckpt)
    got = spark.read.parquet(out).toPandas()

    cap = got[got.check_id == "stream_state_cap"]
    assert list(zip(cap.conv_id, cap.turn_idx)) == [("c", STATE_CAP)]
    assert cap.ts.isna().all()
    mono = got[got.check_id == "ts_monotone"]
    assert sorted(mono.turn_idx) == [STATE_CAP, STATE_CAP + 2]
    assert not got.check_id.isin(["unique_turn", "turn_contiguous"]).any()


def test_stateful_battery_session_timezone_boundary(tmp_path, spark):
    """The battery's ts state is time-zone independent: under a non-UTC
    session time zone a regression across a micro-batch boundary is
    caught, and the emitted ts is the input instant."""
    import datetime as dt

    from taco_toolbox_spark.streaming.validate_stream import run_durable_battery

    t0 = dt.datetime(2025, 3, 9, 9, 59, 59, 250_000, tzinfo=dt.timezone.utc)
    s = dt.timedelta(seconds=1)
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        _append_turns(spark, inp, [("c", 0, t0), ("c", 1, t0 + 10 * s)])
        run_durable_battery(spark, inp, out, ckpt)
        _append_turns(spark, inp, [("c", 2, t0 + 5 * s)])
        run_durable_battery(spark, inp, out, ckpt)
        got = (
            spark.read.parquet(out)
            .select("conv_id", "turn_idx", "check_id",
                    F.unix_micros("ts").alias("us"))
            .collect()
        )
    finally:
        spark.conf.set(key, old)
    want_us = (t0 + 5 * s - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // (
        dt.timedelta(microseconds=1)
    )
    assert [(r.conv_id, r.turn_idx, r.check_id, r.us) for r in got] == [
        ("c", 2, "ts_monotone", want_us)
    ]


def test_stateful_battery_duplicates_reported_once(tmp_path, spark):
    """A duplicate turn inside one micro-batch and one split across two
    are each reported exactly once — a further copy in a later batch is
    not re-reported."""
    import datetime as dt

    from taco_toolbox_spark.streaming.validate_stream import run_durable_battery

    t0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    s = dt.timedelta(seconds=1)
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    _append_turns(
        spark,
        inp,
        [
            ("a", 0, t0), ("a", 1, t0 + s), ("a", 1, t0 + s),
            ("b", 0, t0), ("b", 1, t0 + s),
        ],
    )
    run_durable_battery(spark, inp, out, ckpt)
    _append_turns(
        spark, inp, [("a", 1, t0 + s), ("b", 1, t0 + s), ("b", 2, t0 + 2 * s)]
    )
    run_durable_battery(spark, inp, out, ckpt)
    got = spark.read.parquet(out).toPandas()
    dup = got[got.check_id == "unique_turn"]
    assert sorted(zip(dup.conv_id, dup.turn_idx)) == [("a", 1), ("b", 1)]


def test_stateful_gap_boundary_is_exclusive(tmp_path, spark):
    """ts_gap fires on a step strictly above max_gap_s: a gap of exactly
    max_gap_s passes, one microsecond more fails."""
    import datetime as dt

    from taco_toolbox_spark.streaming.validate_stream import (
        transcript_violations_stateful,
    )

    t0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    gap = dt.timedelta(seconds=120)
    path = str(tmp_path / "gap_in")
    _append_turns(
        spark,
        path,
        [
            ("c", 0, t0),
            ("c", 1, t0 + gap),
            ("c", 2, t0 + 2 * gap + dt.timedelta(microseconds=1)),
        ],
    )
    out = drain(
        spark,
        path,
        lambda s: transcript_violations_stateful(s, max_gap_s=120),
        "update",
    ).toPandas()
    flagged = out[out.check_id == "ts_gap"]
    assert list(zip(flagged.conv_id, flagged.turn_idx)) == [("c", 2)]


def test_drain_restores_conf_and_stops_query(tmp_path, spark):
    """drain() restores spark.sql.shuffle.partitions and leaves no active
    query after a normal run, after ``build`` raises, and after the query
    fails at run time; back-to-back drains return their own rows."""
    from pyspark.errors import StreamingQueryException

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(3).write.parquet(a)
    spark.range(10, 15).write.parquet(b)

    def bad_build(s):
        raise ValueError("bad builder")

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    # a value drain's defaultParallelism override cannot coincide with
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism + 3))
    before = spark.conf.get(key)
    try:
        got_a = drain(spark, a, lambda s: s, "append")
        got_b = drain(spark, b, lambda s: s, "append")
        assert sorted(r.id for r in got_a.collect()) == [0, 1, 2]
        assert sorted(r.id for r in got_b.collect()) == [10, 11, 12, 13, 14]
        assert spark.conf.get(key) == before
        assert not spark.streams.active

        with pytest.raises(ValueError, match="bad builder"):
            drain(spark, a, bad_build, "append")
        assert spark.conf.get(key) == before
        assert not spark.streams.active

        with pytest.raises(StreamingQueryException, match="boom"):
            drain(
                spark,
                a,
                lambda s: s.select(F.raise_error(F.lit("boom")).alias("e")),
                "append",
            )
        assert spark.conf.get(key) == before
        assert not spark.streams.active
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="module")
def split_dir(corpus, tmp_path_factory):
    """The clean corpus as a multi-file parquet dir with a derived
    embedding column, and its file count."""
    import os

    d = str(tmp_path_factory.mktemp("split") / "in")
    corpus.clean.withColumn(
        "vec",
        F.array(F.col("turn_idx").cast("double"), F.length("text").cast("double")),
    ).repartition(4).write.parquet(d)
    return d, len([f for f in os.listdir(d) if f.endswith(".parquet")])


def _split_builder(name, static):
    from taco_toolbox_spark.checks.drift import (
        categorical_counts,
        conditional_counts,
        embedding_centroid_sums,
    )
    from taco_toolbox_spark.streaming import validate_stream as vs

    if name == "cat_tv":
        base = categorical_counts(static, "role")
        return lambda s: vs.stream_categorical_tv(s, "role", base)
    if name == "cond_tv":
        base = conditional_counts(static, "role", "tool")
        return lambda s: vs.stream_conditional_tv(s, "role", "tool", base)
    if name == "corr":
        return lambda s: vs.stream_correlation_drift(
            s, "turn_idx", "length(text)", 0.0
        )
    if name == "embedding":
        base = {
            int(r["dim"]): int(r["g"])
            for r in embedding_centroid_sums(static, "vec", "ts")
            .groupBy("dim")
            .agg(F.sum("s").alias("g"))
            .collect()
        }
        return lambda s: vs.stream_embedding_drift(s, "vec", base)
    if name == "digest":
        return lambda s: vs.stream_content_digest(
            s, ["conv_id", "turn_idx", "role", "text"], ["role"]
        )
    if name == "health":
        baseline = vs.stream_health_baseline(static, "tool")
        return lambda s: vs.stream_health(
            s, valid_expr="tool", distinct_col="conv_id",
            distinct_band=(10.0, 1.0), **baseline,
        )
    return lambda s: vs.stream_cms_counters(s, ["role", "tool"])


@pytest.mark.parametrize(
    "name", ["cat_tv", "cond_tv", "corr", "embedding", "digest", "health", "cms"]
)
def test_stream_twins_split_invariant(spark, split_dir, name):
    """Twins whose results promise independence from arrival order emit
    identical rows whether the input arrives one file per micro-batch or
    all in one batch (complete mode)."""
    path, n_files = split_dir
    assert n_files > 1
    build = _split_builder(name, spark.read.parquet(path))

    def rows(mft):
        return sorted(
            repr(tuple(r)) for r in drain(spark, path, build, "complete", mft).collect()
        )

    one = rows(1)
    assert one and one == rows(n_files)
