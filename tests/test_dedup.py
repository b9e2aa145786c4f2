import itertools

import pytest

from taco_toolbox_spark.dedup.exact import drop_exact_duplicates, exact_duplicate_groups
from taco_toolbox_spark.dedup.minhash import minhash_near_duplicates
from taco_toolbox_spark.dedup.ngram import jaccard_pairs, shingles
from taco_toolbox_spark.dedup.simhash import simhash, simhash_near_duplicates


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    near = "the quick brown fox jumps over the lazy cat near the old river bank"
    far = "completely different text about spark distributed query processing"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, "  The QUICK brown fox jumps over the lazy dog near the old river bank "),
        (3, near),  # near dup of 0
        (4, far),
        (5, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _py_jaccard(a: str, b: str, n=3):
    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def test_exact_groups(docs):
    groups = exact_duplicate_groups(docs).collect()
    # normalization (lowercase, collapsed whitespace) unifies 0, 1 and 2
    assert len(groups) == 1
    assert list(groups[0]["ids"]) == [0, 1, 2] and groups[0]["n_dups"] == 3
    kept = drop_exact_duplicates(docs)
    assert kept.count() == docs.count() - 2  # drops 1 and 2 (same fp as 0)


def test_shingles_short_doc_excluded(docs):
    sh = shingles(docs, "text", "doc_id", 3)
    assert sh.filter("id = 5").count() == 0


def test_jaccard_pairs_exact(docs, spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.2).collect()
    }
    pdf = {r["doc_id"]: r["text"] for r in docs.collect()}
    for a, b in itertools.combinations(sorted(pdf), 2):
        j = _py_jaccard(pdf[a], pdf[b])
        if j >= 0.2:
            assert pairs[(a, b)] == pytest.approx(j), (a, b)
        else:
            assert (a, b) not in pairs


def _prefix_corpus(spark):
    """60 docs: 12 planted near-dup pairs at varying overlap, a HOT
    shingle run shared by every doc (the brute join's worst case — the
    prefix filter must exclude it from candidate generation), filler
    docs, and length-mismatched decoys that only the length filter
    prunes."""
    hot = "the agent said it would run the tool now"
    rows = []
    for i in range(12):
        body = f"unique payload {i} alpha beta gamma delta epsilon zeta eta theta iota kappa word{i}"
        rows.append((2 * i, f"{body} {hot}"))
        # twin with one word changed — high but sub-1.0 jaccard
        rows.append((2 * i + 1, f"{body.replace('gamma', 'GAMMA')} {hot}"))
    for i in range(24, 54):
        rows.append((i * 10, f"filler doc {i} " + " ".join(f"tok{i}_{j}" for j in range(10)) + f" {hot}"))
    # a short doc fully contained in a long one: Jaccard small, must be
    # pruned by the length filter, never returned
    rows.append((9001, "alpha beta gamma delta epsilon"))
    rows.append((9002, "alpha beta gamma delta epsilon " + " ".join(f"pad{j}" for j in range(40))))
    # same-length pair sharing SEVERAL rare shingles early in the
    # rarest-first order but nothing else: multiple prefix collisions
    # (c >= 2) with low true overlap — the shape the collision-count
    # positional bound prunes before verification; parity below asserts
    # the tightened filter never changes the returned pair set. Each
    # filler run also appears in two padded carrier docs (jaccard ~0.2
    # with the pair's docs), so the filler shingles have df=3 and the
    # shared df=2 head shingles rank inside both prefixes.
    shared_head = "omega sigma lambda rho tau phi chi psi"
    for doc_id, side in ((9101, "lefty"), (9102, "righty")):
        run = " ".join(f"{side}{j}" for j in range(20))
        rows.append((doc_id, f"{shared_head} {run}"))
        for c in range(2):
            pad = " ".join(f"{side}pad{c}_{j}" for j in range(60))
            rows.append((doc_id + 10 * (c + 1), f"{run} {pad}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _prefix_candidates(docs, t):
    """(id_a, id_b, _c) for every pair colliding in the prefix join of
    jaccard_pairs_prefix at threshold ``t``: prefixes under the same
    (df, hash, shingle) rarest-first order, before the length and
    positional filters."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sh = shingles(docs, "text", "doc_id", 3)
    ranked = sh.select(
        "id",
        "shingle",
        F.count(F.lit(1)).over(Window.partitionBy("shingle")).alias("_f"),
    ).select(
        "id",
        "shingle",
        F.row_number()
        .over(
            Window.partitionBy("id").orderBy(
                "_f", F.xxhash64("shingle"), "shingle"
            )
        )
        .alias("_p"),
        F.count(F.lit(1)).over(Window.partitionBy("id")).alias("_l"),
    )
    prefix = ranked.filter(
        F.col("_p") <= F.col("_l") - F.ceil(F.lit(t) * F.col("_l")) + 1
    )
    a = prefix.select(F.col("id").alias("id_a"), "shingle")
    b = prefix.select(F.col("id").alias("id_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )


def test_jaccard_prefix_equals_bruteforce(spark):
    """Prefix-filtered exact join (AllPairs/PPJoin) returns EXACTLY the
    capless brute-force pair set — same pairs, same jaccard values — on
    a corpus with a universally-shared hot shingle and length decoys."""
    from taco_toolbox_spark.dedup.ngram import jaccard_pairs_prefix

    docs = _prefix_corpus(spark)
    for t in (0.3, 0.5, 0.8):
        brute = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs(
                docs, threshold=t, max_shingle_freq=None
            ).collect()
        }
        pref = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs_prefix(docs, threshold=t).collect()
        }
        assert pref == pytest.approx(brute), f"threshold {t}"
        if t == 0.3:
            assert brute, "corpus must actually contain qualifying pairs"


def test_jaccard_prefix_prunes_hot_shingle_candidates(spark):
    """The hot shingle shared by EVERY doc must not drive candidate
    generation: the prefix self-join's candidate count stays near the
    true pair count, orders of magnitude below the brute join's
    every-doc-pairs-with-every-doc blowup."""
    docs = _prefix_corpus(spark)
    n_cand = _prefix_candidates(docs, 0.5).count()
    n_docs = docs.count()
    # brute candidate blowup would be ~C(n_docs, 2) thanks to the hot
    # shingle; prefix candidates must stay far below it
    assert n_cand < (n_docs * (n_docs - 1) // 2) * 0.2


def test_jaccard_prefix_low_overlap_pair_reaches_candidates(spark):
    """The 9101/9102 pair exists to exercise the collision-count bound:
    it must collide on several prefix shingles (_c >= 2) at every
    threshold, yet never be returned (true jaccard ~0.15)."""
    from taco_toolbox_spark.dedup.ngram import jaccard_pairs_prefix

    docs = _prefix_corpus(spark)
    for t in (0.3, 0.5, 0.8):
        cand = {
            (r.id_a, r.id_b): r._c
            for r in _prefix_candidates(docs, t).collect()
        }
        assert cand.get((9101, 9102), 0) >= 2, f"threshold {t}"
        got = {
            (r.id_a, r.id_b)
            for r in jaccard_pairs_prefix(docs, threshold=t).collect()
        }
        assert (9101, 9102) not in got, f"threshold {t}"


def test_minhash_recall_vs_bruteforce(spark):
    # 20 distinct base docs, each with a near-duplicate (one word swapped:
    # pair jaccard ~0.8); cross-pairs share almost nothing
    rows = []
    for i in range(20):
        words = [f"w{i}_{j}" for j in range(12)]
        rows.append((2 * i, " ".join(words)))
        words[5] = "CHANGED"
        rows.append((2 * i + 1, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    brute = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert brute == {(2 * i, 2 * i + 1) for i in range(20)}
    # bands=16 x rows=2: P(collide | j=0.5) = 1-(1-0.25)^16 ≈ 0.99
    mh = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            docs, threshold=0.5, num_hashes=32, bands=16
        ).collect()
    }
    assert mh <= brute  # verification guarantees precision = 1
    assert len(mh) / len(brute) >= 0.9  # high recall


def test_simhash_identical_and_near(docs):
    sh = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[0] == sh[1]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(docs, max_hamming=10).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 3) in pairs  # near-dup within hamming 10


def test_md5_halves_match_hashlib(spark):
    # the engine-portable hash must equal python's md5 bit-for-bit
    import hashlib

    from pyspark.sql import functions as F

    from taco_toolbox_spark.dedup.simhash import _md5_halves

    words = ["fox", "Straße", "", "a b", "42"]
    df = spark.createDataFrame([(w,) for w in words], "tok string")
    hi, lo = _md5_halves(F.col("tok"))
    got = {r["tok"]: (r["hi"], r["lo"]) for r in df.select("tok", hi.alias("hi"), lo.alias("lo")).collect()}
    for w in words:
        hx = hashlib.md5(w.encode("utf-8")).hexdigest()
        assert got[w] == (int(hx[:8], 16), int(hx[8:16], 16)), w


def test_simhash_md5_mode_finds_near_dups(docs):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(docs, max_hamming=10, hash_fn="md5").collect()
    }
    assert got[(0, 1)] == 0  # exact dups: identical fingerprints
    # case/whitespace variant: hamming 6, and some 16-bit chunk agrees
    assert got[(0, 2)] == got[(1, 2)] > 0
    assert (0, 4) not in got  # unrelated text is far


def test_minhash_md5_mode_precision_and_certified_recall(docs):
    # banding is probabilistic for mid-jaccard pairs (hash-family
    # dependent), so the two modes' outputs need not coincide; what IS
    # guaranteed for any hash family: jaccard-1.0 pairs collide in every
    # band, and every emitted pair survives the exact-jaccard verify
    truth = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.2, max_shingle_freq=None).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_duplicates(docs, threshold=0.2, hash_fn="md5").collect()
    }
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert set(got) <= set(truth)  # precision: no false pairs
    for k, v in got.items():
        assert abs(v - truth[k]) < 1e-9


def test_minhash_md5_mode_beyond_precomputed_family(spark):
    """ADVICE r3: hash_fn='md5' with num_hashes > 64 must extend the
    permutation family on demand (IndexError before), and regeneration at
    a larger k must keep the first-64 prefix bit-identical so inlined
    oracle constants stay valid."""
    from taco_toolbox_spark.dedup.minhash import (
        MINHASH_A,
        _perm_constants,
        shingle_hash,
    )

    a64 = list(MINHASH_A[:64])
    shingle_hash(80, hash_fn="md5")  # must not raise
    assert len(MINHASH_A) >= 81
    assert list(MINHASH_A[:64]) == a64
    a100, _, _ = _perm_constants(100)
    assert a100[:64] == a64


def test_decontaminate_flags_and_drops(spark):
    """A corpus doc copying a benchmark item (or sharing >= min_overlap
    distinct n-grams) is flagged with the right overlap count and removed
    by decontaminate(); disjoint docs survive untouched."""
    from taco_toolbox_spark.dedup.decontaminate import (
        contamination_matches,
        contamination_report,
        decontaminate,
    )

    bench_text = "question about the capital of france and its population"
    corpus = spark.createDataFrame(
        [
            (0, bench_text),  # verbatim copy of benchmark item 100
            (1, "partial leak question about the capital of france appears here"),
            (2, "totally unrelated text on spark shuffle partitions and joins"),
            (3, "tiny"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, bench_text)], "bench_id long, text string"
    )

    m = {
        (r["doc_id"], r["bench_id"]): r["n_shared"]
        for r in contamination_matches(corpus, bench, n=3, min_overlap=1).collect()
    }
    # doc 0: all 7 distinct 3-grams of the 9-token benchmark text
    assert m[(0, 100)] == 7
    # doc 1 shares exactly the 3-grams inside "question about the capital
    # of france": question-about-the, about-the-capital, the-capital-of,
    # capital-of-france = 4
    assert m[(1, 100)] == 4
    assert not any(d in (2, 3) for d, _ in m)

    rep = {r["doc_id"]: (r["n_bench_hits"], r["max_shared"])
           for r in contamination_report(corpus, bench, min_overlap=6).collect()}
    assert rep == {0: (1, 7)}  # min_overlap=6 keeps only the verbatim copy

    kept = sorted(
        r["doc_id"]
        for r in decontaminate(corpus, bench, n=3, min_overlap=1).collect()
    )
    assert kept == [2, 3]


def test_decontaminate_broadcast_plan(spark):
    """The benchmark side must reach the join as a broadcast (no corpus
    shuffle by shingle) and shingles() itself must be shuffle-free."""
    from taco_toolbox_spark.dedup.decontaminate import contamination_matches

    corpus = spark.range(0, 50).selectExpr(
        "id AS doc_id",
        "concat('alpha beta gamma delta epsilon zeta token', id) AS text",
    )
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon")], "bench_id long, text string"
    )
    plan = contamination_matches(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the only exchange on the corpus side is the final (doc,bench) agg:
    # shingles() contributes none
    sh_plan = shingles(corpus, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in sh_plan


# ---------------------------------------------------------------------------
# containment (asymmetric near-dup: doc-inside-doc)
# ---------------------------------------------------------------------------


def test_containment_catches_quote_jaccard_misses(spark):
    from taco_toolbox_spark.dedup.ngram import containment_pairs

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    page = quote + " " + " ".join(f"filler{i} word{i} pad{i}" for i in range(40))
    rows = [(0, page), (1, quote), (2, "unrelated text about query engines entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = containment_pairs(df, threshold=0.99, max_shingle_freq=None).collect()
    assert len(cont) == 1
    r = cont[0]
    # the quote's shingles are fully inside the page
    assert (r["id_a"], r["id_b"]) == (0, 1)
    assert r["containment"] == 1.0
    assert r["contained_id"] == 1  # the smaller side
    # symmetric Jaccard misses the same pair at any usable threshold
    jac = jaccard_pairs(df, threshold=0.2, max_shingle_freq=None).collect()
    assert all((p["id_a"], p["id_b"]) != (0, 1) for p in jac)


def test_containment_matches_python_oracle(docs):
    from taco_toolbox_spark.dedup.ngram import containment_pairs

    got = {
        (r["id_a"], r["id_b"]): (r["containment"], r["contained_id"])
        for r in containment_pairs(
            docs, threshold=0.5, max_shingle_freq=None
        ).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    def sh(t, n=3):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    want = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        sa, sb = sh(texts[a]), sh(texts[b])
        if not sa or not sb:
            continue
        c = len(sa & sb) / min(len(sa), len(sb))
        if c >= 0.5:
            want[(a, b)] = (c, a if len(sa) <= len(sb) else b)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0])
        assert got[k][1] == want[k][1]


def test_containment_tie_sizes_contained_is_id_a(spark):
    from taco_toolbox_spark.dedup.ngram import containment_pairs

    t = "one two three four five six"
    df = spark.createDataFrame([(7, t), (9, t)], "doc_id long, text string")
    r = containment_pairs(df, threshold=0.9, max_shingle_freq=None).collect()
    assert len(r) == 1 and r[0]["contained_id"] == 7


def test_semantic_decontaminate_flags_and_drops(spark):
    """A corpus vector near a benchmark vector (cosine >= threshold after
    round-4) is flagged with the right score and removed by
    semantic_decontaminate(); orthogonal vectors survive untouched."""
    import numpy as np

    from taco_toolbox_spark.dedup.decontaminate import (
        semantic_contamination_matches,
        semantic_contamination_report,
        semantic_decontaminate,
    )

    b0 = [1.0, 0.0, 0.0, 0.0]
    corpus = spark.createDataFrame(
        [
            (0, b0),                      # verbatim copy of benchmark 100
            (1, [0.9, 0.1, 0.0, 0.0]),    # near-paraphrase: cos ~ 0.9939
            (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
            (3, [0.5, 0.5, 0.5, 0.5]),    # cos = 0.5 vs b0
        ],
        "doc_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(100, b0)], "bench_id long, embedding array<double>"
    )

    m = {
        (r["doc_id"], r["bench_id"]): r["cos"]
        for r in semantic_contamination_matches(
            corpus, bench, threshold=0.9
        ).collect()
    }
    assert m[(0, 100)] == 1.0
    want = round(0.9 / float(np.sqrt(0.81 + 0.01)), 4)
    assert m[(1, 100)] == want
    assert set(m) == {(0, 100), (1, 100)}

    rep = {
        r["doc_id"]: (r["n_bench_hits"], r["max_cos"])
        for r in semantic_contamination_report(
            corpus, bench, threshold=0.9
        ).collect()
    }
    assert rep == {0: (1, 1.0), 1: (1, want)}

    kept = sorted(
        r["doc_id"]
        for r in semantic_decontaminate(corpus, bench, threshold=0.5).collect()
    )
    assert kept == [2]  # doc 3 sits exactly AT 0.5 — inclusive threshold

    # guard rails: colliding internal names and id==bench_id raise loudly
    import pyspark.sql.functions as F
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        semantic_contamination_matches(
            corpus.withColumn("cos", F.lit(1.0)), bench
        )
    with _pytest.raises(ValueError, match="differ"):
        semantic_contamination_matches(
            corpus, bench.withColumnRenamed("bench_id", "doc_id"),
            bench_id_col="doc_id",
        )
    with _pytest.raises(ValueError, match="internal names"):
        semantic_contamination_matches(corpus, bench, id_col="cos")


def test_semantic_decontaminate_broadcast_plan(spark):
    """The benchmark side must reach the score join as a BROADCAST nested
    loop — the corpus side must never shuffle to form pairs."""
    from taco_toolbox_spark.dedup.decontaminate import (
        semantic_contamination_matches,
    )

    corpus = spark.range(0, 50).selectExpr(
        "id AS doc_id",
        "array(cast(id AS double), 1.0d, 2.0d) AS embedding",
    )
    bench = spark.createDataFrame(
        [(0, [1.0, 1.0, 2.0])], "bench_id long, embedding array<double>"
    )
    plan = (
        semantic_contamination_matches(corpus, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan.split("BroadcastExchange")[0]
